"""``spark_mix``: one Spark session, two groups of operations per pass.

First the registered queries of ``querymix`` (DataFrame building,
Catalyst planning, lazy execution), then the conversion operations of
``ingest`` (the codec behind the ``mapInPandas`` boundary, the cast,
the driver-side message round trip, and last the keyed sink that fails
on every run). One session for both keeps a run's JVM start, and the
first-pass costs the two groups share, to one of each, so a run can
measure twice as long within the same time.
"""

from __future__ import annotations

import ingest
import querymix

EXPECTED_FAILURES = ingest.EXPECTED_FAILURES
#: The operations ``query_geomean_s`` is taken over.
QUERIES = querymix.QUERIES


def setup(ctx: dict) -> list:
    return querymix.setup(ctx) + ingest.setup(ctx)


def check(ctx: dict, res: dict) -> list[str]:
    queries = {k: v for k, v in res.items() if k in querymix.QUERIES}
    return querymix.check(ctx, queries) + ingest.check(ctx, res)


def check_repeat(ctx: dict, res: dict) -> list[str]:
    queries = {k: v for k, v in res.items() if k in querymix.QUERIES}
    return querymix.check_repeat(ctx, queries) + ingest.check_repeat(ctx, res)


def layer_metrics(ctx: dict, tracer, passes: list[int]) -> dict:
    return {
        **querymix.layer_metrics(ctx, tracer, passes),
        **ingest.layer_metrics(ctx, tracer, passes),
    }
