"""The registered queries of ``spark_mix``, each checked against its
DuckDB oracle.

The tables are the star schema at the sf0.001 row counts (6,000
lineitems, 1,000 events, 500 documents and embeddings), generated
from the seed. Each query is one operation with three timed steps:
building the DataFrame (``queries.<q>.build``, where eager barrier
jobs run), Catalyst planning (``queries.<q>.plan``, forcing
``queryExecution().executedPlan()``) and lazy execution
(``queries.<q>.exec``, a ``toPandas``).
"""

from __future__ import annotations

import os

from tests.oracle_utils import canonical_rows

import gen
from oracle import oracle_problems
from passes import Op
from spans import per_pass, warm_median

#: Eager-barrier builders first, then lazy relational/shuffle queries,
#: one conversion query and one stream query.
QUERIES = (
    "graph_bfs_hops",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "conv_roundtrip_events",
    "stream_window_counts",
)


def setup(ctx: dict) -> list[Op]:
    from protarrow_spark.queries import all_queries

    spark, tracer = ctx["spark"], ctx["tracer"]
    sf_dir = os.path.join(ctx["work"], "sf")
    tables = gen.star_tables(ctx["seed"])
    gen.write_tables(tables, sf_dir)
    ctx["sf_dir"] = sf_dir
    registry = all_queries()

    def run(name):
        qfn = registry[name]

        def fn():
            with tracer.span(f"queries.{name}"):
                with tracer.span(f"queries.{name}.build"):
                    df = qfn(spark, sf_dir)
                with tracer.span(f"queries.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"queries.{name}.exec"):
                    return df.toPandas()

        return fn

    return [Op(q, run(q)) for q in QUERIES]


def check(ctx: dict, res: dict) -> list[str]:
    from protarrow_spark.queries import all_oracles

    oracles = all_oracles()
    got = {q: r for q, (_, r, e) in res.items() if e is None}
    ctx["canonical"] = {q: canonical_rows(df) for q, df in got.items()}
    return oracle_problems(got, {q: oracles[q] for q in got}, ctx["sf_dir"],
                           os.path.join(ctx["work"], "duckdb"))


def check_repeat(ctx: dict, res: dict) -> list[str]:
    """Every warm pass must return the cold pass's rows again."""
    return [
        f"{q}: warm pass rows differ from the cold pass"
        for q, (_, df, err) in res.items()
        if err is None and q in ctx["canonical"] and canonical_rows(df) != ctx["canonical"][q]
    ]


def layer_metrics(ctx: dict, tracer, passes: list[int]) -> dict:
    """Per-layer metrics over the warm passes ``passes``."""
    t, jobs, tasks = per_pass(tracer), per_pass(tracer, "n_jobs"), per_pass(tracer, "tasks")
    m = {}
    for q in QUERIES:
        for step in ("build", "plan", "exec"):
            m[f"queries.{q}.{step}_s"] = warm_median(t, f"queries.{q}.{step}", passes)
        m[f"queries.{q}.build_jobs"] = warm_median(jobs, f"queries.{q}.build", passes)
        m[f"queries.{q}.exec_tasks"] = warm_median(tasks, f"queries.{q}.exec", passes)
    for total in ("build_s", "plan_s", "exec_s", "build_jobs", "exec_tasks"):
        m[f"queries.{total}"] = sum(m[f"queries.{q}.{total}"] for q in QUERIES)
    return m
