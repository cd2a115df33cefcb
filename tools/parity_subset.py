"""Oracle-parity check for a subset of queries at one or more SFs —
the per-change gate of the optimization rounds: every touched query
must stay hash-identical to its DuckDB oracle before a change is
committed.

Usage: PYTHONPATH=. python tools/parity_subset.py <q1,q2,...> [sf_dir ...]
Defaults to sf0.001 + sf0.01 when no sf_dir is given.
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    names = [n.strip() for n in sys.argv[1].split(",") if n.strip()]
    sf_dirs = sys.argv[2:] or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    from protarrow_spark.queries import all_oracles, all_queries
    from protarrow_spark.session import get_spark
    from tests.oracle_utils import assert_matches_oracle

    spark = get_spark("parity-subset")
    queries, oracles = all_queries(), all_oracles()
    n_red = 0
    for sf_dir in sf_dirs:
        for name in names:
            try:
                if name in oracles:
                    assert_matches_oracle(spark, name, sf_dir)
                    print(f"GREEN {sf_dir.rsplit('/', 1)[-1]} {name}")
                else:
                    rows = int(queries[name](spark, sf_dir).count())
                    print(f"ROWS-ONLY {sf_dir.rsplit('/', 1)[-1]} {name}: {rows}")
            except Exception as exc:  # noqa: BLE001 — report all, then exit red
                n_red += 1
                print(f"RED   {sf_dir.rsplit('/', 1)[-1]} {name}: {type(exc).__name__}: {exc}")
    sys.exit(1 if n_red else 0)


if __name__ == "__main__":
    main()
