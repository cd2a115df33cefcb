"""DuckDB oracle parity, by the rule of the project's correctness gate
(``tests/oracle_utils.py``): row count, column names and
order-insensitive canonical values must match between the Spark result
and the oracle SQL run by DuckDB over the same parquet files.
"""

from __future__ import annotations

import os

from protarrow_spark.sources.tables import TABLE_NAMES
from tests.oracle_utils import canonical_rows


def oracle_problems(results: dict, oracles: dict, sf_dir: str, tmp_dir: str) -> list[str]:
    """Compare each query's Spark result with its oracle. DuckDB gets
    two threads, 1 GB and a temp directory inside the run's scratch
    space, so an oracle cannot fill the host's memory or disk."""
    import duckdb

    os.makedirs(tmp_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB", "temp_directory": tmp_dir})
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    problems = []
    for name, got in results.items():
        exp = con.execute(oracles[name]).fetch_df()
        if sorted(got.columns) != sorted(exp.columns):
            problems.append(f"{name}: columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"{name}: {len(got)} rows vs oracle {len(exp)}")
        else:
            bad = sum(1 for g, e in zip(canonical_rows(got), canonical_rows(exp)) if g != e)
            if bad:
                problems.append(f"{name}: {bad} rows differ from the oracle")
    con.close()
    return problems
