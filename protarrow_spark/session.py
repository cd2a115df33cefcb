"""SparkSession builder tuned for this engine.

Local testing runs ``local[N]``; the configuration is written for a
multi-executor cluster (AQE on, skew-join handling, Arrow transfers)
so the same code paths exercise the scale story described in
SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> tuple[str, bool]:
    """Driver heap size, and whether to pin -Xms to it.

    ``SPARK_GRAFT_DRIVER_MEM`` sets the heap and pins it. Without it
    the heap is half the host's physical memory, capped at 16g (a fixed
    16g heap cannot start on a host with 16 GiB or less), and is not
    pinned, so a light session does not commit half the host up front.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env, True
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "2g", False
    return f"{min(16 << 10, total // 2 >> 20)}m", False


def get_spark(app_name: str = "protarrow-spark", cpus: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    heap, pinned = _driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle parallelism sized to cores locally; AQE coalesces at runtime,
        # so on a real cluster this is a ceiling, not a hand-tuned constant.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet uses TIMESTAMP(NANOS); Spark reads it
        # as LongType nanos with this flag (converted in sources.tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local[N] runs everything in the driver JVM: N executor threads
        # x Arrow batch buffers + broadcast + cache all share this heap.
        # 8g showed GC-pressure variance (2-3x query-time swings late in
        # multi-query sessions); 16g of the box's 128 GiB removes it,
        # and smaller hosts get half their memory (_driver_mem).
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    if pinned:
        # An explicit heap is pinned (-Xms = -Xmx): G1 otherwise
        # uncommits after full GCs and every heavy query re-pays
        # multi-second heap re-expansion. Deriving Xms from the same env
        # var keeps Xms <= Xmx whatever the user sets.
        builder = builder.config("spark.driver.extraJavaOptions", f"-Xms{heap}")
    return builder.getOrCreate()
