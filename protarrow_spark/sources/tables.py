"""Parquet table sources for the driver's synthetic star schema.

The reference has no scans at all (inputs are in-memory messages,
``proto_to_arrow.py:690``); our engine's sources are Spark's native
readers so predicate pushdown / column pruning / partition pruning
come from Catalyst for free (SURVEY.md §2.2 'Scans / sources').
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Dimension tables small enough to FORCE-broadcast at any scale
#: factor: only the fixed-size ones. customer/supplier/part grow with
#: sf, so they get no hint — AQE broadcasts them from runtime stats
#: while small and shuffle-joins them at 100x scale.
BROADCAST_DIMS = {"region", "nation"}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table. Plain ``spark.read.parquet`` so all
    pushdown happens in the scan node.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark
    has no native type for (SURVEY.md §1.2 'hard parts': Spark is µs).
    We read nanos as LongType (``spark.sql.legacy.parquet.nanosAsLong``)
    and surface a µs TimestampType column — the same ns->µs policy the
    conversion layer applies to google.protobuf.Timestamp(ns).
    """
    # Memoize the LAZY DataFrame per (session, path, mtime): every
    # query construction re-reads its tables, and spark.read.parquet
    # costs a schema/footer read plus a dozen py4j round-trips each
    # time (r13 opt, guide §5 driver overhead — measured 0.1-0.5 s per
    # construction on this host's high-latency gateway). The cache
    # holds only the unexecuted plan object — no data, no results —
    # and the mtime key drops entries when a test rewrites the file.
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = None
    cache = getattr(spark, "_pt_table_cache", None)
    if cache is None:
        cache = {}
        spark._pt_table_cache = cache
    key = (path, mtime)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # Floor division in pure integer arithmetic (`div` truncates
            # toward zero, which would round pre-epoch nanos up by 1µs);
            # pmod keeps it exact for the full int64 range.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
            )
        cache[key] = df
    return df


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition IF the plan is under-parallel, else no-op.

    CPU-heavy per-row pipelines (shingling, hashing, vector math,
    wide decimal aggregation) inherit the scan's partitioning; a
    compact parquet file is one row group = ONE task, serializing the
    whole pipeline on a single core. At 100 TB a scan has thousands
    of row groups and this never fires — the repartition triggers
    only when its cost (reshuffling a small input) is trivial by
    construction.

    Parallelism probe: ``inputFiles()`` (a file listing — cheap)
    rather than ``rdd.getNumPartitions()`` (forces a full
    plan-to-RDD conversion costing seconds). Non-file-backed frames
    keep the RDD fallback.
    """
    sc = df.sparkSession.sparkContext
    target = min_parallelism or sc.defaultParallelism
    # Memoized per DataFrame object + target (r13 opt): with table()
    # frames cached per session, the same df is spread repeatedly —
    # inputFiles() is a py4j call + file listing per invocation.
    memo = getattr(df, "_pt_spread", None)
    if memo is not None and memo[0] == target:
        return memo[1]
    files = df.inputFiles()
    if files and len(files) >= target:
        out = df
    elif not files and df.rdd.getNumPartitions() >= target:
        out = df
    else:
        out = df.repartition(target)
    try:
        df._pt_spread = (target, out)
    except Exception:  # pragma: no cover — frozen DataFrame subclass
        pass
    return out


def materialize(df: DataFrame) -> DataFrame:
    """Eager lineage barrier: compute ``df`` now and return a frame
    whose plan starts at the stored result. Every barrier in the
    package goes through here.

    With a checkpoint dir on the SparkContext (a deployment path set
    by ``setCheckpointDir`` or ``spark.checkpoint.dir``) the result is
    written there and survives a lost executor. Without one it stays
    in executor storage (``localCheckpoint``): cheaper, and safe on
    local[N], but a block lost with its executor fails the job.
    """
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL entry points.

    Idempotent per (session, sf_dir), so repeated SQL-entry query
    constructions skip the 10 re-registrations (r13 opt); switching
    sf_dir re-registers everything."""
    if getattr(spark, "_pt_views_for", None) == sf_dir:
        return
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._pt_views_for = sf_dir
