"""Streaming decode + windowed aggregation.

The pipeline the reference documents as an ecosystem pattern
(``docs/faq.md:20-25``: consume proto from Kafka in micro-batches,
convert, aggregate) expressed natively in Structured Streaming:

    readStream (binary proto column)
      -> decode_proto_bytes            (same code path as batch!)
      -> withWatermark + window agg    (late data bounded)
      -> sink

``decode_proto_bytes`` is a narrow ``mapInArrow`` so it is streaming-
compatible unchanged — batch/stream parity of the conversion layer is
tested by running the same transform both ways and diffing
(``tests/test_streaming.py``).

The local source is a parquet directory of proto-bytes rows (written
by ``sinks.write_proto_bytes``); on a real cluster swap in
``readStream.format("kafka")`` and decode ``value``. Scale notes:
decode adds no shuffle; the stateful window agg shuffles on the
window key exactly like batch; the watermark bounds state size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.distributed import decode_proto_bytes
from protarrow_spark.proto.model import MessageType


def stream_from_proto_parquet(
    spark: SparkSession,
    path: str,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    bytes_col: str = "proto",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of decoded messages from a proto-bytes
    parquet directory (Kafka-value shape, durable local stand-in)."""
    reader = spark.readStream.schema(f"{bytes_col} binary")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(path)
    return decode_proto_bytes(raw, bytes_col, mtype, config)


def stream_wire_from_rate(
    spark: SparkSession,
    mtype: MessageType,
    build,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    rows_per_batch: int = 100,
) -> DataFrame:
    """Synthetic Kafka stand-in over the built-in rate source: each
    tick's monotonically increasing ``value`` becomes a message via
    ``build(value) -> Message``, SERIALIZES to wire bytes on the
    executor (the Kafka ``value: binary`` shape), and immediately
    decodes back through :func:`decode_proto_bytes` — so the full
    produce-side + consume-side wire codec runs inside a live
    Structured Streaming job with no broker. On a real cluster the
    first two stages are the producer and ``readStream.format(
    "kafka")`` replaces them (reference pattern ``docs/faq.md:20-25``).

    Deterministic: the rate-micro-batch source assigns values
    0,1,2,... so every micro-batch's content is reproducible — which
    is what lets a batch oracle pin the streamed output.

    Scale: serialization and decode are narrow Arrow-batched maps; no
    shuffle enters the plan until the caller aggregates.
    """
    import pandas as pd

    from protarrow_spark.proto.message import serialize

    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
        .select("value")
    )

    def to_wire(batches):
        for batch in batches:
            yield pd.DataFrame(
                {
                    "value": batch["value"],
                    "proto": [
                        serialize(build(int(v))) for v in batch["value"]
                    ],
                }
            )

    wire = raw.mapInPandas(to_wire, "value long, proto binary")
    return decode_proto_bytes(wire, "proto", mtype, config, keep_cols=["value"])


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) window counts
    per key with a watermark bound on late data. A sliding window
    assigns each event to ``duration/slide`` overlapping windows —
    Spark expands this JVM-side; state is bounded by the watermark.
    Works identically on batch and streaming frames (batch ignores
    the watermark — Spark semantics), which is exactly what the
    equivalence tests exploit."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = (
        F.window(F.col(ts_col), window_duration, slide)
        if slide
        else F.window(F.col(ts_col), window_duration)
    )
    return (
        df.groupBy(win.alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col(key_col),
            F.col("n_events"),
        )
    )


def run_to_memory(sdf: DataFrame, name: str, output_mode: str | None = None) -> None:
    """Drain an availableNow micro-batch run into an in-memory table
    (test/dev sink; production uses kafka/parquet sinks).

    Output mode defaults by plan shape: ``complete`` for aggregation
    plans (the memory sink then holds final results), ``append`` for
    stateless / dedup / join plans (the only mode they support)."""
    if output_mode is None:
        has_agg = "Aggregate" in sdf._jdf.queryExecution().logical().toString()
        output_mode = "complete" if has_agg else "append"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup(
    df: DataFrame,
    id_cols: list[str],
    ts_col: str,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming exact deduplication on ``id_cols``.

    Uses ``dropDuplicatesWithinWatermark`` so per-key state is
    EVICTED once the watermark passes — the only dedup that survives
    an unbounded stream (plain ``dropDuplicates`` state grows
    forever). Duplicates separated by more than the watermark are
    NOT collapsed — that's the documented contract: at 100 TB/day the
    state bound is the feature, and a periodic batch
    ``exact_duplicate_groups`` pass handles long-range dups.

    On a batch frame this degrades to plain ``dropDuplicates``
    (watermarks are streaming-only), which the equivalence tests
    exploit (all test dups arrive within the watermark).
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(id_cols)
    return df.dropDuplicates(id_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 minutes",
    max_delay: str = "1 minute",
) -> DataFrame:
    """Watermarked stream-stream inner join: right events within
    ``[left_ts, left_ts + max_delay]`` for the same key.

    Both sides carry watermarks and the join predicate bounds
    ``right_ts`` relative to ``left_ts``, so Spark can size and evict
    the dual-sided join state — the canonical bounded-state
    stream-stream join plan (StreamingSymmetricHashJoin). On batch
    frames the same predicate runs as a plain equi+range join,
    keeping batch/streaming equivalence testable.
    """
    lt, rt = F.col(f"l_{left_ts}"), F.col(f"r_{right_ts}")
    lhs = left.select(
        F.col(key_col), *[F.col(c).alias(f"l_{c}") for c in left.columns if c != key_col]
    )
    rhs = right.select(
        F.col(key_col), *[F.col(c).alias(f"r_{c}") for c in right.columns if c != key_col]
    )
    if left.isStreaming:
        lhs = lhs.withWatermark(f"l_{left_ts}", watermark)
    if right.isStreaming:
        rhs = rhs.withWatermark(f"r_{right_ts}", watermark)
    return lhs.join(
        rhs,
        [
            lhs[key_col] == rhs[key_col],
            rt >= lt,
            rt <= lt + F.expr(f"INTERVAL {max_delay}"),
        ],
    ).drop(rhs[key_col])
