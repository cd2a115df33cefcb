"""Conversion-layer CORRECTNESS queries.

These make the proto <-> DataFrame surface (the reference's entire
public API) visible to the driver's oracle gate:

* ``conv_roundtrip_events`` — distributed wire-format round-trip over
  the events fact table (encode on executors -> proto bytes -> decode
  on executors); oracle is the identity projection, so every byte of
  the codec + converters must be value-exact at scale.
* ``conv_cast_conform`` — ``cast_dataframe`` over a deliberately
  misshapen source (wrong types, wrong order, extra + missing
  columns); oracle applies the equivalent SQL casts/defaults.
* ``conv_encode_fixture`` — driver-side encode of a deterministic
  fixture corpus exercising the special semantics (absent-field
  defaults, optional presence, enum-as-string unknown fallback,
  uint64 boundaries, date sentinel, wrapper null-vs-default,
  timestamp µs); oracle is a VALUES literal.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion import cast_dataframe, messages_to_dataframe
from protarrow_spark.conversion.distributed import proto_roundtrip
from protarrow_spark.proto.fixtures import COLOR
from protarrow_spark.proto.message import Message
from protarrow_spark.proto.model import (
    BOOL_VALUE,
    DATE,
    DOUBLE_VALUE,
    DURATION,
    INT64_VALUE,
    STRING_VALUE,
    TIME_OF_DAY,
    TIMESTAMP,
    Field,
    Kind,
    MessageType,
    map_field,
)
from protarrow_spark.queries.registry import query
from protarrow_spark.sources.tables import table

# ---------------------------------------------------------------------------
# conv_roundtrip_events
# ---------------------------------------------------------------------------

EVENT_MT = MessageType(
    "protarrow_spark.events.Event",
    (
        Field("event_id", 1, Kind.INT64),
        Field("user_id", 2, Kind.INT64),
        Field("event_type", 3, Kind.STRING),
        Field("value", 4, Kind.DOUBLE),
        Field("ts", 5, Kind.MESSAGE, message=TIMESTAMP),
    ),
)


@query(
    "conv_roundtrip_events",
    oracle="""
SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
FROM events
""",
)
def conv_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed conversion round-trip on a fact table: typed
    columns -> proto wire bytes -> typed columns, all on executors.

    Scale: two zero-shuffle mapInArrow stages (converters compiled
    once per partition, Arrow-batched); the oracle's identity
    projection means any codec/converter bit-error fails the hash.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    # The local testdata file is a single parquet row group -> one scan
    # task, which would serialize the Python codec. One round-robin
    # pass parallelizes it; at real scale the source has thousands of
    # splits, the condition is false, and the plan stays zero-shuffle.
    # (inputFiles() is a file listing — cheap — where rdd.getNumPartitions()
    # would force a full plan-to-RDD conversion costing seconds.)
    cores = spark.sparkContext.defaultParallelism
    if len(ev.inputFiles()) < cores:
        ev = ev.repartition(cores)
    out = proto_roundtrip(ev, EVENT_MT, ProtarrowSparkConfig())
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )


# ---------------------------------------------------------------------------
# conv_descset_roundtrip — contract loaded from the protoc artifact
# ---------------------------------------------------------------------------


@query(
    "conv_descset_roundtrip",
    oracle="""
SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
FROM events
""",
)
def conv_descset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conv_roundtrip_events pipeline run through a contract that
    took the FULL interchange detour: the Event model is serialized to
    a binary FileDescriptorSet (the protoc --descriptor_set_out
    artifact) and REBUILT from those bytes with the engine's own wire
    codec (proto/descriptor_set.py) before a single row is converted —
    proving a cluster where only the descriptor file ships (no
    compiled classes, no protobuf runtime) runs the identical
    conversion plan bit-for-bit. Same oracle, same zero-shuffle
    two-stage mapInArrow topology as conv_roundtrip_events."""
    from protarrow_spark.proto.descriptor_set import (
        read_descriptor_set,
        write_descriptor_set,
    )

    rebuilt = read_descriptor_set(write_descriptor_set([EVENT_MT]))[0][
        EVENT_MT.full_name
    ]
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    cores = spark.sparkContext.defaultParallelism
    if len(ev.inputFiles()) < cores:
        ev = ev.repartition(cores)
    out = proto_roundtrip(ev, rebuilt, ProtarrowSparkConfig())
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )


# ---------------------------------------------------------------------------
# conv_roundtrip_repeated — repeated/packed fields through the codec
# ---------------------------------------------------------------------------

USER_EVENTS_MT = MessageType(
    "protarrow_spark.events.UserEvents",
    (
        Field("user_id", 1, Kind.INT64),
        Field("ids", 2, Kind.INT64, repeated=True),
        Field("vals", 3, Kind.DOUBLE, repeated=True),
        Field("types", 4, Kind.STRING, repeated=True),
    ),
)


@query(
    "conv_roundtrip_repeated",
    oracle="""
WITH agg AS (
  SELECT user_id,
         CAST(SUM(event_id) AS BIGINT) AS id_sum,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(length(event_type)) AS BIGINT) AS type_chars
  FROM events GROUP BY user_id
),
vals AS (
  SELECT user_id, value AS val,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value) - 1
              AS BIGINT) AS pos
  FROM events
)
SELECT v.user_id, a.id_sum, a.n_types, a.type_chars, v.pos, v.val
FROM vals v JOIN agg a USING (user_id)
""",
)
def conv_roundtrip_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wire round-trip of a message with REPEATED fields —
    packed int64 + packed double + expanded string per the proto3 wire
    rules (reference: repeated/packed handling in
    ``proto_to_arrow.py:456-491`` via offsets + flattened values).

    Events collapse to one message per user holding sorted arrays of
    ids/values/types; the encode half takes the vectorized repeated
    path (conversion/vectorized.py ``_prepare_repeated``: packed
    numeric bodies, string items as one payload buffer), the decode
    half the record loop (conversion/vectorized_decode.py: per-row
    element runs from the sorted record log, one packed-body batch per
    field).
    The readout re-expands the arrays: exact integer aggregates of the
    decoded int/string arrays per user plus every decoded double
    re-exploded positionally, so a single wrong byte in any packed
    body, length prefix, or item payload fails the value hash.

    Scale: one groupBy shuffle to form the arrays, then two
    zero-shuffle mapInArrow stages; sorted arrays make the collect
    deterministic, and value-ties in the positional explode emit the
    same tuple multiset either way.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    grp = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("event_id")).alias("ids"),
        F.array_sort(F.collect_list("value")).alias("vals"),
        F.array_sort(F.collect_list("event_type")).alias("types"),
    )
    rt = proto_roundtrip(grp, USER_EVENTS_MT, ProtarrowSparkConfig())
    out = rt.select(
        "user_id",
        F.aggregate(
            "ids", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("id_sum"),
        F.size("types").cast("long").alias("n_types"),
        F.aggregate(
            "types",
            F.lit(0).cast("long"),
            lambda a, x: a + F.length(x).cast("long"),
        ).alias("type_chars"),
        F.posexplode("vals").alias("pos", "val"),
    )
    return out.withColumn("pos", F.col("pos").cast("long"))


# ---------------------------------------------------------------------------
# conv_roundtrip_map — map<k,v> fields through the codec
# ---------------------------------------------------------------------------

USER_TYPE_STATS_MT = MessageType(
    "protarrow_spark.events.UserTypeStats",
    (
        Field("user_id", 1, Kind.INT64),
        map_field("type_counts", 2, Kind.STRING, Kind.INT64),
        map_field("type_micros", 3, Kind.STRING, Kind.INT64),
    ),
)


@query(
    "conv_roundtrip_map",
    oracle="""
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(CAST(CAST(value AS DECIMAL(27,6)) * 1000000 AS BIGINT))
            AS BIGINT) AS micros
FROM events GROUP BY user_id, event_type
""",
)
def conv_roundtrip_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wire round-trip of a message with MAP fields
    (map<string,int64> x2): per-user per-type counts and exact
    fixed-point value sums ride as map entries — the proto3 synthetic
    entry message (key=1/value=2) with default-valued sides omitted
    from entry bodies, exactly protoc's layout.

    Both codec halves take the vectorized map paths
    (conversion/vectorized.py ``_prepare_map``; in
    conversion/vectorized_decode.py the entries run through the same
    record loop, one unit per entry). The readout
    re-explodes the decoded maps to (user, type, count, micros) rows,
    so a wrong entry frame, omitted-default mishandling, or key/value
    mix-up fails the value hash.

    Scale: one groupBy to build the per-user maps, then two
    zero-shuffle mapInArrow stages; map iteration order never reaches
    the result (the explode emits an order-free multiset)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(27,6)") * 1000000)
        .cast("long")
        .alias("micros"),
    )
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("micros").alias("micros")
    )
    grp = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("type_counts"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "micros"))
        ).alias("type_micros"),
    )
    rt = proto_roundtrip(grp, USER_TYPE_STATS_MT, ProtarrowSparkConfig())
    out = rt.select(
        "user_id",
        "type_micros",
        F.explode("type_counts").alias("event_type", "cnt"),
    )
    return out.select(
        "user_id",
        "event_type",
        "cnt",
        F.element_at("type_micros", F.col("event_type")).alias("micros"),
    )


# ---------------------------------------------------------------------------
# conv_oneof_roundtrip
# ---------------------------------------------------------------------------

ONEOF_EVENT_MT = MessageType(
    "protarrow_spark.events.OneofEvent",
    (
        Field("event_id", 1, Kind.INT64),
        Field("as_text", 2, Kind.STRING, oneof="payload"),
        Field("as_number", 3, Kind.INT64, oneof="payload"),
        Field("as_ts", 4, Kind.MESSAGE, message=TIMESTAMP, oneof="payload"),
    ),
)


@query(
    "conv_oneof_roundtrip",
    oracle="""
SELECT event_id,
       CASE WHEN event_id % 3 = 0 THEN 'as_text'
            WHEN event_id % 3 = 1 THEN 'as_number'
            ELSE 'as_ts' END AS which,
       CASE WHEN event_id % 3 = 0 THEN event_type END AS as_text,
       CASE WHEN event_id % 3 = 1 THEN user_id END AS as_number,
       CASE WHEN event_id % 3 = 2 THEN epoch_us(ts) END AS as_ts_us
FROM events
""",
)
def conv_oneof_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wire round-trip of a message with a REAL oneof
    group (string / int64 / Timestamp members): each event routes its
    payload into exactly one member (event_id mod 3), encodes to wire
    bytes and parses back on executors. Oneof members are presence
    (nullable) columns; the "at most one set" invariant means the two
    unchosen members come back null — which the oracle's CASE columns
    pin value-exactly, and the serialized form carries only the one
    set member's tag.

    Scale: same zero-shuffle fused mapInArrow hop as
    ``conv_roundtrip_events``.
    """
    mod = F.col("event_id") % 3
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.when(mod == 0, F.col("event_type")).alias("as_text"),
        F.when(mod == 1, F.col("user_id")).alias("as_number"),
        F.when(mod == 2, F.col("ts").cast("timestamp")).alias("as_ts"),
    )
    cores = spark.sparkContext.defaultParallelism
    if len(ev.inputFiles()) < cores:
        ev = ev.repartition(cores)
    out = proto_roundtrip(ev, ONEOF_EVENT_MT, ProtarrowSparkConfig())
    return out.select(
        "event_id",
        F.when(F.col("as_text").isNotNull(), F.lit("as_text"))
        .when(F.col("as_number").isNotNull(), F.lit("as_number"))
        .otherwise(F.lit("as_ts"))
        .alias("which"),
        "as_text",
        "as_number",
        F.unix_micros("as_ts").alias("as_ts_us"),
    )


# ---------------------------------------------------------------------------
# conv_cast_conform
# ---------------------------------------------------------------------------

PART_MT = MessageType(
    "protarrow_spark.parts.Part",
    (
        Field("p_partkey", 1, Kind.INT64),
        Field("p_name", 2, Kind.STRING),
        Field("p_brand", 3, Kind.STRING),
        Field("p_type", 4, Kind.STRING),
        Field("p_size", 5, Kind.INT32),
        Field("p_retailprice", 6, Kind.DOUBLE),
        Field("p_mfgr", 7, Kind.STRING, optional=True),
    ),
)


@query(
    "conv_cast_conform",
    oracle="""
SELECT p_partkey,
       p_name,
       '' AS p_brand,
       '' AS p_type,
       p_size,
       p_retailprice,
       CAST(NULL AS VARCHAR) AS p_mfgr
FROM part
""",
)
def conv_cast_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema conformance over a misshapen source: columns arrive in
    the wrong order and wrong types (int key, stringly-typed numerics)
    plus an unknown extra column; p_brand/p_type are missing (plain ->
    default '') and p_mfgr is missing (presence -> null).

    Scale: pure Catalyst projection — zero shuffle, casts in
    whole-stage codegen, scan pruning unaffected.
    """
    src = table(spark, sf_dir, "part").select(
        F.col("p_retailprice").cast("string").alias("p_retailprice"),
        F.col("p_partkey").cast("int").alias("p_partkey"),
        F.lit("junk").alias("extra"),
        F.col("p_size").cast("string").alias("p_size"),
        "p_name",
    )
    return cast_dataframe(src, PART_MT, ProtarrowSparkConfig())


# ---------------------------------------------------------------------------
# conv_encode_fixture
# ---------------------------------------------------------------------------

FIX_MT = MessageType(
    "protarrow_spark.fixture.Fixture",
    (
        Field("id", 1, Kind.INT64),
        Field("plain_int", 2, Kind.INT32),
        Field("opt_int", 3, Kind.INT32, optional=True),
        Field("name", 4, Kind.STRING),
        Field("ratio", 5, Kind.DOUBLE),
        Field("big", 6, Kind.UINT64),
        Field("color", 7, Kind.ENUM, enum=COLOR),
        Field("wrapped_s", 8, Kind.MESSAGE, message=STRING_VALUE),
        Field("d", 9, Kind.MESSAGE, message=DATE),
        Field("ts", 10, Kind.MESSAGE, message=TIMESTAMP),
    ),
)


def _fixture_messages() -> list[Message]:
    return [
        # fully populated
        Message(
            FIX_MT,
            id=1,
            plain_int=42,
            opt_int=7,
            name="alpha",
            ratio=2.5,
            big=(1 << 64) - 1,
            color=2,
            wrapped_s=Message(STRING_VALUE, value="w"),
            d=Message(DATE, year=2024, month=2, day=29),
            ts=Message(TIMESTAMP, seconds=1_700_000_000, nanos=123_456_000),
        ),
        # everything absent: plain defaults vs presence nulls
        Message(FIX_MT, id=2),
        # explicit defaults on presence fields are NOT null
        Message(
            FIX_MT,
            id=3,
            opt_int=0,
            wrapped_s=Message(STRING_VALUE, value=""),
            d=Message(DATE),  # unset date -> sentinel
            big=1 << 63,
        ),
        # unknown enum number renders as first declared value
        Message(FIX_MT, id=4, color=99, name="", ratio=-0.5),
    ]


@query(
    "conv_encode_fixture",
    oracle="""
SELECT *
FROM (VALUES
  (CAST(1 AS BIGINT), CAST(42 AS INT), CAST(7 AS INT), 'alpha',
   CAST(2.5 AS DOUBLE), '18446744073709551615', 'GREEN', 'w',
   '2024-02-29', CAST(1700000000123456 AS BIGINT)),
  (CAST(2 AS BIGINT), CAST(0 AS INT), CAST(NULL AS INT), '',
   CAST(0.0 AS DOUBLE), '0', 'COLOR_UNSPECIFIED', CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)),
  (CAST(3 AS BIGINT), CAST(0 AS INT), CAST(0 AS INT), '',
   CAST(0.0 AS DOUBLE), '9223372036854775808', 'COLOR_UNSPECIFIED', '',
   '0001-01-01', CAST(NULL AS BIGINT)),
  (CAST(4 AS BIGINT), CAST(0 AS INT), CAST(NULL AS INT), '',
   CAST(-0.5 AS DOUBLE), '0', 'COLOR_UNSPECIFIED', CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT))
) AS t(id, plain_int, opt_int, name, ratio, big, color, wrapped_s, d, ts_us)
""",
)
def conv_encode_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side encode of a deterministic corpus pinning the special
    semantics: absent plain scalars -> proto defaults, absent presence
    fields -> null, explicit wrapper/optional defaults -> non-null,
    uint64 boundary values under the decimal policy, date sentinel,
    enum-as-string unknown-number fallback, timestamp ns->µs floor.

    (Encode is driver-side by definition — the input is a Python
    iterable; the distributed encode path is covered by
    ``conv_roundtrip_events``.)
    """
    cfg = ProtarrowSparkConfig(enum_type="string")
    df = messages_to_dataframe(spark, _fixture_messages(), FIX_MT, cfg)
    return df.select(
        "id",
        "plain_int",
        "opt_int",
        "name",
        "ratio",
        F.col("big").cast("string").alias("big"),
        "color",
        "wrapped_s",
        F.col("d").cast("string").alias("d"),
        F.unix_micros("ts").alias("ts_us"),
    )


# ---------------------------------------------------------------------------
# conv_decode_corrupt_tolerance — PERMISSIVE wire decode (dead-letter path)
# ---------------------------------------------------------------------------

#: Every 7th event's wire bytes are replaced with 11 0xff bytes — an
#: unterminated varint, invalid at the very first field tag, so the
#: corruption is unambiguous on any parser.
CORRUPT_MOD = 7
#: Every 11th event (when not already varint-smashed) gets a SECOND
#: corruption class: a length-delimited field whose declared length
#: (127) overruns the buffer — X'327F' appended to otherwise-valid
#: bytes (tag 0x32 = field 6 wire-type LEN, unknown to EVENT_MT).
#: This exercises the _check_bounds truncation path (strict mode:
#: uniform ValueError('truncated message'); permissive: null row) in
#: the skip handler, mirroring tests/test_message.py's unit pins with
#: oracle-backed value evidence at the distributed layer.
TRUNC_MOD = 11
_CORRUPT_SQL = f"(event_id % {CORRUPT_MOD} = 0 OR event_id % {TRUNC_MOD} = 0)"


@query(
    "conv_decode_corrupt_tolerance",
    oracle=f"""
SELECT CASE WHEN {_CORRUPT_SQL} THEN NULL ELSE event_type END
         AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN {_CORRUPT_SQL} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrupt,
       CAST(SUM(CASE WHEN {_CORRUPT_SQL} THEN NULL
                     ELSE CAST(value AS DECIMAL(27,6)) END) AS DOUBLE)
         AS total_value
FROM events
GROUP BY 1
""",
)
def conv_decode_corrupt_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE wire decode: events are encoded to proto bytes on
    executors, then corrupted in two distinct classes — every
    {CORRUPT_MOD}th record's bytes are smashed (an unterminated
    varint, dies at the first tag) and every {TRUNC_MOD}th gets a
    truncated length-delimited field appended (declared length 127,
    zero bytes present — the ``_check_bounds`` path added in r7) —
    and ``decode_proto_bytes(on_error=
    "null")`` must turn exactly those records into all-null rows while
    decoding every healthy byte exactly — the one-bad-Kafka-record-
    cannot-kill-the-job contract a 100 TB ingest requires, with the
    passthrough key identifying the dead letters. The oracle
    recomputes the survivor aggregates and the corrupt counts from the
    source, so a decoder that drops, misattributes, or partially
    parses a corrupt record hash-fails.

    Scale: the same two zero-shuffle Arrow-batched codec hops as
    conv_roundtrip_events plus one small-group aggregate."""
    from protarrow_spark.conversion.distributed import (
        decode_proto_bytes,
        encode_proto_bytes,
    )

    ev = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("src_id"),
        "event_id",
        "user_id",
        "event_type",
        "value",
        "ts",
    )
    cores = spark.sparkContext.defaultParallelism
    if len(ev.inputFiles()) < cores:
        ev = ev.repartition(cores)
    wire = encode_proto_bytes(
        ev, EVENT_MT, ProtarrowSparkConfig(), keep_cols=["src_id"]
    )
    corrupted = wire.withColumn(
        "proto",
        F.when(
            F.col("src_id") % CORRUPT_MOD == 0, F.lit(b"\xff" * 11)
        )
        .when(
            # truncation class: valid prefix + LEN field declaring 127
            # bytes with zero present — the _check_bounds path
            F.col("src_id") % TRUNC_MOD == 0,
            F.concat(F.col("proto"), F.lit(b"\x32\x7f")),
        )
        .otherwise(F.col("proto")),
    )
    typed = decode_proto_bytes(
        corrupted,
        "proto",
        EVENT_MT,
        ProtarrowSparkConfig(),
        keep_cols=["src_id"],
        on_error="null",
    )
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_corrupt"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("double")
        .alias("total_value"),
    )


# ---------------------------------------------------------------------------
# conv_encode_error_tolerance — PERMISSIVE wire ENCODE (dead-letter path,
# the symmetric half of conv_decode_corrupt_tolerance)
# ---------------------------------------------------------------------------

#: Every 7th event violates the export contract: its uint32 `code`
#: cell is pushed past 2^32-1, which the wire writer rejects (range
#: validation in the compiled writer of proto/message.py).
ENCODE_BAD_MOD = 7

#: The export contract: a uint32 field makes contract bounds real
#: (int64 Spark cells can exceed them; EVENT_MT's int64 fields can't).
EXPORT_MT = MessageType(
    "protarrow_spark.events.EventExport",
    (
        Field("event_id", 1, Kind.INT64),
        Field("code", 2, Kind.UINT32),
        Field("event_type", 3, Kind.STRING),
    ),
)


@query(
    "conv_encode_error_tolerance",
    oracle=f"""
SELECT CASE WHEN event_id % {ENCODE_BAD_MOD} = 0 THEN NULL ELSE event_type END
         AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_id % {ENCODE_BAD_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dead,
       CAST(SUM(CASE WHEN event_id % {ENCODE_BAD_MOD} = 0 THEN NULL
                     ELSE event_id % 1000 END) AS BIGINT) AS sum_code
FROM events
GROUP BY 1
""",
)
def conv_encode_error_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE wire ENCODE: events export through a contract with a
    uint32 field; every {ENCODE_BAD_MOD}th row's cell is pushed out of
    uint32 range, and ``encode_proto_bytes(on_error="null")`` must
    null exactly those rows' bytes (keep_cols intact — the dead-letter
    key) while encoding every healthy row exactly. The encoded
    survivors then DECODE back (permissive decode passes the null
    through as an all-null row), and the aggregate pins both halves:
    n_dead counts the contract violations per group, sum_code proves
    the survivors' bytes decode to the exact source values. Without
    the wire writer's range validation the bad rows would silently
    produce over-wide varints that decode to DIFFERENT numbers — the
    hash would catch it; with strict mode they'd kill the export task.

    Scale: two zero-shuffle Arrow-batched codec hops plus one
    small-group aggregate — identical topology to the decode half."""
    from protarrow_spark.conversion.distributed import (
        decode_proto_bytes,
        encode_proto_bytes,
    )

    ev = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("src_id"),
        "event_id",
        F.when(
            F.col("event_id") % ENCODE_BAD_MOD == 0,
            F.col("event_id") + F.lit(4294967296),
        )
        .otherwise(F.col("event_id") % 1000)
        .alias("code"),
        "event_type",
    )
    cores = spark.sparkContext.defaultParallelism
    if len(ev.inputFiles()) < cores:
        ev = ev.repartition(cores)
    wire = encode_proto_bytes(
        ev, EXPORT_MT, ProtarrowSparkConfig(), keep_cols=["src_id"],
        on_error="null",
    )
    typed = decode_proto_bytes(
        wire, "proto", EXPORT_MT, ProtarrowSparkConfig(),
        keep_cols=["src_id"], on_error="null",
    )
    return typed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dead"),
        F.sum("code").cast("long").alias("sum_code"),
    )


# ---------------------------------------------------------------------------
# conv_roundtrip_wkt — well-known types through the codec (r10)
# ---------------------------------------------------------------------------

WKT_EVENT_MT = MessageType(
    "protarrow_spark.events.WktEvent",
    (
        Field("event_id", 1, Kind.INT64),
        Field("dur_ns", 2, Kind.MESSAGE, message=DURATION),
        Field("day", 3, Kind.MESSAGE, message=DATE),
        Field("tod_ns", 4, Kind.MESSAGE, message=TIME_OF_DAY),
        Field("val", 5, Kind.MESSAGE, message=DOUBLE_VALUE),
        Field("uid", 6, Kind.MESSAGE, message=INT64_VALUE),
        Field("label", 7, Kind.MESSAGE, message=STRING_VALUE),
        Field("flag", 8, Kind.MESSAGE, message=BOOL_VALUE),
    ),
)


@query(
    "conv_roundtrip_wkt",
    oracle="""
SELECT event_id,
       (epoch_us(ts) % 1000000000 - 500000000) * 1000 AS dur_ns,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       (epoch_us(ts) % 86400000000) * 1000 AS tod_ns,
       CASE WHEN event_id % 7 = 0 THEN NULL
            WHEN event_id % 11 = 0 THEN 0.0
            ELSE value END AS val,
       CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id END AS uid,
       CASE WHEN event_id % 13 = 0 THEN ''
            WHEN event_id % 3 = 0 THEN NULL
            ELSE event_type END AS label,
       value > 0 AS flag
FROM events
""",
)
def conv_roundtrip_wkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wire round-trip of a message built from WELL-KNOWN
    TYPES: google.protobuf.Duration (negative values exercise the
    shared-sign normalization), google.type.Date, google.type.TimeOfDay
    (nanos-of-day), and the Double/Int64/String/Bool wrapper messages —
    including null-vs-present-default wrapper rows (a present 0.0 / ""
    emits tag + len 0 on the wire, an absent field emits nothing; the
    presence distinction wrappers exist for).

    Both codec halves take the r10 vectorized WKT paths
    (conversion/vectorized.py ``_prepare_wkt`` + ``_wkt_sub_columns``,
    conversion/vectorized_decode.py ``_wkt_values``; reference wrapper
    converters: ``arrow_to_proto.py:165-175``). Duration rides the
    ``long_nanos`` config so both engines compare exact BIGINTs.

    Scale: two zero-shuffle mapInArrow stages over the
    fact table — identical topology to conv_roundtrip_events.
    """
    from protarrow_spark.functions.time import epoch_micros

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        ((epoch_micros("ts") % 1_000_000_000 - 500_000_000) * 1_000).alias(
            "dur_ns"
        ),
        F.to_date("ts").alias("day"),
        ((epoch_micros("ts") % 86_400_000_000) * 1_000).alias("tod_ns"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None))
        .when(F.col("event_id") % 11 == 0, F.lit(0.0))
        .otherwise(F.col("value"))
        .alias("val"),
        F.when(F.col("event_id") % 5 == 0, F.lit(None))
        .otherwise(F.col("user_id"))
        .alias("uid"),
        F.when(F.col("event_id") % 13 == 0, F.lit(""))
        .when(F.col("event_id") % 3 == 0, F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("label"),
        (F.col("value") > 0).alias("flag"),
    )
    cores = spark.sparkContext.defaultParallelism
    if len(ev.inputFiles()) < cores:
        ev = ev.repartition(cores)
    cfg = ProtarrowSparkConfig(duration_type="long_nanos")
    out = proto_roundtrip(ev, WKT_EVENT_MT, cfg)
    return out.select(
        "event_id",
        "dur_ns",
        # decoded google.type.Date -> DateType; rendered as a string
        # because pandas fetches DuckDB DATE as datetime64 (midnight
        # timestamps), which would repr-skew an otherwise equal value
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "tod_ns",
        "val",
        "uid",
        "label",
        "flag",
    )


# ---------------------------------------------------------------------------
# conv_roundtrip_nested_repeated — repeated messages + message maps (r10)
# ---------------------------------------------------------------------------

EVENT_ITEM_MT = MessageType(
    "protarrow_spark.events.EventItem",
    (
        Field("event_id", 1, Kind.INT64),
        Field("etype", 2, Kind.STRING),
        Field("micros", 3, Kind.INT64),
    ),
)
TYPE_STAT_MT = MessageType(
    "protarrow_spark.events.TypeStat",
    (
        Field("cnt", 1, Kind.INT64),
        Field("micros", 2, Kind.INT64),
    ),
)
USER_EVENT_LIST_MT = MessageType(
    "protarrow_spark.events.UserEventList",
    (
        Field("user_id", 1, Kind.INT64),
        Field("items", 2, Kind.MESSAGE, repeated=True, message=EVENT_ITEM_MT),
        map_field(
            "by_type", 3, Kind.STRING, Kind.MESSAGE, value_message=TYPE_STAT_MT
        ),
    ),
)


@query(
    "conv_roundtrip_nested_repeated",
    oracle="""
WITH base AS (
  SELECT user_id, event_id, event_type,
         CAST(CAST(value AS DECIMAL(27,6)) * 1000000 AS BIGINT) AS micros
  FROM events
),
agg AS (
  SELECT user_id, event_type,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(micros) AS BIGINT) AS tmicros
  FROM base GROUP BY user_id, event_type
),
it AS (
  SELECT user_id, event_id, event_type, micros,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY event_id, event_type, micros
         ) - 1 AS BIGINT) AS pos
  FROM base
)
SELECT it.user_id, it.pos, it.event_id, it.event_type AS etype, it.micros,
       a.cnt, a.tmicros
FROM it JOIN agg a
  ON it.user_id = a.user_id AND it.event_type = a.event_type
""",
)
def conv_roundtrip_nested_repeated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed wire round-trip of REPEATED MESSAGE items plus a
    MESSAGE-VALUED MAP: per user, the full event list rides as repeated
    ``EventItem`` submessages (one LEN frame per item, the reference's
    repeated-message walk ``arrow_to_proto.py:588-605``) and per-type
    stats ride as ``map<string, TypeStat>`` entries whose value side is
    itself a framed submessage (always emitted, even when all-default).

    Both codec halves take the r10 vectorized paths
    (``_prepare_repeated_msg`` / ``_msg_value_side_parts`` on encode,
    the item-slice batch decode on the other half). The readout
    re-explodes the decoded item structs positionally and joins each
    item to its decoded map entry, so a wrong item frame, item-order
    scramble, entry merge bug, or struct-field mix-up fails the hash.

    Scale: one groupBy shuffle to form the per-user messages, then two
    zero-shuffle mapInArrow stages.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(27,6)") * 1000000)
        .cast("long")
        .alias("micros"),
    )
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("micros").alias("micros")
    )
    grp = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("event_id", F.col("event_type").alias("etype"), "micros"))
        ).alias("items")
    ).join(
        per_type.groupBy("user_id").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct("event_type", F.struct("cnt", "micros"))
                )
            ).alias("by_type")
        ),
        "user_id",
    )
    rt = proto_roundtrip(grp, USER_EVENT_LIST_MT, ProtarrowSparkConfig())
    out = rt.select(
        "user_id",
        "by_type",
        F.posexplode("items").alias("pos", "item"),
    ).select(
        "user_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("item.event_id").alias("event_id"),
        F.col("item.etype").alias("etype"),
        F.col("item.micros").alias("micros"),
        F.element_at("by_type", F.col("item.etype")).alias("stat"),
    )
    return out.select(
        "user_id", "pos", "event_id", "etype", "micros",
        F.col("stat.cnt").alias("cnt"),
        F.col("stat.micros").alias("tmicros"),
    )
