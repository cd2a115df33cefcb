"""Encode: proto messages -> Spark rows / DataFrame.

Re-expresses the reference's columnar encode path
(``proto_to_arrow.py:619-687`` per-field walk, converters
``proto_to_arrow.py:386-453``) for Spark's row-based entry points.
Where the reference compiles per-field *array builders* once per
schema, we compile per-field *cell converters* once per message type
(the same "converter compilation" technique, SURVEY §4), then map
them over messages. The compiled converters read each message's
storage dict (``Message._values``) with every per-field property
(presence, default, kind) resolved at compile time, never the
attribute protocol.

Semantics preserved:

* absent non-optional scalars encode as proto defaults, never null
  (``proto_to_arrow.py:428-437``);
* presence fields (optional / message / wrapper) encode as null when
  unset (``proto_to_arrow.py:604-616``);
* enum-as-string renders unknown numbers as the first declared value
  (``proto_to_arrow.py:236-264``);
* ``google.type.Date`` with ``year == 0`` encodes as the engine's
  date sentinel (see :data:`DATE_SENTINEL`; the reference uses date32
  ``-719163`` (``common.py:9``) which predates ``datetime.date.min``,
  so this engine uses 0001-01-01 — one day later — and documents the
  collision with genuine year-1 dates);
* Timestamp/Duration nanos floor-truncate to µs under the default
  config (protobuf's own ``ToMicroseconds`` floor semantics), and are
  lossless under the ``long_nanos`` configs.
"""

from __future__ import annotations

import datetime
import decimal
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.proto.message import Message
from protarrow_spark.proto.model import (
    DATE,
    DURATION,
    EMPTY,
    TIME_OF_DAY,
    TIMESTAMP,
    WRAPPER_TYPES,
    Field,
    Kind,
    MessageType,
)
from protarrow_spark.schema import message_type_to_schema

#: encodes proto ``Date(year=0)`` (unset); reference uses date32
#: -719163 == ordinal 0, one day below ``datetime.date.min``.
DATE_SENTINEL = datetime.date(1, 1, 1)

_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_U64 = 1 << 64
_I64_MAX = (1 << 63) - 1

CellConverter = Callable[[Any], Any]


def _identity(v: Any) -> Any:
    return v


def _uint64_converter(config: ProtarrowSparkConfig) -> CellConverter:
    if config.uint64_type == "decimal":
        return lambda v: decimal.Decimal(v)
    return lambda v: v - _U64 if v > _I64_MAX else v  # reinterpret wrap


def _enum_converter(field: Field, config: ProtarrowSparkConfig) -> CellConverter:
    if config.enum_type == "int":
        return _identity
    by_number = field.enum.by_number
    fallback = field.enum.fallback_name
    return lambda v: by_number.get(v, fallback)


def _nanos_of(m: Message) -> int:
    """Timestamp or Duration -> total nanoseconds."""
    v = m._values
    return v.get("seconds", 0) * 1_000_000_000 + v.get("nanos", 0)


def _micros_of(m: Message) -> int:
    """Timestamp or Duration -> total microseconds, with protobuf's
    ``ToMicroseconds`` floor semantics."""
    v = m._values
    return v.get("seconds", 0) * 1_000_000 + v.get("nanos", 0) // 1_000


def _timestamp_converter(config: ProtarrowSparkConfig) -> CellConverter:
    if config.timestamp_type == "long_nanos":
        return _nanos_of
    return lambda m: _EPOCH + datetime.timedelta(microseconds=_micros_of(m))


def _duration_converter(config: ProtarrowSparkConfig) -> CellConverter:
    if config.duration_type == "long_nanos":
        return _nanos_of
    return lambda m: datetime.timedelta(microseconds=_micros_of(m))


def _date_converter(m: Message) -> datetime.date:
    v = m._values
    year = v.get("year", 0)
    if year == 0:
        return DATE_SENTINEL
    return datetime.date(year, v.get("month", 0), v.get("day", 0))


def _time_of_day_converter(m: Message) -> int:
    # nanos-of-day (reference `_time_of_day_to_nanos` semantics)
    v = m._values
    return (
        (v.get("hours", 0) * 60 + v.get("minutes", 0)) * 60 + v.get("seconds", 0)
    ) * 1_000_000_000 + v.get("nanos", 0)


def _wkt_converter(
    mtype: MessageType, config: ProtarrowSparkConfig
) -> CellConverter | None:
    """Converter for a well-known-type message value, or None if
    ``mtype`` is a plain message."""
    name = mtype.full_name
    if name == TIMESTAMP.full_name:
        return _timestamp_converter(config)
    if name == DURATION.full_name:
        return _duration_converter(config)
    if name == DATE.full_name:
        return _date_converter
    if name == TIME_OF_DAY.full_name:
        return _time_of_day_converter
    if name == EMPTY.full_name:
        return lambda m: ()
    if name in WRAPPER_TYPES:
        default = mtype.fields[0].default_value
        if WRAPPER_TYPES[name] is Kind.UINT64:
            inner = _uint64_converter(config)
            return lambda m: inner(m._values.get("value", default))
        return lambda m: m._values.get("value", default)
    return None


def _scalar_converter(field: Field, config: ProtarrowSparkConfig) -> CellConverter:
    """Converter for one occurrence of a non-message field value."""
    kind = field.kind
    if kind is Kind.ENUM:
        return _enum_converter(field, config)
    if kind in (Kind.UINT64, Kind.FIXED64):
        return _uint64_converter(config)
    if kind is Kind.BYTES:
        return lambda v: bytes(v)
    return _identity


def _value_converter(
    field: Field, config: ProtarrowSparkConfig, trace: tuple[str, ...]
) -> CellConverter:
    """Converter for one occurrence of the field's value (scalar,
    WKT, or nested message -> row tuple)."""
    if field.kind is Kind.MESSAGE:
        wkt = _wkt_converter(field.message, config)
        if wkt is not None:
            return wkt
        return row_builder(field.message, config, _trace=trace)
    return _scalar_converter(field, config)


def row_builder(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    _trace: tuple[str, ...] = (),
) -> Callable[[Message | None], tuple | None]:
    """Compile a ``Message -> row tuple`` converter for ``mtype``.

    The tuple matches :func:`message_type_to_schema` field order.
    Compiled once, applied per message (the reference's converter
    compilation, ``message_extractor.py:145-154`` mirrored for the
    encode direction). Each cell reads the message's ``_values``
    storage with the field's kind, presence and default resolved here.
    """
    if mtype.full_name in _trace:
        if config.skip_recursive_messages:
            return lambda m: () if m is not None else None
        raise TypeError(f"recursive message {mtype.full_name}")
    trace = _trace + (mtype.full_name,)
    cells = [_cell_builder(field, config, trace) for field in mtype.fields]

    def build(msg: Message | None) -> tuple | None:
        if msg is None:
            return None
        values = msg._values
        return tuple([cell(values) for cell in cells])

    return build


def _cell_builder(
    field: Field, config: ProtarrowSparkConfig, trace: tuple[str, ...]
) -> Callable[[dict], Any]:
    """``Message._values -> cell`` for one field. An unset map or
    repeated field is empty, an unset presence field is None, an unset
    plain scalar is its proto default."""
    name = field.name
    if field.is_map:
        entry = field.message
        key_conv = _scalar_converter(entry.fields_by_number[1], config)
        val_conv = _value_converter(entry.fields_by_number[2], config, trace)
        if config.map_as_list:
            return lambda values: [
                (key_conv(k), val_conv(v)) for k, v in d.items()
            ] if (d := values.get(name)) else []
        return lambda values: {
            key_conv(k): val_conv(v) for k, v in d.items()
        } if (d := values.get(name)) else {}

    conv = _value_converter(field, config, trace)
    if field.repeated:
        return lambda values: [
            conv(v) for v in items
        ] if (items := values.get(name)) else []
    if field.has_presence:
        return lambda values: None if (v := values.get(name)) is None else conv(v)
    default = field.default_value
    return lambda values: conv(values.get(name, default))


def messages_to_rows(
    messages: Iterable[Message],
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
) -> list[tuple]:
    """Encode messages to row tuples matching
    :func:`message_type_to_schema` (reference
    ``messages_to_record_batch``, ``proto_to_arrow.py:690-702``)."""
    build = row_builder(mtype, config)
    return [build(m) for m in messages]


def messages_to_dataframe(
    spark: SparkSession,
    messages: Iterable[Message],
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
) -> DataFrame:
    """Encode proto messages into a DataFrame (reference
    ``messages_to_table``, ``proto_to_arrow.py:705-713``).

    Driver-side entry point: the data starts on the driver by
    definition (a Python iterable). The distributed equivalent for
    data already on the cluster is
    :func:`protarrow_spark.conversion.decode_proto_bytes` over a
    binary column.

    The rows become an Arrow table of the schema's Arrow types, so the
    DataFrame is a local relation: collecting it back runs no Spark
    job. Building the table type-checks every cell.
    """
    schema = message_type_to_schema(mtype, config)
    return _local_relation(spark, messages_to_rows(messages, mtype, config), schema)


def _local_relation(
    spark: SparkSession, rows: list[tuple], schema: StructType
) -> DataFrame:
    """``rows`` as a local-relation DataFrame of ``schema``.

    Mirrors PySpark 4.1.2's ``SparkSession._create_from_arrow_table``
    (``pyspark/sql/pandas/conversion.py``), the tail of
    ``spark.createDataFrame(table, schema)``, with the same Arrow
    schema arguments and JVM hooks, minus its pass that localizes
    naive timestamps: that pass rebuilds every nested column with
    nullable children, and its cast back to ``schema``'s Arrow types
    then fails on a struct that holds a nested non-null field. The
    rows' timestamps are UTC-aware, so the pass has nothing to do
    here. Recheck the private hooks on a PySpark upgrade."""
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(
        schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=spark._jconf.arrowUseLargeVarTypes(),
    )
    table = pa.Table.from_batches(
        [pa.RecordBatch.from_struct_array(pa.array(rows, type=pa.struct(list(arrow_schema))))]
    )
    jvm = spark._jvm
    batches = table.to_batches(max_chunksize=spark._jconf.arrowMaxRecordsPerBatch())
    jiter = spark._sc._serialize_to_jvm(
        batches,
        ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile,
        jvm.ArrowIteratorServer,
    )
    jdf = jvm.PythonSQLUtils.toDataFrame(jiter, schema.json(), spark._jsparkSession)
    return DataFrame(jdf, spark)
