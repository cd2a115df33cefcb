"""Decode: Spark rows / DataFrame -> proto messages.

Re-expresses the reference's decode path (assigners
``arrow_to_proto.py:306-447``, temporal reconstruction
``arrow_to_proto.py:43-163``) and the compiled row extractor
(``message_extractor.py:13-162``) for Spark rows.

Cell inputs are normalized so the same compiled converters run on
driver-side ``Row`` objects (``df.collect()``) AND the pandas cells of
Arrow columns inside executors (``mapInArrow``): structs arrive as Row
or dict, maps as dict or list-of-pairs, arrays as list or ndarray,
timestamps as datetime or pd.Timestamp, binary as bytes or bytearray.

Semantics preserved:

* enum name -> number decoding falls back to 0 for unknown names
  (``arrow_to_proto.py:279-291``);
* the date sentinel decodes back to an empty ``Date()``
  (``arrow_to_proto.py:67-71``);
* Duration reconstruction normalizes seconds/nanos to the same sign
  (protobuf ``FromMicroseconds`` semantics);
* null cells leave presence fields unset; no-presence scalars decode
  defaults as values (proto3 equality makes these equivalent).
"""

from __future__ import annotations

import datetime
from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.encode import DATE_SENTINEL, _EPOCH
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

_U64 = 1 << 64

ValueConverter = Callable[[Any], Any]


def _is_null(v: Any) -> bool:
    if v is None:
        return True
    # pandas NaN / NaT / NA without importing pandas in the hot path
    if isinstance(v, float) and v != v:
        return True
    return type(v).__name__ in ("NaTType", "NAType")


def _as_mapping_items(v: Any) -> Iterable[tuple[Any, Any]]:
    if isinstance(v, dict):
        return v.items()
    return [(e[0], e[1]) for e in v]  # arrow map -> list of (k, v) pairs


def _struct_get(v: Any, name: str, idx: int) -> Any:
    """Row-like access: pyspark Row and dict by name; plain
    tuples/lists (e.g. the encode path's output) by position."""
    if isinstance(v, dict):
        return v[name]
    if isinstance(v, (tuple, list)) and not hasattr(v, "__fields__"):
        return v[idx]
    return v[name]  # pyspark Row


def _timestamp_us(v: Any) -> int:
    """Any timestamp-ish cell -> microseconds since epoch."""
    ns = getattr(v, "value", None)
    if ns is not None and type(v).__name__ == "Timestamp":  # pd.Timestamp
        return ns // 1_000
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            # collect() yields naive datetimes in the session tz (pinned UTC)
            v = v.replace(tzinfo=datetime.timezone.utc)
        return (v - _EPOCH) // datetime.timedelta(microseconds=1)
    return int(v)


def _timestamp_decoder(config: ProtarrowSparkConfig) -> ValueConverter:
    if config.timestamp_type == "long_nanos":

        def from_nanos(v: Any) -> Message:
            seconds, nanos = divmod(int(v), 1_000_000_000)
            return Message(TIMESTAMP, seconds=seconds, nanos=nanos)

        return from_nanos

    def from_ts(v: Any) -> Message:
        seconds, micros = divmod(_timestamp_us(v), 1_000_000)
        return Message(TIMESTAMP, seconds=seconds, nanos=micros * 1_000)

    return from_ts


def _duration_decoder(config: ProtarrowSparkConfig) -> ValueConverter:
    def normalize(seconds: int, nanos: int) -> Message:
        # protobuf Duration requires seconds and nanos to share a sign
        if seconds < 0 and nanos > 0:
            seconds += 1
            nanos -= 1_000_000_000
        return Message(DURATION, seconds=seconds, nanos=nanos)

    if config.duration_type == "long_nanos":

        def from_nanos(v: Any) -> Message:
            seconds, nanos = divmod(int(v), 1_000_000_000)
            return normalize(seconds, nanos)

        return from_nanos

    def from_interval(v: Any) -> Message:
        if isinstance(v, datetime.timedelta):
            micros = (v.days * 86_400 + v.seconds) * 1_000_000 + v.microseconds
        else:  # pd.Timedelta
            micros = v.value // 1_000
        seconds, rem = divmod(micros, 1_000_000)
        return normalize(seconds, rem * 1_000)

    return from_interval


def _date_decoder(v: Any) -> Message:
    if hasattr(v, "date") and not isinstance(v, datetime.date):
        v = v.date()  # pd.Timestamp
    if v == DATE_SENTINEL:
        return Message(DATE)  # unset date round-trips to Date()
    return Message(DATE, year=v.year, month=v.month, day=v.day)


def _time_of_day_decoder(v: Any) -> Message:
    total = int(v)
    nanos = total % 1_000_000_000
    seconds_total = total // 1_000_000_000
    minutes_total, seconds = divmod(seconds_total, 60)
    hours, minutes = divmod(minutes_total, 60)
    return Message(
        TIME_OF_DAY, hours=hours, minutes=minutes, seconds=seconds, nanos=nanos
    )


def _uint64_decoder(config: ProtarrowSparkConfig) -> ValueConverter:
    if config.uint64_type == "decimal":
        return lambda v: int(v)
    return lambda v: int(v) + _U64 if int(v) < 0 else int(v)


def _enum_decoder(field: Field, config: ProtarrowSparkConfig) -> ValueConverter:
    if config.enum_type == "int":
        return lambda v: int(v)
    by_name = field.enum.by_name
    # unknown names fall back to 0 (arrow_to_proto.py:284-289)
    return lambda v: by_name.get(v, 0)


def _wkt_decoder(
    mtype: MessageType, config: ProtarrowSparkConfig
) -> ValueConverter | None:
    name = mtype.full_name
    if name == TIMESTAMP.full_name:
        return _timestamp_decoder(config)
    if name == DURATION.full_name:
        return _duration_decoder(config)
    if name == DATE.full_name:
        return _date_decoder
    if name == TIME_OF_DAY.full_name:
        return _time_of_day_decoder
    if name == EMPTY.full_name:
        return lambda v: Message(EMPTY)
    if name in WRAPPER_TYPES:
        kind = WRAPPER_TYPES[name]
        if kind is Kind.UINT64:
            inner = _uint64_decoder(config)
            return lambda v: Message(mtype, value=inner(v))
        if kind is Kind.BYTES:
            return lambda v: Message(mtype, value=bytes(v))
        return lambda v: Message(mtype, value=v)
    return None


def _scalar_decoder(field: Field, config: ProtarrowSparkConfig) -> ValueConverter:
    kind = field.kind
    if kind is Kind.ENUM:
        return _enum_decoder(field, config)
    if kind in (Kind.UINT64, Kind.FIXED64):
        return _uint64_decoder(config)
    if kind is Kind.BYTES:
        return lambda v: bytes(v)
    if kind in (Kind.INT32, Kind.INT64, Kind.SINT32, Kind.SINT64, Kind.UINT32,
                Kind.FIXED32, Kind.SFIXED32, Kind.SFIXED64):
        return lambda v: int(v)
    if kind in (Kind.DOUBLE, Kind.FLOAT):
        return lambda v: float(v)
    if kind is Kind.BOOL:
        return lambda v: bool(v)
    return lambda v: v  # string


def _value_decoder(
    field: Field, config: ProtarrowSparkConfig, trace: tuple[str, ...]
) -> ValueConverter:
    if field.kind is Kind.MESSAGE:
        wkt = _wkt_decoder(field.message, config)
        if wkt is not None:
            return wkt
        builder = message_builder(field.message, config, _trace=trace)
        return builder
    return _scalar_decoder(field, config)


def message_builder(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    _trace: tuple[str, ...] = (),
) -> Callable[[Any], Message]:
    """Compile a ``row-like -> Message`` converter (the reference's
    ``MessageExtractor`` compilation, ``message_extractor.py:144-162``)."""
    if mtype.full_name in _trace:
        if config.skip_recursive_messages:
            return lambda row: Message(mtype)
        raise TypeError(f"recursive message {mtype.full_name}")
    trace = _trace + (mtype.full_name,)

    setters: list[tuple[str, int, Callable[[Any], Any]]] = []
    for idx, field in enumerate(mtype.fields):
        setters.append((field.name, idx, _field_decoder(field, config, trace)))

    def build(row: Any) -> Message:
        msg = Message(mtype)
        for name, idx, dec in setters:
            value = dec(_struct_get(row, name, idx))
            if value is not None:
                setattr(msg, name, value)
        return msg

    return build


def _field_decoder(
    field: Field, config: ProtarrowSparkConfig, trace: tuple[str, ...]
) -> Callable[[Any], Any]:
    if field.is_map:
        entry = field.message
        key_dec = _scalar_decoder(entry.fields_by_number[1], config)
        val_dec = _value_decoder(entry.fields_by_number[2], config, trace)

        def map_cell(v: Any) -> dict | None:
            if _is_null(v):
                return None
            if config.map_as_list:
                return {key_dec(e[0]): val_dec(e[1]) for e in v}
            return {key_dec(k): val_dec(x) for k, x in _as_mapping_items(v)}

        return map_cell

    dec = _value_decoder(field, config, trace)
    if field.repeated:
        return lambda v: None if _is_null(v) else [dec(x) for x in v]

    def cell(v: Any) -> Any:
        if _is_null(v):
            return None
        return dec(v)

    return cell


class MessageExtractor:
    """Compiled row -> proto converter with O(1)-per-row reads
    (reference ``MessageExtractor.read_table_row``,
    ``message_extractor.py:144-162``)."""

    def __init__(
        self,
        mtype: MessageType,
        config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    ) -> None:
        self.message_type = mtype
        self.config = config
        self._build = message_builder(mtype, config)

    def read_row(self, row: Any) -> Message:
        return self._build(row)

    def read_dataframe_row(self, df: DataFrame, index: int) -> Message:
        """Point lookup: decode row ``index`` of ``df`` (driver-side;
        use a keyed ``where`` at scale)."""
        rows = df.offset(index).limit(1).collect()
        if not rows:
            raise IndexError(index)
        return self._build(rows[0])


def rows_to_messages(
    rows: Iterable[Any],
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
) -> list[Message]:
    build = message_builder(mtype, config)
    return [build(r) for r in rows]


def dataframe_to_messages(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
) -> list[Message]:
    """Decode a DataFrame to a list of messages (reference
    ``table_to_messages``, ``arrow_to_proto.py:667-671``).

    Driver-side by definition (returns Python objects). The
    distributed equivalent is
    :func:`protarrow_spark.conversion.encode_proto_bytes`, which
    keeps serialized messages on executors.
    """
    return rows_to_messages(df.collect(), mtype, config)
