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

The compiled converters write ``Message`` storage, not attributes:
each message's values are decoded into a fresh dict, normalized by the
rules ``Message.__setattr__`` uses (``message._normalizer`` and
``message._oneof_siblings``, looked up per field at compile time), and
wrapped by ``Message._from_values``.

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
from itertools import repeat
from operator import getitem
from typing import Any, Callable, Iterable, Iterator

import numpy as np
from pyspark.sql import DataFrame

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.encode import DATE_SENTINEL, _EPOCH, _identity
from protarrow_spark.proto.message import Message, _normalizer, _oneof_siblings
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
_new = Message._from_values

ValueConverter = Callable[[Any], Any]


#: exact cell types that are never null. Tested with ``type(v)``, not
#: ``isinstance``: ``pd.Timestamp`` subclasses ``datetime`` and ``NaT``
#: must still read as null.
_NEVER_NULL = frozenset(
    {int, str, bytes, bool, list, tuple, dict,
     datetime.datetime, datetime.date, datetime.timedelta}
)


def _is_null(v: Any) -> bool:
    if v is None:
        return True
    if type(v) in _NEVER_NULL:
        return False
    # pandas NaN / NaT / NA without importing pandas in the hot path
    if isinstance(v, float) and v != v:
        return True
    return type(v).__name__ in ("NaTType", "NAType")


def _as_mapping_items(v: Any) -> Iterable[tuple[Any, Any]]:
    """A map cell's (key, value) pairs: a dict's items, or a list of
    pairs (an Arrow map) or of key/value structs (``map_as_list``)."""
    if isinstance(v, dict):
        return v.items()
    return [(_struct_get(e, "key", 0), _struct_get(e, "value", 1)) for e in v]


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
    if isinstance(v, np.datetime64):  # a Spark worker's repeated cell item
        return int(v.astype("datetime64[us]").astype(np.int64))
    return int(v)


def _timestamp_decoder(config: ProtarrowSparkConfig) -> ValueConverter:
    if config.timestamp_type == "long_nanos":

        def from_nanos(v: Any) -> Message:
            seconds, nanos = divmod(int(v), 1_000_000_000)
            return _new(TIMESTAMP, {"seconds": seconds, "nanos": nanos})

        return from_nanos

    def from_ts(v: Any) -> Message:
        seconds, micros = divmod(_timestamp_us(v), 1_000_000)
        return _new(TIMESTAMP, {"seconds": seconds, "nanos": micros * 1_000})

    return from_ts


def _duration_decoder(config: ProtarrowSparkConfig) -> ValueConverter:
    def normalize(seconds: int, nanos: int) -> Message:
        # protobuf Duration requires seconds and nanos to share a sign
        if seconds < 0 and nanos > 0:
            seconds += 1
            nanos -= 1_000_000_000
        return _new(DURATION, {"seconds": seconds, "nanos": nanos})

    if config.duration_type == "long_nanos":

        def from_nanos(v: Any) -> Message:
            seconds, nanos = divmod(int(v), 1_000_000_000)
            return normalize(seconds, nanos)

        return from_nanos

    def from_interval(v: Any) -> Message:
        if isinstance(v, datetime.timedelta):
            micros = (v.days * 86_400 + v.seconds) * 1_000_000 + v.microseconds
        elif isinstance(v, np.timedelta64):  # a Spark worker's repeated cell item
            micros = int(v.astype("timedelta64[us]").astype(np.int64))
        else:  # pd.Timedelta
            micros = v.value // 1_000
        seconds, rem = divmod(micros, 1_000_000)
        return normalize(seconds, rem * 1_000)

    return from_interval


def _date_decoder(v: Any) -> Message:
    if hasattr(v, "date") and not isinstance(v, datetime.date):
        v = v.date()  # pd.Timestamp
    if v == DATE_SENTINEL:
        return _new(DATE, {})  # unset date round-trips to Date()
    return _new(DATE, {"year": v.year, "month": v.month, "day": v.day})


def _time_of_day_decoder(v: Any) -> Message:
    total = int(v)
    nanos = total % 1_000_000_000
    seconds_total = total // 1_000_000_000
    minutes_total, seconds = divmod(seconds_total, 60)
    hours, minutes = divmod(minutes_total, 60)
    return _new(
        TIME_OF_DAY,
        {"hours": hours, "minutes": minutes, "seconds": seconds, "nanos": nanos},
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
        return lambda v: _new(EMPTY, {})
    if name in WRAPPER_TYPES:
        # a null item (a repeated wrapper or a map value) is an empty
        # wrapper, as Message(mtype, value=None) is
        field = mtype.fields[0]
        if field.kind is Kind.UINT64:
            inner = _uint64_decoder(config)
        elif field.kind is Kind.BYTES:
            inner = bytes
        else:
            inner = _normalizer(field)
        if inner is None:
            return lambda v: _new(mtype, {} if v is None else {"value": v})
        return lambda v: _new(mtype, {} if v is None else {"value": inner(v)})
    return None


def _scalar_decoder(field: Field, config: ProtarrowSparkConfig) -> ValueConverter:
    kind = field.kind
    if kind is Kind.ENUM:
        return _enum_decoder(field, config)
    if kind in (Kind.UINT64, Kind.FIXED64):
        return _uint64_decoder(config)
    if kind is Kind.BYTES:
        return bytes
    if kind in (Kind.INT32, Kind.INT64, Kind.SINT32, Kind.SINT64, Kind.UINT32,
                Kind.FIXED32, Kind.SFIXED32, Kind.SFIXED64):
        return int
    if kind in (Kind.DOUBLE, Kind.FLOAT):
        return float
    if kind is Kind.BOOL:
        return bool
    return _identity  # string


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
    ``MessageExtractor`` compilation, ``message_extractor.py:144-162``).

    Each row is read the way ``_struct_get`` reads a struct: a plain
    tuple or list, or a ``Row`` whose ``__fields__`` are the schema's
    names in order, by position; a dict or any other ``Row`` by name.
    The decoded values go into a fresh storage dict under
    ``Message.__setattr__``'s rules, looked up per field here: a null
    cell leaves the field unset, a oneof member drops
    ``_oneof_siblings``, and :func:`_field_decoder` applies
    ``_normalizer``. No cell goes through the attribute protocol."""
    if mtype.full_name in _trace:
        if config.skip_recursive_messages:
            return lambda row: _new(mtype, {})
        raise TypeError(f"recursive message {mtype.full_name}")
    trace = _trace + (mtype.full_name,)

    names = [f.name for f in mtype.fields]
    n = len(names)
    setters = [
        (field.name, _field_decoder(field, config, trace), _oneof_siblings(mtype, field))
        for field in mtype.fields
    ]

    def build(row: Any) -> Message:
        if isinstance(row, (tuple, list)) and getattr(row, "__fields__", None) in (
            None, names
        ):
            cells = row if len(row) >= n else _short_row(row)
        else:
            cells = map(getitem, repeat(row), names)
        values: dict = {}
        for (name, dec, sibs), cell in zip(setters, cells):
            value = dec(cell)
            if value is not None:
                if sibs:
                    for sib in sibs:
                        values.pop(sib, None)
                values[name] = value
        return _new(mtype, values)

    return build


def _short_row(row: Any) -> Iterator[Any]:
    """The cells of a positional row with fewer cells than fields, then
    the ``IndexError`` that reading the first missing one raises."""
    yield from row
    row[len(row)]


def _field_decoder(
    field: Field, config: ProtarrowSparkConfig, trace: tuple[str, ...]
) -> Callable[[Any], Any]:
    """Spark cell -> the value ``Message`` storage holds for ``field``,
    or None for a null cell."""
    if field.is_map:
        entry = field.message
        key_dec = _scalar_decoder(entry.fields_by_number[1], config)
        val_dec = _value_decoder(entry.fields_by_number[2], config, trace)

        def map_cell(v: Any) -> dict | None:
            if _is_null(v):
                return None
            return {key_dec(k): val_dec(x) for k, x in _as_mapping_items(v)}

        return map_cell

    dec = _normalized(field, _value_decoder(field, config, trace))
    if field.repeated:
        return lambda v: None if _is_null(v) else [dec(x) for x in v]
    return lambda v: None if _is_null(v) else dec(v)


def _normalized(field: Field, dec: ValueConverter) -> ValueConverter:
    """``dec`` followed by the field's storage ``_normalizer``, if any
    (a BOOL scalar's decoder is already ``bool``)."""
    norm = _normalizer(field)
    if norm is None or norm is dec:
        return dec
    return lambda v: norm(dec(v))


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
