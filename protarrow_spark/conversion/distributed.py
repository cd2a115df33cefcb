"""Distributed proto conversion over binary columns.

This is the engine's scale path (SURVEY §3.1/§3.2 "Spark version"):
data never touches the driver. A DataFrame with a ``binary`` column
of serialized messages (the Kafka value shape, ``docs/faq.md:20-25``
in the reference) decodes into typed columns on executors, and typed
columns serialize back to proto bytes for a Kafka/file sink.

Implementation: ``mapInArrow`` (Arrow record batches, one Python
worker per partition) + the vectorized batch codec
(``conversion/vectorized*.py``) with the compiled row codec below as
its fallback. Spark's built-in ``from_protobuf`` / ``to_protobuf``
would be the zero-Python alternative but requires the external
spark-protobuf jar and compiled descriptor sets; this path has no such
dependency and supports the engine's config policies
(uint64/timestamp/enum rendering) during decode itself.

Scale notes:

* no shuffle — both directions are narrow per-partition maps;
* kept columns pass through as the Arrow arrays Spark sent, and every
  other column crosses the boundary once per batch: an int64 column
  stays int64 whatever its nulls (a pandas boundary turns it into
  float64 and rounds values past 2^53);
* the codecs are compiled once per partition, not per row;
* predicate/column pruning still applies to everything upstream of
  the binary column scan.
"""

from __future__ import annotations

import logging
import struct
from typing import Any, Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.vectorized import (
    Unvectorizable,
    compile_batch_to_wire,
)
from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch
from protarrow_spark.proto.message import Message
from protarrow_spark.proto.model import MessageType
from protarrow_spark.schema import message_type_to_schema

_log = logging.getLogger(__name__)

#: Consecutive Unvectorizable batches before a partition stops
#: retrying the vectorized path and keeps the row codec.
_VEC_MAX_STRIKES = 3

#: What a contract-violating value raises in either codec.
_VALUE_ERRORS = (ValueError, TypeError, OverflowError, struct.error)


class _Vectorized:
    """One partition's vectorized kernel, with the row codec as its
    fallback.

    Calling it returns the kernel's result, or None when the batch must
    take the row codec: the message shape has no kernel, or the kernel
    raised ``Unvectorizable``. Unvectorizable usually means a
    partition-wide dtype shape (Arrow hands every batch of a partition
    the same schema), but object columns can confine the offending
    VALUE to one batch — so later batches retry the kernel, which is
    dropped for the rest of the partition after
    :data:`_VEC_MAX_STRIKES` consecutive failures. The first fallback
    of a partition logs one warning with its reason."""

    def __init__(self, kernel: Callable | None, what: str) -> None:
        self.kernel, self.what = kernel, what
        self.strikes, self.warned = 0, False
        if kernel is None:
            self._warn("the message shape has no vectorized kernel")

    def _warn(self, reason: Any) -> None:
        if not self.warned:
            self.warned = True
            _log.warning("%s: falling back to the row codec: %s", self.what, reason)

    def __call__(self, arg):
        if self.kernel is None:
            return None
        try:
            out = self.kernel(arg)
        except Unvectorizable as exc:
            self._warn(exc)
            self.strikes += 1
            if self.strikes >= _VEC_MAX_STRIKES:
                self.kernel = None
            return None
        self.strikes = 0
        return out


def _record_batch(cols: list, schema):
    """Codec output columns (Arrow arrays, pandas Series, numpy arrays
    or lists of cells) as one Arrow batch of ``schema``."""
    import pandas as pd
    import pyarrow as pa

    arrays = []
    for col, field in zip(cols, schema):
        if isinstance(col, pa.Array):
            arrays.append(col if col.type == field.type else col.cast(field.type))
        elif isinstance(col, pd.Series):  # datetime/timedelta, NaT = null
            arrays.append(pa.Array.from_pandas(col, type=field.type))
        else:
            arrays.append(pa.array(col, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _pandas_columns(batch, names: list[str]) -> list:
    """The named columns of an Arrow batch in the cell forms the
    encode kernels read; an int64 column with nulls becomes Python
    ints, never float64."""
    return [batch.column(n).to_pandas(integer_object_nulls=True) for n in names]


def _row_columns(rows: list[tuple], width: int) -> list:
    return list(zip(*rows)) if rows else [()] * width


def decode_proto_bytes(
    df: DataFrame,
    bytes_col: str,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    keep_cols: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Binary proto column -> typed columns per ``mtype``'s schema.

    ``keep_cols`` are passed through unchanged (e.g. a Kafka key /
    offset) ahead of the decoded columns; a kept name that is also a
    decoded field name raises ``ValueError`` (rename it first). Runs
    entirely on executors.

    ``on_error``: ``"raise"`` (default) aborts the task on a
    malformed record — the strict mode a backfill wants; ``"null"``
    is PERMISSIVE mode (the ``from_json`` convention): a record whose
    bytes cannot be parsed yields all-null decoded columns while its
    ``keep_cols`` pass through, so one bad Kafka record cannot kill a
    100 TB ingest — count the nulls downstream and route them to a
    dead-letter sink.
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    schema = message_type_to_schema(mtype, config)
    keep = list(keep_cols or [])
    clash = [c for c in keep if c in schema.fieldNames()]
    if clash:
        raise ValueError(
            f"keep_cols {clash} collide with decoded fields of "
            f"{mtype.full_name}; rename them before decoding"
        )
    decoded_fields = list(schema.fields)
    permissive = on_error == "null"
    if permissive:
        # Corrupt records surface as all-null decoded columns, so the
        # contract's non-null scalars must relax to nullable here.
        decoded_fields = [
            T.StructField(f.name, f.dataType, True, f.metadata)
            for f in decoded_fields
        ]
    out_schema = T.StructType([df.schema[c] for c in keep] + decoded_fields)
    arrow_out = to_arrow_schema(out_schema)
    null_row = (None,) * len(decoded_fields)

    def decode(batches: Iterator) -> Iterator:
        # Vectorized columnar fast path (conversion/vectorized_decode.py:
        # the transposed numpy wire parser, value-identical by
        # differential + corrupt-bytes fuzz test). The compiled row path
        # stays the semantics oracle and the fallback.
        decode_batch = _Vectorized(
            compile_wire_to_batch(mtype, config, permissive=permissive),
            f"decode_proto_bytes({mtype.full_name})",
        )
        decode_wire = compile_wire_to_row(mtype, config)

        def decode_row(cell):
            try:
                return decode_wire(bytes(cell))  # bytes(None): TypeError
            except (ValueError, TypeError, IndexError, struct.error):
                if permissive:
                    return null_row
                raise

        for batch in batches:
            cells = batch.column(bytes_col).to_pylist()
            out = decode_batch(cells)
            if out is None:
                cols = _row_columns([decode_row(c) for c in cells], len(null_row))
            else:
                cols = out[0]
            yield _record_batch([batch.column(c) for c in keep] + cols, arrow_out)

    src = df.select(*dict.fromkeys([*keep, bytes_col]))
    return src.mapInArrow(decode, out_schema)


def encode_proto_bytes(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    output_col: str = "proto",
    keep_cols: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Typed columns -> serialized proto binary column.

    The sink shape: feed the result to Kafka / parquet with one
    ``binary`` column. Columns of ``df`` must match
    ``message_type_to_schema(mtype, config)`` (use
    :func:`protarrow_spark.conversion.cast_dataframe` first when they
    don't). ``keep_cols`` pass through ahead of ``output_col`` and may
    name message fields too (a Kafka key that is also in the value).
    Runs entirely on executors.

    ``on_error``: ``"raise"`` (default) aborts the task on a row that
    violates the contract (e.g. uint32 out of range, wrong cell type);
    ``"null"`` is PERMISSIVE mode, mirroring the decode convention: the
    violating row's ``output_col`` is null while its ``keep_cols`` pass
    through — one contract-breaking row cannot kill a 100 TB export;
    count the nulls downstream and route them to a dead-letter sink.
    """
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be 'raise' or 'null', got {on_error!r}")
    permissive = on_error == "null"
    keep = list(keep_cols or [])
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField(output_col, T.BinaryType(), nullable=permissive)]
    )
    arrow_out = to_arrow_schema(out_schema)
    field_names = message_type_to_schema(mtype, config).fieldNames()

    def encode(batches: Iterator) -> Iterator:
        # Vectorized columnar fast path (~10-20x the row path: numpy
        # varints, masks, and Timestamp bodies — conversion/vectorized.py,
        # byte-identical by differential test); the compiled row path
        # stays the semantics oracle and the fallback for unsupported
        # shapes, unexpected dtypes, and PERMISSIVE batches containing
        # a contract-violating row (permissive batches compile with
        # permissive=True: range violations null exactly the violating
        # rows vectorized — no row-wise re-encode of the whole batch).
        encode_batch = _Vectorized(
            compile_batch_to_wire(mtype, config, permissive=permissive),
            f"encode_proto_bytes({mtype.full_name})",
        )
        encode_row = compile_row_to_wire(mtype, config)

        def encode_permissive(rec):
            try:
                return encode_row(rec)
            except _VALUE_ERRORS:
                # deliberately NOT AttributeError: a contract violation
                # is a bad VALUE (range/type/overflow); an AttributeError
                # is an encoder bug and must fail the task, not hide as
                # a dead letter
                return None

        encode_one = encode_permissive if permissive else encode_row
        for batch in batches:
            cols = _pandas_columns(batch, field_names)
            try:
                cells = encode_batch(cols)
            except _VALUE_ERRORS:
                if not permissive:
                    raise
                cells = None
            if cells is None:
                cells = [encode_one(rec) for rec in zip(*cols)]
            yield _record_batch([batch.column(c) for c in keep] + [cells], arrow_out)

    src = df.select(*dict.fromkeys([*keep, *field_names]))
    return src.mapInArrow(encode, out_schema)


def proto_roundtrip(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
) -> DataFrame:
    """encode -> wire bytes -> decode, fully distributed. Useful as a
    self-check operator: output equals input modulo the config's
    documented lossiness (ns truncation etc.).

    Fused into ONE ``mapInArrow`` hop: chaining the public
    ``encode_proto_bytes`` -> ``decode_proto_bytes`` plans two Python
    runners per task (double the Arrow JVM<->Python transfer and
    double the worker pool); the fused map exercises the identical
    codec path with a single hop. In production the two directions are
    separate jobs (produce vs consume), so the fused form is also the
    honest cost model for each side."""
    schema = message_type_to_schema(mtype, config)
    names = schema.fieldNames()
    arrow_out = to_arrow_schema(schema)

    def roundtrip(batches: Iterator) -> Iterator:
        # both halves vectorized when the message shape supports it:
        # columns -> wire bytes -> columns; the row codecs remain the
        # semantics oracle and the fallback on either half.
        what = f"proto_roundtrip({mtype.full_name})"
        encode_batch = _Vectorized(compile_batch_to_wire(mtype, config), what)
        decode_batch = _Vectorized(compile_wire_to_batch(mtype, config), what)
        encode_row = compile_row_to_wire(mtype, config)
        decode_wire = compile_wire_to_row(mtype, config)
        for batch in batches:
            cols = _pandas_columns(batch, names)
            wires = encode_batch(cols)
            if wires is None:
                wires = [encode_row(rec) for rec in zip(*cols)]
            out = decode_batch(wires)
            if out is None:
                cols = _row_columns([decode_wire(w) for w in wires], len(names))
            else:
                cols = out[0]
            yield _record_batch(cols, arrow_out)

    return df.select(*names).mapInArrow(roundtrip, schema)


# ---------------------------------------------------------------------------
# Unified codec entry points: built-in spark-protobuf when present,
# native wire codec otherwise (SURVEY Phase 2's unification promise;
# the reference ecosystem's documented integration pattern is
# from_protobuf over a Kafka binary column, docs/faq.md:13-35).
# ---------------------------------------------------------------------------


def spark_protobuf_available(spark) -> bool:
    """True when Spark's built-in protobuf connector can actually run:
    the python wrapper imports AND the external spark-protobuf jar's
    classes load in the JVM (the wrapper ships with pyspark, the jar
    does not — ``--packages org.apache.spark:spark-protobuf_2.13``)."""
    try:
        from pyspark.sql.protobuf.functions import from_protobuf  # noqa: F401
    except Exception:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.protobuf.ProtobufDataToCatalyst"
        )
        return True
    except Exception:
        return False


def decode_proto_column(
    df: DataFrame,
    bytes_col: str,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    *,
    desc_file_path: str | None = None,
    message_full_name: str | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Decode a binary proto column with the best available engine.

    Dispatch: when the spark-protobuf jar is live
    (:func:`spark_protobuf_available`) AND the caller supplies the
    compiled descriptor-set file + message full name the built-in
    ``from_protobuf`` runs — zero Python in the row path, Catalyst
    expression all the way. Otherwise (this environment: no jar, no
    protoc) the native Arrow-batched wire codec
    (:func:`decode_proto_bytes`) decodes with identical wire
    semantics.

    Caveat the caller owns: the built-in path uses spark-protobuf's
    fixed type mapping (enums as strings, uint64 as LongType); the
    native path applies this engine's config policies
    (uint64 decimal/long, enum int/string, timestamp flavors). At the
    default config the two differ only on uint64 (decimal vs
    wrapped-long) and enum rendering — pass
    ``ProtarrowSparkConfig(uint64_type="long", enum_type="string")``
    for drop-in parity.
    """
    spark = df.sparkSession
    if (
        desc_file_path is not None
        and message_full_name is not None
        and spark_protobuf_available(spark)
    ):
        from pyspark.sql.protobuf.functions import from_protobuf

        keep = list(keep_cols or [])
        decoded = df.select(
            *keep,
            from_protobuf(bytes_col, message_full_name, desc_file_path).alias(
                "__msg"
            ),
        )
        return decoded.select(*keep, "__msg.*")
    return decode_proto_bytes(df, bytes_col, mtype, config, keep_cols)


def encode_proto_column(
    df: DataFrame,
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    *,
    desc_file_path: str | None = None,
    message_full_name: str | None = None,
    output_col: str = "proto",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode typed columns to a binary proto column — built-in
    ``to_protobuf`` when live (jar + descriptor set), else the native
    wire codec (:func:`encode_proto_bytes`). Same dispatch + type-
    mapping caveats as :func:`decode_proto_column`."""
    spark = df.sparkSession
    if (
        desc_file_path is not None
        and message_full_name is not None
        and spark_protobuf_available(spark)
    ):
        from pyspark.sql.protobuf.functions import to_protobuf

        keep = list(keep_cols or [])
        field_names = [
            f.name for f in message_type_to_schema(mtype, config).fields
        ]
        return df.select(
            *keep,
            to_protobuf(
                F.struct(*field_names), message_full_name, desc_file_path
            ).alias(output_col),
        )
    return encode_proto_bytes(df, mtype, config, output_col, keep_cols)


# ---------------------------------------------------------------------------
# Compiled fast path: Spark row tuple -> wire bytes WITHOUT building a
# Message. Composes the existing per-field decoders (Spark cell ->
# proto value, decode.py) with the wire writers (message.py), so every
# conversion policy lives in exactly one place; what it skips is the
# dynamic Message object: allocation, attribute-protocol setattr, and
# serialize()'s per-field dict probing. ~1.5x on the encode half of
# the codec, bit-identical output (differential-tested against the
# Message path over the golden corpora + the random full matrix).
#
# One deliberate divergence, unreachable from valid input: a row with
# TWO non-null members of the same oneof writes both tags (the
# Message path keeps only the later one). parse() applies last-wins
# either way, so even then the decoded result is identical.
# ---------------------------------------------------------------------------


def compile_row_to_wire(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
):
    """Compile ``row-tuple (schema field order) -> serialized bytes``."""
    from protarrow_spark.conversion.decode import _field_decoder
    from protarrow_spark.proto.message import _write_field

    index_of = {f.name: i for i, f in enumerate(mtype.fields)}
    compiled = [
        (
            field,
            index_of[field.name],
            _field_decoder(field, config, (mtype.full_name,)),
        )
        for field in mtype.fields_number_order
    ]

    def encode_row(rec) -> bytes:
        out = bytearray()
        for field, idx, conv in compiled:
            v = conv(rec[idx])
            if v is None:
                continue
            if (field.is_map or field.repeated) and not v:
                continue
            _write_field(out, field, v)
        return bytes(out)

    return encode_row


def _make_scalar_reader(kind):
    """Pre-bound ``(data, pos) -> (value, pos)`` for one scalar kind —
    the per-kind dispatch chain of ``_read_scalar`` resolved at compile
    time (it costs an enum hash + ladder walk PER SCALAR at decode
    time). Semantics identical to ``_read_scalar`` by construction;
    differential-pinned by the compiled-decoder test matrix."""
    import struct as _struct

    from protarrow_spark.proto.message import (
        _check_bounds,
        _read_scalar,
        _read_varint,
    )
    from protarrow_spark.proto.model import Kind

    U64, S64 = 1 << 64, 1 << 63

    if kind in (Kind.INT64, Kind.ENUM):

        def r(data, pos):
            raw, pos = _read_varint(data, pos)
            return (raw - U64 if raw >= S64 else raw), pos

    elif kind is Kind.INT32:

        def r(data, pos):
            raw, pos = _read_varint(data, pos)
            low = raw & 0xFFFFFFFF
            return (low - (1 << 32) if low >= (1 << 31) else low), pos

    elif kind in (Kind.UINT32, Kind.UINT64):
        r = _read_varint
    elif kind in (Kind.SINT32, Kind.SINT64):

        def r(data, pos):
            raw, pos = _read_varint(data, pos)
            return (raw >> 1) ^ -(raw & 1), pos

    elif kind is Kind.BOOL:

        def r(data, pos):
            raw, pos = _read_varint(data, pos)
            return raw != 0, pos

    elif kind is Kind.DOUBLE:

        def r(data, pos):
            return _struct.unpack_from("<d", data, pos)[0], pos + 8

    elif kind is Kind.STRING:

        def r(data, pos):
            n, pos = _read_varint(data, pos)
            _check_bounds(data, pos, n)
            return data[pos : pos + n].decode("utf-8"), pos + n

    elif kind is Kind.BYTES:

        def r(data, pos):
            n, pos = _read_varint(data, pos)
            _check_bounds(data, pos, n)
            return bytes(data[pos : pos + n]), pos + n

    else:  # float / fixed kinds: rare — keep the generic reader

        def r(data, pos, *, kind=kind):
            return _read_scalar(data, pos, kind)

    return r


def compile_wire_to_row(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
):
    """Compile ``serialized bytes -> row tuple (schema field order)``
    without building a top-level Message.

    The inverse fast path of :func:`compile_row_to_wire`: one pass
    over the wire stream dispatches on field number into per-field
    handlers that write row cells directly. All conversion policy is
    the SAME compiled converters the Message path uses
    (``encode._scalar_converter`` / ``encode._value_converter``), and
    the public merge semantics are preserved exactly: scalars last-
    wins, single message fields MERGE across occurrences (accumulated
    in a sub-Message, converted once at the end), repeated/map append/
    overwrite, unknown fields skip, oneof later-member-wins clears its
    siblings, packed and expanded repeated encodings both accepted.
    Nested message VALUES still parse into Messages (their converters
    need message trees); only the top level is direct. The nested
    converters read each Message's ``_values`` storage directly, so
    what a nested value costs is its parse and one allocation, not
    the attribute protocol.

    Differential-tested bit-for-bit against ``row_builder(parse(...))``
    over the golden corpora and the random full matrix.
    """
    from protarrow_spark.conversion.encode import (
        _identity as _conv_identity,
        _scalar_converter,
        _value_converter,
    )
    from protarrow_spark.proto.message import (
        _check_bounds,
        _oneof_siblings,
        _read_varint,
        _skip,
        parse_into,
    )
    from protarrow_spark.proto.model import TIMESTAMP, Kind

    trace = (mtype.full_name,)
    n_fields = len(mtype.fields)
    index_of = {f.name: i for i, f in enumerate(mtype.fields)}

    init_cells: list = [None] * n_fields
    finalizers: list = []  # (idx, fn) applied in field order
    handlers: dict[int, object] = {}

    for field in mtype.fields:
        idx = index_of[field.name]
        sibs = tuple(index_of[s] for s in _oneof_siblings(mtype, field))
        if field.is_map:
            entry_mt = field.message
            key_conv = _scalar_converter(entry_mt.fields_by_number[1], config)
            val_conv = _value_converter(
                entry_mt.fields_by_number[2], config, trace
            )
            as_list = config.map_as_list

            def h_map(data, pos, wt, slots, *, idx=idx, entry_mt=entry_mt):
                ln, pos = _read_varint(data, pos)
                _check_bounds(data, pos, ln)
                entry = Message(entry_mt)
                parse_into(entry, data[pos : pos + ln])
                d = slots[idx]
                if d is None:
                    d = {}
                    slots[idx] = d
                d[entry.key] = entry.value
                return pos + ln

            def f_map(raw, *, key_conv=key_conv, val_conv=val_conv, as_list=as_list):
                items = raw.items() if raw else ()
                if as_list:
                    return [(key_conv(k), val_conv(v)) for k, v in items]
                return {key_conv(k): val_conv(v) for k, v in items}

            handlers[field.number] = h_map
            finalizers.append((idx, f_map))
        elif field.kind is Kind.MESSAGE:
            sub_mt = field.message
            val_conv = _value_converter(field, config, trace)
            if field.repeated:

                def h_rep_msg(
                    data, pos, wt, slots, *, idx=idx, sub_mt=sub_mt, val_conv=val_conv
                ):
                    ln, pos = _read_varint(data, pos)
                    _check_bounds(data, pos, ln)
                    item = Message(sub_mt)
                    parse_into(item, data[pos : pos + ln])
                    lst = slots[idx]
                    if lst is None:
                        lst = []
                        slots[idx] = lst
                    lst.append(val_conv(item))
                    return pos + ln

                handlers[field.number] = h_rep_msg
                finalizers.append((idx, lambda v: v if v is not None else []))
            elif sub_mt.full_name == TIMESTAMP.full_name and (
                config.timestamp_type in ("timestamp", "long_nanos")
            ):
                # Specialized Timestamp submessage: the generic path
                # builds a Message (allocation + attribute protocol)
                # per occurrence — ~40% of flat-event decode time. The
                # two varints parse directly into a [seconds, nanos]
                # accumulator with the same merge semantics (scalar
                # subfields last-wins across occurrences, unknown
                # subfields skipped, int64/int32 sign handling as in
                # _read_scalar).
                U64, S64 = 1 << 64, 1 << 63

                def h_ts(data, pos, wt, slots, *, idx=idx, sibs=sibs):
                    ln, pos = _read_varint(data, pos)
                    _check_bounds(data, pos, ln)
                    end = pos + ln
                    st = slots[idx]
                    if type(st) is not list:
                        st = [0, 0]
                        slots[idx] = st
                    while pos < end:
                        tag, pos = _read_varint(data, pos)
                        fn = tag >> 3
                        if fn == 1:
                            raw, pos = _read_varint(data, pos)
                            st[0] = raw - U64 if raw >= S64 else raw
                        elif fn == 2:
                            raw, pos = _read_varint(data, pos)
                            low = raw & 0xFFFFFFFF
                            st[1] = (
                                low - (1 << 32) if low >= (1 << 31) else low
                            )
                        else:
                            pos = _skip(data, pos, tag & 7)
                    for s in sibs:
                        slots[s] = None
                    return end

                handlers[field.number] = h_ts
                if config.timestamp_type == "long_nanos":

                    def f_ts(v):
                        if type(v) is not list:
                            return v
                        return v[0] * 1_000_000_000 + v[1]

                else:
                    import datetime as _dt

                    _epoch = _dt.datetime(
                        1970, 1, 1, tzinfo=_dt.timezone.utc
                    )

                    def f_ts(v, *, _epoch=_epoch, _td=_dt.timedelta):
                        if type(v) is not list:
                            return v
                        return _epoch + _td(
                            seconds=v[0], microseconds=v[1] // 1_000
                        )

                finalizers.append((idx, f_ts))
            else:

                def h_msg(
                    data, pos, wt, slots, *, idx=idx, sub_mt=sub_mt, sibs=sibs
                ):
                    ln, pos = _read_varint(data, pos)
                    _check_bounds(data, pos, ln)
                    acc = slots[idx]
                    if not isinstance(acc, Message):
                        acc = Message(sub_mt)
                        slots[idx] = acc
                    parse_into(acc, data[pos : pos + ln])
                    for s in sibs:
                        slots[s] = None
                    return pos + ln

                handlers[field.number] = h_msg
                finalizers.append(
                    (
                        idx,
                        lambda v, *, val_conv=val_conv: (
                            val_conv(v) if isinstance(v, Message) else v
                        ),
                    )
                )
        elif field.repeated:
            kind = field.kind
            conv = _scalar_converter(field, config)
            unpacked = kind in (Kind.STRING, Kind.BYTES)
            reader = _make_scalar_reader(kind)

            def h_rep(
                data, pos, wt, slots, *, idx=idx, reader=reader, conv=conv,
                unpacked=unpacked,
            ):
                lst = slots[idx]
                if lst is None:
                    lst = []
                    slots[idx] = lst
                if wt == 2 and not unpacked:  # packed
                    ln, pos = _read_varint(data, pos)
                    _check_bounds(data, pos, ln)
                    stop = pos + ln
                    while pos < stop:
                        v, pos = reader(data, pos)
                        lst.append(conv(v))
                    return pos
                v, pos = reader(data, pos)
                lst.append(conv(v))
                return pos

            handlers[field.number] = h_rep
            finalizers.append((idx, lambda v: v if v is not None else []))
        else:
            kind = field.kind
            conv = _scalar_converter(field, config)
            if not field.has_presence:
                init_cells[idx] = conv(field.default_value)
            reader = _make_scalar_reader(kind)
            if conv is _conv_identity:
                # fused read-and-store: no converter call, no kind
                # dispatch — the hot path for int/float/string fields

                def h_scalar_id(
                    data, pos, wt, slots, *, idx=idx, reader=reader, sibs=sibs
                ):
                    v, pos = reader(data, pos)
                    slots[idx] = v
                    for s in sibs:
                        slots[s] = None
                    return pos

                handlers[field.number] = h_scalar_id
            else:

                def h_scalar(
                    data, pos, wt, slots, *, idx=idx, reader=reader, conv=conv,
                    sibs=sibs,
                ):
                    v, pos = reader(data, pos)
                    slots[idx] = conv(v)
                    for s in sibs:
                        slots[s] = None
                    return pos

                handlers[field.number] = h_scalar

    def decode_wire(data: bytes) -> tuple:
        slots = list(init_cells)
        pos = 0
        end = len(data)
        while pos < end:
            tag, pos = _read_varint(data, pos)
            h = handlers.get(tag >> 3)
            if h is None:
                pos = _skip(data, pos, tag & 7)
                continue
            pos = h(data, pos, tag & 7, slots)
        for idx, fin in finalizers:
            slots[idx] = fin(slots[idx])
        return tuple(slots)

    return decode_wire
