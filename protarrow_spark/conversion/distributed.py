"""Distributed proto conversion over binary columns.

This is the engine's scale path (SURVEY §3.1/§3.2 "Spark version"):
data never touches the driver. A DataFrame with a ``binary`` column
of serialized messages (the Kafka value shape, ``docs/faq.md:20-25``
in the reference) decodes into typed columns on executors, and typed
columns serialize back to proto bytes for a Kafka/file sink.

Implementation: ``mapInArrow`` (Arrow record batches, one Python
worker per partition) + the vectorized batch codec
(``conversion/vectorized*.py``), with the row codec at the end of this
module (:func:`compile_row_to_wire` / :func:`compile_wire_to_row`) as
its per-batch fallback. Spark's built-in ``from_protobuf`` / ``to_protobuf``
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
from protarrow_spark.conversion.encode import row_builder
from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch
from protarrow_spark.proto.message import _writer, parse
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
# Row codec: one Spark row tuple <-> wire bytes, the fallback of the
# vectorized kernels and the semantics they are tested against. Both
# directions are compiled once per message type. Encode pairs each
# field's decoder (Spark cell -> Message storage value, decode.py; a
# nested or WKT cell decodes to a Message) with that field's writer in
# the compiled wire writer (message.py). Decode is the compiled wire
# parser (message.py) followed by the compiled ``row_builder``
# (encode.py), so all conversion policy lives in one place per direction.
# ---------------------------------------------------------------------------


def compile_row_to_wire(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
):
    """Compile ``row-tuple (schema field order) -> serialized bytes``."""
    from protarrow_spark.conversion.decode import _field_decoder

    index_of = {f.name: i for i, f in enumerate(mtype.fields)}
    by_name = mtype.fields_by_name
    steps = [
        (index_of[n], _field_decoder(by_name[n], config, (mtype.full_name,)), write)
        for n, write in _writer(mtype).fields
    ]

    def encode_row(rec) -> bytes:
        out = bytearray()
        for idx, conv, write in steps:
            v = conv(rec[idx])
            if v is not None:
                write(out, v)
        return bytes(out)

    return encode_row


def compile_wire_to_row(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
):
    """Compile ``serialized bytes -> row tuple (schema field order)``:
    ``row_builder(mtype, config)`` applied to ``parse(data, mtype)``.
    The whole row parses before any value converts, and values convert
    in field order, so a malformed record fails its row before a
    conversion could raise."""
    build = row_builder(mtype, config)
    return lambda data: build(parse(data, mtype))
