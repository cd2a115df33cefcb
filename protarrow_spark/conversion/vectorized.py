"""Vectorized (numpy) wire ENCODE for batches of messages.

``compile_row_to_wire`` walks Python objects per row (~40k rows/s on
a 5-field message — enum dispatch, per-field closures, a Message
allocation per Timestamp). At 100 TB the executor-side codec IS the
conversion surface, so this module compiles a BATCH encoder that does
the same work columnar: two's-complement/zigzag mapping, varint byte
classes, default-skip masks and Timestamp submessage bodies are numpy
array ops.

Every LEN payload source is one **payload buffer**: a ``(values:
uint8, offsets: int64[n+1])`` pair, payload k being
``values[offsets[k]:offsets[k + 1]]``. STRING and BYTES cells — scalar
columns, repeated items and map sides alike — become one with a single
``pa.array`` call, which also does the UTF-8 encoding. Nested, WKT,
repeated-message and message-valued-map bodies are the frame
``(buf, offsets, bad)`` that the recursively compiled sub-encoder
hands back for the whole batch. Lengths are ``np.diff(offsets)``, and
:func:`_fill_payloads` writes a whole buffer into the output with one
numpy gather. Only the public ``encode_batch`` splits its frame into
one ``bytes`` per row, once.

Each list, map and message column is flattened once (the reference's
offsets + flat values, ``proto_to_arrow.py:469-491``), its items
converted by the row path's own decoder in one call, and struct cells
are transposed once. The valid path runs no Python step per cell; rows
are attributed cell by cell only when that one conversion raises
(:func:`_convert_rows`).

Byte-compatibility contract: for every supported message shape the
output is BIT-IDENTICAL to ``compile_row_to_wire`` (differential-
tested in tests/test_vectorized_encode.py over the random matrix).

Scope: scalar kinds INT32/64, UINT32/64, SINT32/64, FIXED/SFIXED
32/64, BOOL, ENUM, DOUBLE, FLOAT, STRING, BYTES (all config modes),
google.protobuf.Timestamp message fields, REPEATED scalars (r9:
packed numeric bodies + expanded string/bytes via offsets + flattened
values), ONEOF members (r9: plain presence fields on the wire), and
MAP fields with scalar keys/values (r9: converted entries flatten
row-major; each entry frames tag + body-length with emit_default=False
sides), and plain NESTED MESSAGE fields to any depth (r9: each level's
bodies are a recursive batch encode, framed tag + len). r10 closes
the final quarter: non-Timestamp WKTs (wrappers/Duration/Date/
TimeOfDay/Empty — scalar cell forms split into the WKT MessageType's
sub-columns and recursed), REPEATED MESSAGE fields (items flatten
row-major, one LEN frame per item), MESSAGE-VALUED MAPS (raw values
dedup by key, then per-entry LEN frames), and RECURSIVE types under
``skip_recursive_messages`` (non-null cells emit tag + len 0, the row
converter's empty-Message serialization — repeated recursive items
and recursive map values emit empty bodies the same way, None cells
included, since the row converter ignores the cell). With that, every
shape the row path supports in skip mode encodes vectorized; only
raise-mode recursion returns None (the row path raises at compile).
Runtime surprises (unexpected dtypes)
raise :class:`Unvectorizable` and the caller falls back per batch —
the row path stays the semantics oracle.

Reference parity: the reference's encode direction is
``proto_to_arrow.py`` (pyarrow-native columnar appends); this is the
same columnar idea pointed the other way (Spark/pandas columns ->
wire bytes) for the distributed codec.
"""

from __future__ import annotations

import datetime
from functools import partial
from itertools import chain, repeat
from operator import itemgetter
from typing import Any, Callable

import struct as _struct

from protarrow_spark.config import ProtarrowSparkConfig
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
from protarrow_spark.proto.message import _KINDS, _VARINT_RANGE, _tag_bytes

#: proto Date(year=0) cell form (encode.py DATE_SENTINEL; imported
#: lazily in _wkt_sub_columns would cost per call — it's a constant)
_DATE_SENTINEL = datetime.date(1, 1, 1)


class Unvectorizable(Exception):
    """Batch shape the vectorized path cannot handle; use the row path."""


_VARINT_SIGNED = {Kind.INT32, Kind.INT64, Kind.ENUM}
_VARINT_UNSIGNED = {Kind.UINT32, Kind.UINT64}
_ZIGZAG = {Kind.SINT32, Kind.SINT64}
_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5

#: Thresholds 2^7, 2^14 ... 2^63 — a uint64 v needs 1 + #(v >= t) varint bytes.
_VARINT_THRESHOLDS = [1 << (7 * k) for k in range(1, 10)]


def _varint_nbytes(u):
    """Per-row varint byte count for a uint64 array."""
    import numpy as np

    nb = np.ones(len(u), dtype=np.int64)
    for t in _VARINT_THRESHOLDS:
        nb += (u >= np.uint64(t)).astype(np.int64)
    return nb


def _fill_varint(buf, pos, u, nb, active):
    """Write varints for ``active`` rows: value u[i] (uint64), nb[i]
    bytes, starting at buf[pos[i]]."""
    import numpy as np

    maxnb = int(nb[active].max()) if active.any() else 0
    for j in range(maxnb):
        m = active & (nb > j)
        if not m.any():
            break
        byte = ((u[m] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[m] - 1) > j
        byte = byte | (cont.astype(np.uint8) << 7)
        buf[pos[m] + j] = byte


def _fill_fixed(buf, pos, u, nbytes, active):
    """Little-endian fixed-width dump of uint64/uint32 array u."""
    import numpy as np

    for j in range(nbytes):
        byte = ((u[active] >> np.uint64(8 * j)) & np.uint64(0xFF)).astype(np.uint8)
        buf[pos[active] + j] = byte


#: Fixed-width kinds whose struct.pack codes reject out-of-range input
#: in the row path (``<I`` / ``<i``); the vectorized path must match
#: rather than silently mask to the low 32 bits. FIXED64 is absent on
#: purpose: the row path re-wraps negative int64 via the uint64
#: decoder (decode.py ``_uint64_decoder``), which equals the
#: two's-complement view, so all int64 inputs are in-contract.
_FIXED_RANGE = {
    Kind.FIXED32: (0, (1 << 32) - 1),
    Kind.SFIXED32: (-(1 << 31), (1 << 31) - 1),
}


def _range_check(kind: Kind, v, bad, rows=None, lo=None, hi=None):
    """Check values ``v`` against ``kind``'s range (or ``[lo, hi]``).
    Strict mode (``bad`` is None): raise on the first out-of-range
    value, like the row path's wire writer. Permissive mode: mark the
    violating rows in ``bad`` instead (``rows[k]`` is value k's row;
    None when values are rows) — the caller nulls exactly those rows
    (the vectorized twin of the per-row try/except). Null rows must
    hold 0, which every range contains. Returns the violation mask."""
    if lo is None:
        if kind in (Kind.INT64, Kind.SINT64, Kind.UINT64):
            # an int64 array cannot leave int64 range, and the
            # two's-complement view covers the full uint64 range
            return None
        if kind not in _VARINT_RANGE and kind not in _FIXED_RANGE:
            return None
        lo, hi = _VARINT_RANGE[kind] if kind in _VARINT_RANGE else _FIXED_RANGE[kind]
    viol = (v < lo) | (v > hi)
    if viol.any():
        if bad is None:
            raise ValueError(
                f"{kind.name} value {int(v[viol][0])} out of range [{lo}, {hi}]"
            )
        bad[viol if rows is None else rows[viol]] = True
    return viol


def _payload_buffer(cells, kind: Kind, null=None):
    """STRING or BYTES cells (an object array, or a list) -> payload
    buffer ``(values, offsets)``; a ``null`` cell is empty. One
    ``pa.array`` call encodes UTF-8 and concatenates.

    A cell of another type, or a string UTF-8 cannot encode (a lone
    surrogate), raises :class:`Unvectorizable`, so the row path decides
    the batch. It raises AttributeError for a non-str STRING cell (an
    encoder bug, deliberately fatal even in permissive mode —
    distributed.py's except list), so nothing here coerces with
    ``str(x)``; its ``bytes(x)`` converter judges BYTES cells."""
    import numpy as np
    import pyarrow as pa
    from pandas.api.types import infer_dtype

    if kind is Kind.STRING:
        want, typ = "string", pa.large_string()
    else:
        want, typ = "bytes", pa.large_binary()
    got = infer_dtype(cells if null is None else cells[~null], skipna=False)
    if got not in (want, "empty"):
        raise Unvectorizable(f"{kind.name} cells of type {got}")
    try:
        arr = pa.array(cells, type=typ, mask=null)
    except UnicodeEncodeError as exc:
        raise Unvectorizable(str(exc)) from exc
    _, offsets, values = arr.buffers()
    return (
        np.frombuffer(values, dtype=np.uint8),
        np.frombuffer(offsets, dtype=np.int64, count=len(arr) + 1),
    )


def _fill_payloads(buf, dst, values, offsets, active):
    """Write payload k of the buffer ``(values, offsets)`` at
    ``buf[dst[k]:]`` for every active k, all with one numpy gather."""
    import numpy as np

    plen = np.where(active, np.diff(offsets), 0)
    total = int(plen.sum())
    if not total:
        return
    run = np.cumsum(plen) - plen  # payload k's start among the copied bytes
    src = np.repeat(offsets[:-1] - run, plen) + np.arange(total)
    buf[src + np.repeat(dst - offsets[:-1], plen)] = values[src]


def _len_parts(number: int, values, offsets) -> dict:
    """LEN wire parts of one payload buffer: the tag, per-payload
    lengths and their varint sizes, and ``contrib``, each payload's
    framed size (tag + length + payload)."""
    import numpy as np

    plen = np.diff(offsets)
    lnb = _varint_nbytes(plen.view(np.uint64))
    tag = _tag_bytes(number, _WT_LEN)
    return dict(
        klass="len", tag=tag, values=values, offsets=offsets, plen=plen,
        lnb=lnb, contrib=len(tag) + lnb + plen,
    )


def _fill_len(buf, pos, parts, active):
    """Write the length varint and payload of LEN ``parts`` for the
    active items; ``pos`` points just past each item's tag."""
    import numpy as np

    _fill_varint(buf, pos, parts["plen"].view(np.uint64), parts["lnb"], active)
    _fill_payloads(
        buf, pos + parts["lnb"], parts["values"], parts["offsets"], active
    )


def _empty_frame(n: int):
    """The sub-encoder frame of ``n`` empty bodies."""
    import numpy as np

    return (
        np.zeros(0, dtype=np.uint8),
        np.zeros(n + 1, dtype=np.int64),
        np.zeros(n, dtype=bool),
    )


def _is_timestamp_field(field: Field) -> bool:
    return (
        field.kind is Kind.MESSAGE
        and not field.repeated
        and not field.is_map
        and field.message is not None
        and field.message.full_name == TIMESTAMP.full_name
    )


_SUPPORTED_SCALARS = (
    _VARINT_SIGNED
    | _VARINT_UNSIGNED
    | _ZIGZAG
    | {
        Kind.BOOL,
        Kind.DOUBLE,
        Kind.FLOAT,
        Kind.FIXED64,
        Kind.SFIXED64,
        Kind.FIXED32,
        Kind.SFIXED32,
        Kind.STRING,
        Kind.BYTES,
    }
)


def _fill_repeated(buf, pos, rt, active):
    """Write one repeated field's bytes for ``active`` rows: packed
    (tag + body-length varint + flat values) for numeric kinds,
    expanded (per-item tag + length + payload) for string/bytes."""
    import numpy as np

    tag = rt["tag"]
    row_of = rt["row_of"]
    within = rt["within"]
    # per-VALUE activity: a value participates iff its row is active
    aflat = active[row_of] if len(row_of) else np.zeros(0, dtype=bool)
    if rt["klass"] == "rep_len":
        ipos = pos[row_of] + within
        for j, tb in enumerate(tag):
            buf[ipos[aflat] + j] = tb
        _fill_len(buf, ipos + len(tag), rt, aflat)
        return
    # packed: tag + body length varint per row, then flat values
    for j, tb in enumerate(tag):
        buf[pos[active] + j] = tb
    p = pos + len(tag)
    _fill_varint(buf, p, rt["blen_u"], rt["blen_nb"], active)
    payload_start = p + rt["blen_nb"]
    vpos = (
        payload_start[row_of] + within
        if len(row_of)
        else np.zeros(0, dtype=np.int64)
    )
    if rt["klass"] == "rep_varint":
        _fill_varint(buf, vpos, rt["flat_u"], rt["nb_flat"], aflat)
    else:
        _fill_fixed(buf, vpos, rt["flat_u"], rt["width"], aflat)


#: What the row path's per-row try/except catches: a row whose value
#: raises one of these is nulled in permissive mode.
_ROW_ERRORS = (TypeError, ValueError, OverflowError, _struct.error)


def _objects(items):
    """Any iterable of items as a 1-D object array whose nested
    sequences stay single cells."""
    import numpy as np

    return np.fromiter(items, dtype=object)


def _filled(vals, null, fill):
    """``vals`` with ``fill`` in the null rows (a copy only when some
    row is null)."""
    if null.any():
        vals = vals.copy()
        vals[null] = fill
    return vals


def _null_mask_cells(cells):
    """Row-path ``_is_null`` (None / NaN float / NaT / NA) over a cell
    array: one ``pd.isna``, whose hits in an object array are
    re-checked with ``decode._is_null``, which keeps cells ``pd.isna``
    also flags (``np.datetime64('NaT')``, ``Decimal('NaN')``) as
    values, so the verdict is the row path's exactly."""
    import numpy as np
    import pandas as pd

    from protarrow_spark.conversion.decode import _is_null

    null = pd.isna(cells)
    if cells.dtype == object:
        hits = np.flatnonzero(null)
        if len(hits):
            null[hits] = list(map(_is_null, cells[hits]))
    return null


def _convert_rows(convert, cells, null, bad):
    """Run ``convert`` once over the valid (non-null) cells — the whole
    valid path — and return its results, the first of which (items per
    cell) spread over all rows as ``counts`` (0 where null).

    Only when that one call raises is a row attributed: each valid cell
    is converted alone, and a cell that fails fails its row as the row
    path's per-row try/except does (strict mode re-raises the first
    row's error, permissive mode marks the row in ``bad`` and ``null``);
    the other cells then convert once more. A call that fails as a
    whole but for no cell alone leaves the batch to the row path."""
    import numpy as np

    try:
        out = convert(cells[~null])
    except _ROW_ERRORS:
        failed = False
        for i in np.flatnonzero(~null).tolist():
            try:
                convert(cells[i : i + 1])
            except _ROW_ERRORS:
                if bad is None:
                    raise
                bad[i] = null[i] = True
                failed = True
        if not failed:
            raise Unvectorizable("cells convert alone but not together")
        out = convert(cells[~null])
    counts = np.zeros(len(cells), dtype=np.int64)
    counts[~null] = out[0]
    return (counts, *out[1:])


def _flatten(valid):
    """List cells -> (items per cell, all items row-major): one
    ``map(len, …)`` and one ``chain`` over the cells."""
    import numpy as np

    lens = np.fromiter(map(len, valid), dtype=np.int64, count=len(valid))
    return lens, list(chain.from_iterable(valid))


def _typed(py, dtype, items):
    """Convert every item with ``py`` (the row path's decoder: ``int``,
    ``float`` or ``bool``) into one array of ``dtype``."""
    import numpy as np

    try:
        return np.fromiter(map(py, items), dtype=dtype)
    except OverflowError as exc:
        if py is not int:
            raise
        # an integer past int64, which the row path's writer rejects
        # by its range
        raise ValueError(f"integer out of range: {exc}") from exc


def _converter(field: Field, config) -> Callable:
    """``items -> array``: decode.py's ``_scalar_decoder`` for ``field``
    applied to all items of a column in one call, raising what the
    decoder raises on a bad item (TypeError, ValueError) or
    OverflowError for an integer past int64. STRING items stay as
    they are, UINT64/FIXED64 items become Python ints, a negative long
    wrapped once as the row path wraps it (range-checked in
    :func:`_wire_u64`), so map keys dedup on the wire value."""
    import numpy as np

    from protarrow_spark.conversion.decode import _uint64_decoder

    kind = field.kind
    if kind is Kind.STRING:
        return _objects
    if kind is Kind.BYTES:
        return lambda items: _objects(map(bytes, items))
    if kind is Kind.BOOL:
        return partial(_typed, bool, np.bool_)
    if kind in (Kind.DOUBLE, Kind.FLOAT):
        return partial(_typed, float, np.float64)
    if kind is Kind.ENUM and config.enum_type != "int":
        get = field.enum.by_name.get  # unknown names fall back to 0
        return lambda items: np.fromiter(map(get, items, repeat(0)), dtype=np.int64)
    if kind in (Kind.UINT64, Kind.FIXED64):
        dec = _uint64_decoder(config)
        return lambda items: _objects(map(dec, items))
    return partial(_typed, int, np.int64)


def _wire_u64(kind: Kind, vals, rows, bad):
    """Converted values (:func:`_converter`) -> the uint64 words the
    wire writers emit, range-checked like the row path's writer (see
    :func:`_range_check`; ``rows[k]`` is value k's row)."""
    import numpy as np

    if kind is Kind.BOOL:
        return vals.astype(np.uint64)
    if kind is Kind.DOUBLE:
        return vals.view(np.uint64)
    if kind is Kind.FLOAT:
        return vals.astype(np.float32).view(np.uint32).astype(np.uint64)
    if kind in (Kind.UINT64, Kind.FIXED64):
        # Python ints, already wrapped: the full uint64 range
        viol = _range_check(kind, vals, bad, rows, 0, (1 << 64) - 1)
        return np.where(viol, 0, vals).astype(np.uint64)
    _range_check(kind, vals, bad, rows)
    if kind in _ZIGZAG:
        return ((vals << 1) ^ (vals >> 63)).view(np.uint64)
    return vals.view(np.uint64)


def _map_entries(valid):
    """Map cells -> (entries per cell, keys, values), row-major, read
    as decode.py's map converter reads them: a dict's items, or a list
    of (key, value) pairs or of key/value structs."""
    import numpy as np

    from protarrow_spark.conversion.decode import _as_mapping_items

    lens = np.fromiter(map(len, valid), dtype=np.int64, count=len(valid))
    types = set(map(type, valid))
    if types <= {dict}:
        keys = list(chain.from_iterable(valid))
        return lens, keys, list(chain.from_iterable(map(dict.values, valid)))
    entries = list(chain.from_iterable(valid))
    if dict in types or not set(map(type, entries)) <= {tuple, list}:
        # mixed cells, key/value structs, Rows
        entries = list(chain.from_iterable(map(_as_mapping_items, valid)))
    return lens, list(map(itemgetter(0), entries)), list(map(itemgetter(1), entries))


def _last_wins(lens, keys):
    """Entry indices a dict built per cell keeps — a repeated key at
    its first position with its last value, the row path's map
    semantics — or None when no cell repeats a key."""
    import numpy as np

    m = len(keys)
    cell = np.repeat(np.arange(len(lens)), lens).tolist()
    last = dict(zip(zip(cell, keys.tolist()), range(m)))
    if len(last) == m:
        return None
    return np.fromiter(last.values(), dtype=np.int64, count=len(last))


def _struct_columns(mtype: MessageType, structs):
    """Struct cells -> one object array per field of ``mtype``, read
    as ``decode._struct_get`` reads a struct: plain tuples and lists
    transposed once by position; any other form (a dict, a pyspark
    Row) through ``_struct_get``, cell by cell."""
    import numpy as np

    names = [f.name for f in mtype.fields]
    m, nf = len(structs), len(names)
    types = set(map(type, structs))
    if not m or not nf:
        cols: list = [()] * nf
    elif types <= {tuple, list} and min(map(len, structs)) >= nf:
        cols = list(zip(*structs))[:nf]
    else:
        from protarrow_spark.conversion.decode import _struct_get

        cols = [
            [_struct_get(c, name, j) for c in structs]
            for j, name in enumerate(names)
        ]
    return [np.fromiter(c, dtype=object, count=m) for c in cols]


def _spread(frame, keep):
    """A sub-encoder frame of the ``keep`` rows -> the frame of all
    rows, the others with empty bodies."""
    import numpy as np

    values, offsets, sub_bad = frame
    lens = np.zeros(len(keep), dtype=np.int64)
    lens[keep] = np.diff(offsets)
    full = np.zeros(len(keep) + 1, dtype=np.int64)
    np.cumsum(lens, out=full[1:])
    if sub_bad is not None:
        sub_bad, kept = np.zeros(len(keep), dtype=bool), sub_bad
        sub_bad[keep] = kept
    return values, full, sub_bad


def _side_parts(fld, vals, row_of, bad):
    """One side (key or value) of flattened, CONVERTED map entries ->
    wire parts with the row path's ``emit_default=False`` skip masks.
    Range violations raise in strict mode (``bad`` is None) and mark
    the violating ROW in permissive mode."""
    import numpy as np

    kind = fld.kind
    if kind in (Kind.STRING, Kind.BYTES):
        parts = _len_parts(fld.number, *_payload_buffer(vals, kind))
        skip = parts["plen"] == 0  # == default b"" / ""
        return dict(parts, skip=skip, contrib=np.where(skip, 0, parts["contrib"]))
    u = _wire_u64(kind, vals, row_of, bad)
    skip = u == 0  # converted default for every numeric kind;
    # -0.0 doubles have nonzero bits and correctly emit
    wt = _KINDS[kind][0]
    tag = _tag_bytes(fld.number, wt)
    if wt != _WT_VARINT:
        width = 8 if wt == _WT_I64 else 4
        contrib = np.where(skip, 0, len(tag) + width)
        return dict(klass="fixed", tag=tag, u=u, width=width, skip=skip, contrib=contrib)
    nb = _varint_nbytes(u)
    contrib = np.where(skip, 0, len(tag) + nb)
    return dict(klass="varint", tag=tag, u=u, nb=nb, skip=skip, contrib=contrib)


def _fill_side(buf, spos, parts, aflat):
    """Write one entry side's bytes for active entries (skipping
    default-valued sides, which contribute nothing)."""
    act = aflat & ~parts["skip"]
    if not act.any():
        return
    tag = parts["tag"]
    for j, tb in enumerate(tag):
        buf[spos[act] + j] = tb
    q = spos + len(tag)
    if parts["klass"] == "varint":
        _fill_varint(buf, q, parts["u"], parts["nb"], act)
    elif parts["klass"] == "fixed":
        _fill_fixed(buf, q, parts["u"], parts["width"], act)
    else:
        _fill_len(buf, q, parts, act)


def _prepare_nested(field, cells, n, config, sub_encode, bad):
    """Precompute one plain nested-message field: transpose the
    present struct cells once into one array per subfield
    (:func:`_struct_columns`), batch-encode their bodies with the
    recursively compiled encoder, and frame them like any LEN payload
    (:func:`_frame_sub_bodies`)."""
    null = _null_mask_cells(cells)
    keep = ~null
    sub_cols = _struct_columns(field.message, cells[keep])
    frame = sub_encode(sub_cols, int(keep.sum()))
    return _frame_sub_bodies(field, _spread(frame, keep), null, bad)


def _frame_sub_bodies(field, frame, null, bad):
    """Frame one sub-encoder frame ``(buf, offsets, sub_bad)`` of per-row
    bodies as a LEN field. Message presence: null skips entirely; a
    present-but-default message still emits tag + len 0, exactly as the
    compiled wire writer writes an empty Message value. A row the
    permissive sub-encode nulled has an empty body, and its violation
    belongs to the whole OUTER row (the row path's per-row try/except
    wraps the full encode)."""
    import numpy as np

    values, offsets, sub_bad = frame
    if bad is not None:
        bad |= sub_bad & ~null
    rt = _len_parts(field.number, values, offsets)
    rt.update(field=field, skip=null)
    return rt, np.where(null, 0, rt["contrib"])


def _prepare_map(field, cells, n, config, bad, msg_val=None):
    """Precompute one map field. One flatten takes every entry of the
    column (:func:`_map_entries`), the key and value decoders convert
    all keys and all values in one call each (:func:`_converter`), and
    one dict over (cell, key) pairs applies the row path's dict
    semantics (insert order, same key last-wins, :func:`_last_wins`).
    Each entry frames tag + body length with default-valued key/value
    sides omitted (``emit_default=False``). A row is attributed cell
    by cell only when a conversion raises (:func:`_convert_rows`).
    ``msg_val`` = (sub_encode, kind) for message-valued maps: raw
    values, checked like repeated items (:func:`_check_items`), batch-
    encode into per-entry LEN frames via :func:`_msg_value_side_parts`."""
    import numpy as np

    entry = field.message
    key_f = entry.fields_by_number[1]
    val_f = entry.fields_by_number[2]
    key_conv = _converter(key_f, config)
    if msg_val is None:
        val_conv = _converter(val_f, config)
    elif msg_val[1] == "rec":
        # recursive-typed values: the row converter ignores the cell
        # (every value — even None — becomes an empty body)
        val_conv = _objects
    else:
        val_conv = partial(
            _check_items,
            empty_ok=_null_is_empty(val_f.message),
            what=f"None value in map {field.name}",
        )

    def convert(valid):
        lens, keys, vals = _map_entries(valid)
        keys, vals = key_conv(keys), val_conv(vals)
        last = _last_wins(lens, keys)
        if last is not None:
            cell = np.repeat(np.arange(len(lens)), lens)[last]
            lens = np.bincount(cell, minlength=len(lens))
            keys, vals = keys[last], vals[last]
        return lens, keys, vals

    null = _null_mask_cells(cells)
    counts, keys, vals = _convert_rows(convert, cells, null, bad)
    ends = np.cumsum(counts)
    starts = ends - counts
    row_of = np.repeat(np.arange(n), counts)
    kparts = _side_parts(key_f, keys, row_of, bad)
    if msg_val is None:
        vparts = _side_parts(val_f, vals, row_of, bad)
    else:
        sub_encode, ikind = msg_val
        vparts = _msg_value_side_parts(
            val_f, vals, row_of, config, sub_encode, ikind, bad
        )
    body_len = kparts["contrib"] + vparts["contrib"]
    blen_u = body_len.view(np.uint64)
    blen_nb = _varint_nbytes(blen_u)
    tag = _tag_bytes(field.number, _WT_LEN)
    entry_total = len(tag) + blen_nb + body_len
    csum = np.zeros(len(entry_total) + 1, dtype=np.int64)
    np.cumsum(entry_total, out=csum[1:])
    skip = null | (counts == 0)
    flen = np.where(skip, 0, csum[ends] - csum[starts])
    rt = dict(
        field=field, klass="map", tag=tag, skip=skip, row_of=row_of,
        within=csum[:-1] - csum[starts][row_of],
        blen_u=blen_u, blen_nb=blen_nb, kcontrib=kparts["contrib"],
        kparts=kparts, vparts=vparts,
    )
    return rt, flen


def _fill_map(buf, pos, rt, active):
    import numpy as np

    tag = rt["tag"]
    row_of = rt["row_of"]
    aflat = active[row_of] if len(row_of) else np.zeros(0, dtype=bool)
    if not aflat.any():
        return
    ipos = pos[row_of] + rt["within"]
    for j, tb in enumerate(tag):
        buf[ipos[aflat] + j] = tb
    p = ipos + len(tag)
    _fill_varint(buf, p, rt["blen_u"], rt["blen_nb"], aflat)
    kpos = p + rt["blen_nb"]
    _fill_side(buf, kpos, rt["kparts"], aflat)
    vpos = kpos + rt["kcontrib"]
    _fill_side(buf, vpos, rt["vparts"], aflat)


def _frame_items(field, values, offsets, counts, null):
    """Frame one expanded repeated field — string/bytes items or
    message items, flattened row-major into the payload buffer
    ``(values, offsets)`` with ``counts`` items per row: one tag + len +
    payload per item (emit_default=True: empty items still emit)."""
    import numpy as np

    n = len(counts)
    rt = _len_parts(field.number, values, offsets)
    csum = np.zeros(len(offsets), dtype=np.int64)
    np.cumsum(rt["contrib"], out=csum[1:])
    ends = np.cumsum(counts)
    starts = ends - counts
    row_of = np.repeat(np.arange(n), counts)
    skip = null | (counts == 0)
    rt.update(
        field=field, klass="rep_len", skip=skip, row_of=row_of,
        within=csum[:-1] - csum[starts][row_of],
    )
    return rt, np.where(skip, 0, csum[ends] - csum[starts])


def _prepare_repeated(field, cells, n, config, bad):
    """Precompute one repeated scalar field with the reference's
    offsets+flat-values formulation (proto_to_arrow.py:469-491): one
    flatten of the whole column (:func:`_flatten`) gives the per-row
    counts and the items, and the field's decoder converts all items
    in one call (:func:`_converter`). Numeric kinds then take their
    wire words, range-checked as array ops with each value's row
    (``row_of``), and per-row packed body lengths; string/bytes items
    take per-item expanded lengths.

    Mirrors the row path exactly: None/empty cells emit nothing; an
    item the decoder rejects (a None, a nested list) fails its ROW —
    attributed cell by cell only when the one conversion raises
    (:func:`_convert_rows`) — and a range violation fails its ROW too:
    strict mode (``bad`` is None) raises, permissive mode nulls exactly
    the violating rows. STRING/BYTES items of another type raise
    :class:`Unvectorizable` (see :func:`_payload_buffer`)."""
    import numpy as np

    kind = field.kind
    conv = _converter(field, config)

    def convert(valid):
        lens, items = _flatten(valid)
        return lens, conv(items)

    null = _null_mask_cells(cells)
    counts, flat = _convert_rows(convert, cells, null, bad)
    if kind in (Kind.STRING, Kind.BYTES):
        return _frame_items(field, *_payload_buffer(flat, kind), counts, null)

    # numeric kinds: packed body (proto3 default), tag wt=LEN
    ends = np.cumsum(counts)
    starts = ends - counts
    row_of = np.repeat(np.arange(n), counts)
    flat_u = _wire_u64(kind, flat, row_of, bad)
    skip = null | (counts == 0)
    tag = _tag_bytes(field.number, _WT_LEN)
    rt: dict[str, Any] = {"field": field}
    wt = _KINDS[kind][0]
    if wt != _WT_VARINT:
        width = 8 if wt == _WT_I64 else 4
        body_len = counts * width
        within = (np.arange(len(flat_u)) - starts[row_of]) * width
        rt.update(klass="rep_fixed", width=width)
    else:
        nb_flat = _varint_nbytes(flat_u)
        csum = np.zeros(len(flat_u) + 1, dtype=np.int64)
        np.cumsum(nb_flat, out=csum[1:])
        body_len = csum[ends] - csum[starts]
        within = csum[:-1] - csum[starts][row_of]
        rt.update(klass="rep_varint", nb_flat=nb_flat)
    blen_u = body_len.view(np.uint64)
    blen_nb = _varint_nbytes(blen_u)
    flen = np.where(skip, 0, len(tag) + blen_nb + body_len)
    rt.update(
        tag=tag, skip=skip, flat_u=flat_u, row_of=row_of, within=within,
        blen_u=blen_u, blen_nb=blen_nb,
    )
    return rt, flen


def _ts_sec_nano(s, null, config):
    """Timestamp cells (pandas Series) -> (seconds, nanos) int64 arrays
    with the row path's pd.Timestamp.value // 1000 FLOOR semantics.
    Shared by the dedicated singular-Timestamp klass and the WKT
    splitter (repeated / map-valued Timestamp contexts)."""
    import numpy as np
    import pandas as pd

    try:
        if config.timestamp_type == "long_nanos":
            v = s.to_numpy()
            nanos_total = _filled(v, pd.isna(v), 0).astype(np.int64)
            sec = nanos_total // 1_000_000_000
            nano = nanos_total - sec * 1_000_000_000
        else:
            if getattr(s.dtype, "tz", None) is not None:
                # tz-aware: same ns-since-epoch the row path
                # reads via pd.Timestamp.value
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            vals = s.to_numpy()
            if vals.dtype == object:
                if bool(null.all()):
                    # an all-None column stays object dtype; every row
                    # skips the field so the values are irrelevant
                    z = np.zeros(len(s), dtype=np.int64)
                    return z, z.copy()
                # object columns of datetime/pd.Timestamp cells (e.g.
                # DataFrames built from records): let pandas infer the
                # exact datetime64 form; mixed/naive+aware stays object
                # and falls through to Unvectorizable below
                s = pd.Series(s.tolist())
                if getattr(s.dtype, "tz", None) is not None:
                    s = s.dt.tz_convert("UTC").dt.tz_localize(None)
                vals = s.to_numpy()
            if not np.issubdtype(vals.dtype, np.datetime64):
                raise Unvectorizable(f"timestamp dtype {vals.dtype}")
            unit = np.datetime_data(vals.dtype)[0]
            ints = vals.astype(np.int64)  # NaT -> INT64_MIN, masked
            # FLOOR to micros (pd.Timestamp.value // 1000
            # semantics — numpy's astype truncates toward
            # zero for pre-epoch values, which would be off
            # by one for negative sub-us remainders)
            if unit == "ns":
                us = np.floor_divide(ints, 1000)
            elif unit == "us":
                us = ints
            elif unit == "ms":
                us = ints * 1_000
            elif unit == "s":
                us = ints * 1_000_000
            else:
                raise Unvectorizable(f"timestamp unit {unit}")
            us = np.where(null, 0, us)
            sec = us // 1_000_000
            nano = (us - sec * 1_000_000) * 1_000
    except (TypeError, ValueError) as exc:
        raise Unvectorizable(str(exc)) from exc
    return sec, nano


#: WKT full names the vectorized paths can split into / combine from
#: sub-columns of the (flat, all-scalar) WKT MessageType. Timestamp is
#: here for the FLATTENED contexts (repeated items, map values); the
#: singular Timestamp field keeps its dedicated fast klass.
_SPLITTABLE_WKTS = (
    {
        TIMESTAMP.full_name,
        DURATION.full_name,
        DATE.full_name,
        TIME_OF_DAY.full_name,
        EMPTY.full_name,
    }
    | set(WRAPPER_TYPES)
)

#: decode.py's Duration decoder reads micros up to this far from zero.
_DURATION_LIMIT = datetime.timedelta(microseconds=1 << 62)


def _wkt_sub_columns(mtype: MessageType, vals, n, null, config):
    """Scalar WKT cells (an array) -> sub-column arrays of the WKT's own
    MessageType, so the recursively compiled batch encoder can emit the
    submessage bodies. Value semantics mirror decode.py's per-WKT
    decoders exactly (``_timestamp_decoder`` / ``_duration_decoder`` /
    ``_date_decoder`` / ``_time_of_day_decoder`` / wrapper identity);
    dtype surprises raise :class:`Unvectorizable` so the row path — the
    semantics oracle — decides."""
    import numpy as np
    import pandas as pd

    name = mtype.full_name
    if name == TIMESTAMP.full_name:
        if vals.dtype == object and config.timestamp_type != "long_nanos":
            # flattened items arrive as objects; let pandas infer
            # datetime64 (exact), as for a nested Timestamp sub-column
            vals = vals.tolist()
        return list(_ts_sec_nano(pd.Series(vals), null, config))
    if name == DURATION.full_name:
        if config.duration_type == "long_nanos":
            try:
                ns = _filled(vals, pd.isna(vals), 0).astype(np.int64)
            except (TypeError, ValueError) as exc:
                raise Unvectorizable(str(exc)) from exc
            sec = ns // 1_000_000_000
            nano = ns - sec * 1_000_000_000
        else:
            if np.issubdtype(vals.dtype, np.timedelta64):
                unit = np.datetime_data(vals.dtype)[0]
                ints = vals.astype(np.int64)  # NaT -> INT64_MIN, masked
                if unit == "ns":
                    us = np.floor_divide(ints, 1000)  # pd .value // 1000
                elif unit == "us":
                    us = ints
                else:
                    raise Unvectorizable(f"duration unit {unit}")
                us = np.where(null, 0, us)
            else:
                # timedelta / pd.Timedelta cells: numpy reads their
                # days, seconds and microseconds, which for a
                # pd.Timedelta is its .value // 1000 (floor)
                us = np.zeros(n, dtype=np.int64)
                cells = vals[~null]
                odd = set(map(type, cells)) - {datetime.timedelta, pd.Timedelta}
                if odd:
                    raise Unvectorizable(
                        f"duration cell of type {next(iter(odd)).__name__}"
                    )
                if len(cells):
                    if not -_DURATION_LIMIT <= min(cells) <= max(cells) <= _DURATION_LIMIT:
                        raise Unvectorizable("duration beyond int64 micros")
                    us[~null] = np.array(
                        cells.tolist(), dtype="timedelta64[us]"
                    ).astype(np.int64)
            # divmod floor + protobuf sign normalization (decode.py
            # _duration_decoder.normalize: seconds and nanos share a sign)
            sec, rem = np.divmod(us, 1_000_000)
            nano = rem * 1_000
        over = (~null) & (sec < 0) & (nano > 0)
        sec = np.where(over, sec + 1, sec)
        nano = np.where(over, nano - 1_000_000_000, nano)
        return [sec, nano]
    if name == DATE.full_name:
        ymd = np.zeros((3, n), dtype=np.int64)
        cells = vals[~null]
        if set(map(type, cells)) <= {datetime.date}:
            days = np.array(cells.tolist(), dtype="datetime64[D]")
            year = days.astype("datetime64[Y]")
            month = days.astype("datetime64[M]")
            fields = np.stack([
                year.astype(np.int64) + 1970,
                (month - year).astype(np.int64) + 1,
                (days - month).astype(np.int64) + 1,
            ])
            # the unset-date sentinel round-trips to Date()
            fields[:, days == np.datetime64(_DATE_SENTINEL)] = 0
            ymd[:, ~null] = fields
        else:  # datetimes, pd.Timestamps: their calendar fields
            for i in np.flatnonzero(~null):
                v = vals[i]
                if hasattr(v, "date") and not isinstance(v, datetime.date):
                    v = v.date()  # like decode.py _date_decoder
                if not isinstance(v, datetime.date):
                    raise Unvectorizable(f"date cell of type {type(v).__name__}")
                if v != _DATE_SENTINEL:
                    ymd[:, i] = v.year, v.month, v.day
        return list(ymd)
    if name == TIME_OF_DAY.full_name:
        try:
            total = _filled(vals, pd.isna(vals), 0).astype(np.int64)
        except (TypeError, ValueError) as exc:
            raise Unvectorizable(str(exc)) from exc
        nanos = total % 1_000_000_000
        seconds_total = total // 1_000_000_000
        minutes_total, seconds = np.divmod(seconds_total, 60)
        hours, minutes = np.divmod(minutes_total, 60)
        return [hours, minutes, seconds, nanos]
    if name in WRAPPER_TYPES:
        return [vals]  # the sub-encoder applies the value-kind policy
    raise Unvectorizable(f"unsupported WKT {name}")  # pragma: no cover


def _prepare_wkt(field, cells, n, config, sub_encode, bad):
    """Precompute one singular non-Timestamp WKT field (wrappers,
    Duration, Date, TimeOfDay, Empty): split the scalar cell form into
    the WKT MessageType's sub-columns, batch-encode the bodies with the
    recursively compiled encoder, and frame tag + len + body. Byte
    parity with the row path: decode.py's WKT decoders build a Message
    whose compiled wire writer skips default-valued subfields — the
    recursive batch encode does the identical default skipping."""
    import pandas as pd

    vals = cells.to_numpy() if isinstance(cells, pd.Series) else cells
    null = _null_mask_cells(vals)
    if field.message.full_name == EMPTY.full_name:
        return _frame_sub_bodies(field, _empty_frame(n), null, bad)
    sub_cols = _wkt_sub_columns(field.message, vals, n, null, config)
    return _frame_sub_bodies(field, sub_encode(sub_cols, n), null, bad)


def _item_payloads(sub_mt, items, m, config, sub_encode, kind):
    """Flattened message items -> the frame ``(buf, offsets, item_bad)``
    of their wire bodies. ``kind``: "wkt" routes through the
    scalar-cell splitter, "plain" transposes the struct cells
    (:func:`_struct_columns`), "rec" (recursive-typed items, skip mode)
    emits empty bodies — the row converter ignores the cell.
    ``item_bad`` marks items a permissive sub-encoder nulled (their
    bodies are empty)."""
    import numpy as np

    if kind == "rec" or sub_mt.full_name == EMPTY.full_name:
        return _empty_frame(m)
    if kind == "wkt":
        null = np.zeros(m, dtype=bool)  # items are non-null by contract
        sub_cols = _wkt_sub_columns(sub_mt, items, m, null, config)
    else:
        sub_cols = _struct_columns(sub_mt, items)
    values, offsets, item_bad = sub_encode(sub_cols, m)
    return values, offsets, np.zeros(m, dtype=bool) if item_bad is None else item_bad


def _null_is_empty(mtype: MessageType) -> bool:
    """Whether a None item or map value of ``mtype`` encodes as an empty
    body: decode.py's wrapper and Empty decoders build an empty message
    from None, every other message decoder raises on it."""
    return mtype.full_name in WRAPPER_TYPES or mtype.full_name == EMPTY.full_name


def _check_items(items, empty_ok: bool, what: str):
    """Check message items or map values, returned as an array: a None
    passes when ``empty_ok`` (the sub-encoder skips the wrapper's unset
    value) and otherwise raises the row path's TypeError (struct get /
    int()). A NaN fails the same way, except in a wrapper, where the
    row path keeps NaN as the value and so decides the batch. Only the
    ``pd.isna`` hits are looked at one by one."""
    import numpy as np
    import pandas as pd

    items = _objects(items)
    for x in items[pd.isna(items)]:
        if x is None:
            if not empty_ok:
                raise TypeError(what)
        elif isinstance(x, float) and x != x:
            if empty_ok:
                raise Unvectorizable(f"NaN wrapper item: {what}")
            raise TypeError(what)
    return items


def _prepare_repeated_msg(field, cells, n, config, sub_encode, kind, bad):
    """Precompute one repeated MESSAGE field (plain nested, WKT, or
    recursive items): one flatten of the column (:func:`_flatten`)
    gives the items row-major, checked in one pass
    (:func:`_check_items`), one recursive batch encode gives their
    bodies, and each item frames tag + len + payload (messages never
    pack), reusing the expanded rep_len layout. A null item or a
    contract-violating item fails its whole ROW (the row path's
    per-row try/except wraps the full ``[dec(x) for x in v]`` list
    comprehension), attributed cell by cell only when the check raises
    (:func:`_convert_rows`) — EXCEPT recursive items, whose row
    converter ignores the cell (even None encodes as an empty body)."""
    import numpy as np

    empty_ok = _null_is_empty(field.message)
    what = f"None item in repeated {field.name}"

    def convert(valid):
        lens, items = _flatten(valid)
        if kind == "rec":
            return lens, _objects(items)
        return lens, _check_items(items, empty_ok, what)

    null = _null_mask_cells(cells)
    counts, items = _convert_rows(convert, cells, null, bad)
    values, offsets, item_bad = _item_payloads(
        field.message, items, len(items), config, sub_encode, kind
    )
    if item_bad.any():  # permissive only: strict sub-encodes raise
        bad[np.repeat(np.arange(n), counts)[item_bad]] = True
    return _frame_items(field, values, offsets, counts, null)


def _msg_value_side_parts(val_f, flat, row_of, config, sub_encode, kind, bad):
    """Map VALUE side for message-valued maps: one LEN frame per entry,
    never skipped (the compiled wire writer always emits message
    values, even empty bodies — unlike scalar sides' emit_default=False)."""
    import numpy as np

    m = len(flat)
    values, offsets, item_bad = _item_payloads(
        val_f.message, flat, m, config, sub_encode, kind
    )
    if item_bad.any():  # permissive only: strict sub-encodes raise
        bad[row_of[item_bad]] = True
    return dict(
        _len_parts(val_f.number, values, offsets), skip=np.zeros(m, dtype=bool)
    )


def compile_batch_to_wire(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    permissive: bool = False,
    _trace: tuple = (),
) -> Callable[[list], list] | None:
    """Compile ``[column arrays in SCHEMA field order] -> [bytes per
    row]`` for a supported message, or return None.

    Output is byte-identical to ``compile_row_to_wire`` applied to the
    zipped rows (fields emitted in field-number order, proto3 default
    skipping, presence semantics, varint range validation).

    ``permissive=True`` mirrors ``on_error="null"``: rows whose values
    violate the contract (range checks) come back as None instead of
    raising — the vectorized twin of the row loop\'s per-row
    try/except, without re-encoding the whole batch row-wise.

    Columns are Series or arrays of cells. Each list, map and message
    column is flattened once and converted in one call per kind; a
    column whose one conversion raises is converted again cell by cell
    only to find the failing rows (strict mode raises the first row's
    error, permissive mode nulls those rows), so valid batches run no
    Python step per cell. Struct cells other than tuples and lists
    (dicts, Rows) and map entries other than pairs (key/value structs)
    are read through decode.py's per-cell accessors."""
    import numpy as np

    encode_frame = _compile_frame_encoder(mtype, config, permissive, _trace)
    if encode_frame is None:
        return None

    def encode_batch(cols: list) -> list:
        buf, offsets, bad = encode_frame(cols, len(cols[0]) if cols else 0)
        raw = buf.tobytes()
        ends = offsets.tolist()
        out: list = [raw[a:b] for a, b in zip(ends, ends[1:])]
        if bad is not None:
            for i in np.flatnonzero(bad).tolist():
                out[i] = None
        return out

    return encode_batch


def _compile_frame_encoder(
    mtype: MessageType,
    config: ProtarrowSparkConfig,
    permissive: bool,
    _trace: tuple,
) -> Callable[[list, int], tuple] | None:
    """Compile ``(columns, n) -> (buf, offsets, bad)`` for ``n`` rows,
    or return None: row i's bytes are ``buf[offsets[i]:offsets[i + 1]]``,
    and ``bad`` (None unless ``permissive``) marks the rows that violate
    the contract, whose bytes are empty. A parent message takes the
    frame of a sub-message field as that field's payload buffer."""
    import numpy as np

    if mtype.full_name in _trace:
        # recursive shapes keep the row path (which applies the
        # configured skip/raise policy)
        return None
    trace = _trace + (mtype.full_name,)
    index_of = {f.name: i for i, f in enumerate(mtype.fields)}
    plan = []
    sub_encoders: dict[int, Callable] = {}
    # message-typed item/value encoders: idx -> (sub_encode|None, is_wkt)
    item_encoders: dict[int, tuple] = {}

    def _msg_item_encoder(sub_mt: MessageType) -> tuple | None:
        """(sub_encode, kind) for message items/values of ``sub_mt``
        (repeated items, map values); kind is "plain" | "wkt" | "rec".
        "rec" (r10): recursive-typed items under skip_recursive_messages
        — the row converter is ``lambda row: Message(mtype)`` which
        ignores the cell entirely, so EVERY item (even None) emits an
        empty body. None when the shape must keep the row path
        (raise-mode recursion)."""
        if sub_mt.full_name in trace:
            if not config.skip_recursive_messages:
                return None  # row path raises TypeError at compile
            return (None, "rec")
        if sub_mt.full_name == EMPTY.full_name:
            return (None, "wkt")  # bodies are b"" — no sub-encode
        sub = _compile_frame_encoder(sub_mt, config, permissive, trace)
        kind = "wkt" if sub_mt.full_name in _SPLITTABLE_WKTS else "plain"
        return None if sub is None else (sub, kind)

    for field in mtype.fields_number_order:
        if field.is_map:
            # maps (r9): converted entries flatten row-major; each
            # entry frames tag + body-length with emit_default=False
            # key/value sides. Message VALUES (r10): one LEN frame per
            # entry value, bodies from a recursive batch encode (plain
            # messages) or the WKT cell splitter; never default-skipped
            # (the compiled wire writer always emits message values).
            entry_mt = field.message
            kf, vf = entry_mt.fields_by_number[1], entry_mt.fields_by_number[2]
            if kf.kind not in _SUPPORTED_SCALARS:
                return None
            if vf.kind is Kind.MESSAGE:
                ie = _msg_item_encoder(vf.message)
                if ie is None:
                    return None
                item_encoders[index_of[field.name]] = ie
            elif vf.kind not in _SUPPORTED_SCALARS:
                return None
            plan.append(("map", field, index_of[field.name]))
            continue
        # oneof members encode as plain presence fields: the row wire
        # writer emits every non-null member in number order (decode's
        # later-member-wins resolves multi-set rows), which is exactly
        # the has_presence scalar branch below — differential-pinned
        # in tests/test_vectorized_encode.py::test_oneof_encode
        if field.repeated:
            # repeated scalars vectorize via the reference's offsets
            # technique (proto_to_arrow.py:469-491 — offsets +
            # flattened values, one flatten per column): numeric kinds
            # pack (the row path's proto3 default), string/bytes
            # expand per occurrence.
            # Repeated MESSAGES (r10): items flatten row-major, bodies
            # batch-encode recursively (plain) or via the WKT splitter,
            # framed one tag + len + payload per item (the reference's
            # repeated-message walk, arrow_to_proto.py:588-605).
            # Repeated recursive-typed messages keep the row path.
            if field.kind is Kind.MESSAGE:
                ie = _msg_item_encoder(field.message)
                if ie is None:
                    return None
                item_encoders[index_of[field.name]] = ie
                plan.append(("rep_msg", field, index_of[field.name]))
                continue
            if field.kind not in _SUPPORTED_SCALARS:
                return None
            plan.append(("repeated", field, index_of[field.name]))
            continue
        if _is_timestamp_field(field):
            if config.timestamp_type not in ("timestamp", "long_nanos"):
                return None
            plan.append(("timestamp", field, index_of[field.name]))
            continue
        if field.kind is Kind.MESSAGE:
            # recursion (r10): under skip_recursive_messages the row
            # path's converter is ``lambda row: Message(mtype)`` — a
            # non-null cell (an empty struct in the pruned schema)
            # emits tag + len 0, null skips. Raise-mode recursive
            # shapes keep the row path (which raises TypeError).
            if field.message.full_name in trace:
                if not config.skip_recursive_messages:
                    return None
                plan.append(("rec_empty", field, index_of[field.name]))
                continue
            # non-Timestamp WKTs (r10): wrappers / Duration / Date /
            # TimeOfDay / Empty split their scalar cell form into the
            # WKT MessageType's sub-columns and recurse (reference
            # wrapper converters: arrow_to_proto.py:165-175).
            if field.message.full_name in _SPLITTABLE_WKTS:
                ie = _msg_item_encoder(field.message)
                if ie is None:  # pragma: no cover — WKTs always compile
                    return None
                item_encoders[index_of[field.name]] = ie
                plan.append(("wkt", field, index_of[field.name]))
                continue
            # plain nested messages (r9): the submessage body of every
            # row is just another batch encode — recurse and frame the
            # bodies (tag + len + body; message presence: null skips,
            # empty message still emits).
            sub = _compile_frame_encoder(field.message, config, permissive, trace)
            if sub is None:
                return None
            sub_encoders[index_of[field.name]] = sub
            plan.append(("nested", field, index_of[field.name]))
            continue
        if field.kind not in _SUPPORTED_SCALARS:
            return None
        if field.kind is Kind.ENUM and config.enum_type != "int":
            # string enum mode: vectorized via by_name map
            plan.append(("enum_name", field, index_of[field.name]))
            continue
        if field.kind in (Kind.UINT64, Kind.FIXED64) and config.uint64_type == "decimal":
            # decimal-mode uint64: Decimal cells, full 0..2^64-1 range
            # (doesn't fit int64) — dedicated object->uint64 pass
            plan.append(("u64_decimal", field, index_of[field.name]))
            continue
        plan.append(("scalar", field, index_of[field.name]))

    def encode_frame(cols: list, n: int) -> tuple:
        import pandas as pd

        bad = np.zeros(n, dtype=bool) if permissive else None
        if n == 0:
            return np.zeros(0, dtype=np.uint8), np.zeros(1, dtype=np.int64), bad
        # Per-field precomputation pass: masks, numeric forms, lengths.
        total_len = np.zeros(n, dtype=np.int64)
        fields_rt: list[dict] = []
        for klass, field, idx in plan:
            # a column is a Series, or an ndarray a parent encoder
            # built (sub-columns are never wrapped in a Series)
            s = cols[idx]
            if not isinstance(s, (pd.Series, np.ndarray)):
                s = pd.Series(s)
            if klass in ("repeated", "map", "rep_msg", "rec_empty", "nested"):
                cells = (
                    s.to_numpy(dtype=object)
                    if isinstance(s, pd.Series)
                    else s.astype(object, copy=False)
                )
            if klass == "repeated":
                rt, flen = _prepare_repeated(field, cells, n, config, bad)
            elif klass == "map":
                rt, flen = _prepare_map(
                    field, cells, n, config, bad, msg_val=item_encoders.get(idx)
                )
            elif klass == "rep_msg":
                sub, ikind = item_encoders[idx]
                rt, flen = _prepare_repeated_msg(
                    field, cells, n, config, sub, ikind, bad
                )
            elif klass == "wkt":
                sub, _ = item_encoders[idx]
                rt, flen = _prepare_wkt(field, s, n, config, sub, bad)
            elif klass == "rec_empty":
                null = _null_mask_cells(cells)
                rt, flen = _frame_sub_bodies(field, _empty_frame(n), null, bad)
            elif klass == "nested":
                rt, flen = _prepare_nested(
                    field, cells, n, config, sub_encoders[idx], bad
                )
            else:
                rt, flen = _prepare_scalar(klass, field, s, n, config, bad)
            rt["flen"] = flen
            total_len += flen
            fields_rt.append(rt)

        if bad is not None:
            total_len[bad] = 0  # a bad row's bytes are empty

        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(total_len, out=offsets[1:])
        buf = np.zeros(int(offsets[-1]), dtype=np.uint8)
        pos = offsets[:-1].copy()

        for rt in fields_rt:
            active = ~rt["skip"] if bad is None else ~(rt["skip"] | bad)
            if not active.any():
                continue
            klass = rt["klass"]
            if klass in ("rep_varint", "rep_fixed", "rep_len"):
                _fill_repeated(buf, pos, rt, active)
                pos = pos + np.where(active, rt["flen"], 0)
                continue
            if klass == "map":
                _fill_map(buf, pos, rt, active)
                pos = pos + np.where(active, rt["flen"], 0)
                continue
            tag = rt["tag"]
            for j, tb in enumerate(tag):
                buf[pos[active] + j] = tb
            p = pos + len(tag)
            if klass == "varint":
                _fill_varint(buf, p, rt["u"], rt["nb"], active)
            elif klass == "fixed":
                _fill_fixed(buf, p, rt["u"], rt["width"], active)
            elif klass == "len":
                _fill_len(buf, p, rt, active)
            else:  # timestamp submessage body
                _fill_varint(buf, p, rt["blen_u"], rt["blen_nb"], active)
                p2 = p + rt["blen_nb"]
                sec_active = active & rt["sec_on"]
                if sec_active.any():
                    buf[p2[sec_active]] = 0x08  # field 1, varint
                    _fill_varint(
                        buf, p2 + 1, rt["sec_u"], rt["sec_nb"], sec_active
                    )
                p3 = p2 + np.where(rt["sec_on"], 1 + rt["sec_nb"], 0)
                nano_active = active & rt["nano_on"]
                if nano_active.any():
                    buf[p3[nano_active]] = 0x10  # field 2, varint
                    _fill_varint(
                        buf, p3 + 1, rt["nano_u"], rt["nano_nb"], nano_active
                    )
            pos = pos + np.where(active, rt["flen"], 0)

        return buf, offsets, bad

    return encode_frame


def _prepare_scalar(klass, field, s, n, config, bad):
    """Precompute one singular scalar or Timestamp field of the column
    ``s`` (a Series, or an ndarray a parent encoder built): skip mask,
    wire form and per-row field length."""
    import numpy as np
    import pandas as pd

    from protarrow_spark.conversion.decode import _is_null

    rt: dict[str, Any] = {"field": field, "klass": klass}
    kind = field.kind
    vals = s.to_numpy() if isinstance(s, pd.Series) else s
    if vals.ndim != 1:  # array-typed cell slipped through
        raise Unvectorizable("non-scalar cell")
    null = pd.isna(vals)
    if vals.dtype == object and not all(map(_is_null, vals[null])):
        # np.datetime64('NaT'), Decimal('NaN'): values to the row path
        raise Unvectorizable("a null-like cell the row path keeps as a value")

    if klass == "timestamp":
        sec, nano = _ts_sec_nano(
            s if isinstance(s, pd.Series) else pd.Series(s), null, config
        )
        sec_u = sec.view(np.uint64)
        nano_u = nano.view(np.uint64)
        sec_nb = _varint_nbytes(sec_u)
        nano_nb = _varint_nbytes(nano_u)
        sec_on = sec != 0
        nano_on = nano != 0
        body_len = (
            np.where(sec_on, 1 + sec_nb, 0)
            + np.where(nano_on, 1 + nano_nb, 0)
        )
        blen_u = body_len.view(np.uint64)
        blen_nb = _varint_nbytes(blen_u)
        tag = _tag_bytes(field.number, _WT_LEN)
        rt.update(
            tag=tag,
            skip=null,
            sec_u=sec_u, sec_nb=sec_nb, sec_on=sec_on,
            nano_u=nano_u, nano_nb=nano_nb, nano_on=nano_on,
            body_len=body_len, blen_u=blen_u, blen_nb=blen_nb,
        )
        flen = np.where(
            null, 0, len(tag) + blen_nb + body_len
        )
    elif klass == "u64_decimal":
        # decimal-mode uint64: Decimal cells, full 0..2^64-1 range
        ints = np.zeros(n, dtype=object)
        try:
            ints[~null] = _objects(map(int, vals[~null]))
        except (TypeError, ValueError) as exc:
            raise Unvectorizable(str(exc)) from exc
        u = _wire_u64(kind, ints, None, bad)
        skip = null if field.has_presence else (null | (u == 0))
        if kind is Kind.UINT64:
            nb = _varint_nbytes(u)
            tag = _tag_bytes(field.number, _WT_VARINT)
            rt.update(tag=tag, skip=skip, u=u, nb=nb, klass="varint")
            flen = np.where(skip, 0, len(tag) + nb)
        else:  # FIXED64
            tag = _tag_bytes(field.number, _WT_I64)
            rt.update(tag=tag, skip=skip, u=u, width=8, klass="fixed")
            flen = np.where(skip, 0, len(tag) + 8)
    elif klass == "enum_name":
        get = field.enum.by_name.get  # unknown names fall back to 0
        v = np.fromiter(map(get, vals, repeat(0)), dtype=np.int64, count=n)
        v[null] = 0
        _range_check(Kind.ENUM, v, bad)
        u = v.view(np.uint64)
        nb = _varint_nbytes(u)
        skip = null if field.has_presence else (null | (v == 0))
        tag = _tag_bytes(field.number, _WT_VARINT)
        rt.update(tag=tag, skip=skip, u=u, nb=nb, klass="varint")
        flen = np.where(skip, 0, len(tag) + nb)
    elif kind in (Kind.STRING, Kind.BYTES):
        rt.update(_len_parts(
            field.number, *_payload_buffer(vals.astype(object, copy=False), kind, null)
        ))
        skip = null if field.has_presence else (null | (rt["plen"] == 0))
        rt["skip"] = skip
        flen = np.where(skip, 0, rt["contrib"])
    elif kind is Kind.BOOL:
        try:
            v = _filled(vals, null, False).astype(bool)
        except (TypeError, ValueError) as exc:
            raise Unvectorizable(str(exc)) from exc
        u = v.astype(np.uint64)
        skip = null if field.has_presence else (null | ~v)
        tag = _tag_bytes(field.number, _WT_VARINT)
        nb = np.ones(n, dtype=np.int64)
        rt.update(tag=tag, skip=skip, u=u, nb=nb, klass="varint")
        flen = np.where(skip, 0, len(tag) + 1)
    elif kind in (Kind.DOUBLE, Kind.FLOAT):
        try:
            f = _filled(vals, null, 0.0).astype(np.float64)
        except (TypeError, ValueError) as exc:
            raise Unvectorizable(str(exc)) from exc
        if kind is Kind.DOUBLE:
            u, width, wt = f.view(np.uint64), 8, _WT_I64
        else:
            u = f.astype(np.float32).view(np.uint32).astype(np.uint64)
            width, wt = 4, _WT_I32
        # proto3 default skip: exactly +0.0 (bits == 0); -0.0 emits
        skip = null if field.has_presence else (null | (u == 0))
        tag = _tag_bytes(field.number, wt)
        rt.update(tag=tag, skip=skip, u=u, width=width, klass="fixed")
        flen = np.where(skip, 0, len(tag) + width)
    else:
        try:
            v = _filled(vals, null, 0).astype(np.int64, copy=False)
        except (TypeError, ValueError) as exc:
            raise Unvectorizable(str(exc)) from exc
        # Row path packs '<I'/'<i' for FIXED32/SFIXED32, which raises
        # struct.error out of range; masking to the low 32 bits would
        # silently write a DIFFERENT number to the wire.
        _range_check(kind, v, bad)
        wt = _KINDS[kind][0]
        if kind in _ZIGZAG:
            u = ((v << 1) ^ (v >> 63)).view(np.uint64)
        else:
            u = v.view(np.uint64)
        skip = null if field.has_presence else (null | (v == 0))
        tag = _tag_bytes(field.number, wt)
        if wt == _WT_VARINT:  # int32/64, uint32/64, sint32/64, enum(int)
            nb = _varint_nbytes(u)
            rt.update(tag=tag, skip=skip, u=u, nb=nb, klass="varint")
            flen = np.where(skip, 0, len(tag) + nb)
        else:  # fixed-width: FIXED32/64, SFIXED32/64
            width = 8 if wt == _WT_I64 else 4
            rt.update(tag=tag, skip=skip, u=u, width=width, klass="fixed")
            flen = np.where(skip, 0, len(tag) + width)
    return rt, flen
