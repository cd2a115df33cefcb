"""Vectorized (numpy) wire DECODE: a batch of serialized messages ->
per-field cell columns.

The symmetric half of :mod:`protarrow_spark.conversion.vectorized`:
``compile_wire_to_row`` parses one row's bytes in Python — a varint
loop, a dict dispatch and a handler call per record — then converts
the parsed message. This module compiles a BATCH decoder that walks
every row of a batch at once as a RECORD LOOP (:func:`_tokenize`).
Each step reads the next record of every row still inside its bytes:

* one vectorized tag read for all of them;
* a field-number -> payload-class lookup in a table built at compile
  time. The classes are varint, fixed64, LEN and fixed32, and the
  class comes from the field's KIND, not the observed wire type,
  because the row path reads that way. The exceptions: a repeated
  numeric field's LEN-typed record is a packed body, and an unknown
  field skips by its wire type;
* one varint read for every varint payload and LEN length, and one
  fixed-width read for every fixed64/fixed32 payload, whatever the
  number of distinct tags;
* ``(row, field, start, end, value)`` appended to a per-batch record
  log.

So the step count is the most records any one row holds, and rows may
fall out of step freely (repeated and map fields of different lengths,
shuffled field order, unknown fields).

After the loop the log is sorted by (field, row) — stably, so each
row's records keep their wire order — and every field's column is
assembled once from its slice:

* scalars take the last occurrence; oneof members compare occurrence
  order, so the later member wins and clears its siblings;
* repeated fields get their per-row element runs from the sorted log;
  packed bodies decode as one batch per field (:func:`_packed`);
* Timestamp bodies and map entries run through the same record loop,
  one unit per body or entry;
* nested messages, WKTs and repeated-message items decode as one batch
  per field through the recursive sub-decoders. A row's body pieces
  concatenate (wire concatenation == protobuf merge); when a row has
  several, each piece is also parsed on its own, as the row path
  parses each occurrence.

Decoding has two phases, in the row path's order at every level:
``parse`` finds every wire-level error (framing, UTF-8, nested parse
errors) before ``finish`` converts values (enum names, Decimal,
datetime ranges, dates) in field order. A row the row path nulls for a
malformed record therefore never reaches a conversion that would
hard-raise.

Value-compatibility contract: for every supported message shape the
decoded cells are IDENTICAL to ``compile_wire_to_row`` — differential-
tested in tests/test_vectorized_decode*.py and
tests/test_vectorized_full_matrix.py over the random matrix, the
config modes, shuffled record order and a corrupt-bytes fuzz: rows
where the row path raises must raise here in strict mode and null
identically in permissive mode.

Scope: every shape the row path supports in skip mode — scalars of all
kinds and config modes, repeated scalars (packed and expanded), oneofs,
maps, nested messages to any depth, every WKT, repeated messages, and
recursive types under ``skip_recursive_messages`` (a late-bound strict
validator parses the subtree for error parity, then the cell prunes to
``()`` like the row converter). Raise-mode recursion returns None (the
row path raises at compile). Runtime surprises (wire values outside
what the numpy dtypes can mirror exactly, e.g. >=2^63 varints in a
uint32 field from corrupt bytes) raise :class:`Unvectorizable` and the
caller falls back per batch — the row path stays the semantics
oracle.

Reference parity: the reference's decode direction is
``arrow_to_proto.py:608-656`` (columnar extraction from pyarrow
buffers); this is the same columnar idea for the Spark distributed
codec (wire bytes -> columns).
"""

from __future__ import annotations

import datetime as _datetime
from collections import namedtuple
from typing import Callable

import numpy as np

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.vectorized import Unvectorizable, _SPLITTABLE_WKTS
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

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5
#: payload class of a record that cannot be read: groups (wt 3/4),
#: reserved wire types, unreadable tags — the row path raises
_CLS_ERROR = 3

#: datetime.datetime(1,1,1)..(9999,12,31 23:59:59.999999) as
#: microseconds since epoch — the row path's datetime arithmetic
#: raises OverflowError outside this window (in BOTH error modes:
#: OverflowError is not in the permissive catch list), and
#: datetime64[us] would wrap silently, so the batch path must
#: range-check and raise the same way.
_DT_US_MIN = -62_135_596_800_000_000
_DT_US_MAX = 253_402_300_799_999_999

_VARINT_KINDS = {
    Kind.INT32,
    Kind.INT64,
    Kind.UINT32,
    Kind.UINT64,
    Kind.SINT32,
    Kind.SINT64,
    Kind.BOOL,
    Kind.ENUM,
}
_FIXED_WIDTH = {
    Kind.DOUBLE: 8,
    Kind.FIXED64: 8,
    Kind.SFIXED64: 8,
    Kind.FLOAT: 4,
    Kind.FIXED32: 4,
    Kind.SFIXED32: 4,
}
_LEN_KINDS = {Kind.STRING, Kind.BYTES}
_SCALAR_KINDS = _VARINT_KINDS | set(_FIXED_WIDTH) | _LEN_KINDS

#: which reader a payload class takes: 0 varint (also a LEN record's
#: length), 1 fixed-width, 2 none (the record is unreadable)
_READ_GROUP = np.array([0, 1, 0, 2, 2, 1, 2, 2])
_EIGHT = np.arange(8)

#: a declared length above this can only come from a corrupt 10-byte
#: varint; capping keeps ``start + length`` in int64 and still an error
_LEN_CAP = np.uint64(1 << 62)


def _wire_class(kind: Kind) -> int:
    """The payload class the row path reads for ``kind``: the wire type
    its reader assumes, whatever the record's own wire type says."""
    if kind in _VARINT_KINDS:
        return _WT_VARINT
    width = _FIXED_WIDTH.get(kind)
    if width is not None:
        return _WT_I64 if width == 8 else _WT_I32
    return _WT_LEN


def _is_timestamp_field(field: Field) -> bool:
    return (
        field.kind is Kind.MESSAGE
        and not field.repeated
        and not field.is_map
        and field.message is not None
        and field.message.full_name == TIMESTAMP.full_name
    )


# ---- readers ---------------------------------------------------------------


#: zero bytes after a batch's wire bytes: a varint read may run up to
#: 10 bytes before its limit check without leaving the buffer
_PAD = 16


def _read_varints(buf, pos, limit):
    """Vectorized ``_read_varint``: the varint at ``buf[pos[k]]`` bounded
    by ``limit[k]``, for every k (``buf`` ends in ``_PAD`` zero bytes).
    Returns ``(val uint64, newpos, err)``; err marks reads that overran
    their limit or ran past 10 bytes (the row path's 'varint too
    long'). uint64 shifts drop the bits past 2^64, like the row path's
    mask."""
    b = buf[pos]
    val = (b & 0x7F).astype(np.uint64)
    p = pos + 1
    idx = np.flatnonzero(b >= 0x80)  # the varints that continue
    shift = 7
    while len(idx) and shift < 70:
        q = p[idx]
        b = buf[q]
        val[idx] |= (b & 0x7F).astype(np.uint64) << np.uint64(shift)
        p[idx] = q + 1
        idx = idx[b >= 0x80]
        shift += 7
    err = p > limit
    err[idx] = True  # still continuing after 10 bytes: too long
    return val, p, err


def _read_fixed(buf, pos, width):
    """Little-endian fixed-width values at ``pos`` as uint64; the caller
    has bounds-checked every read."""
    if not len(pos):
        return np.zeros(0, dtype=np.uint64)
    raw = buf[pos[:, None] + np.arange(width)]
    return raw.view("<u8" if width == 8 else "<u4").ravel().astype(np.uint64)


def _ranks(counts):
    """0..c-1 for each c in ``counts``, concatenated."""
    return np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)


def _packed(buf, start, stop, limit, width):
    """Packed bodies ``[start, stop)`` read the row path's way: element
    by element while the cursor is before ``stop``, each read bounded
    by ``limit`` — so the last element may run past ``stop``, and the
    cursor ends where it ended. ``width`` is the element width, or -1
    for varints. Returns ``(counts, values, ends, err)``: each body's
    element count (0 for a malformed body), every element in body
    order, each body's final cursor, and a malformed-body mask."""
    ln = stop - start
    if width > 0:
        counts = -(-ln // width)
        ends = start + counts * width
        err = ends > limit
        counts[err] = 0
        pos = np.repeat(start, counts) + _ranks(counts) * width
        return counts, _read_fixed(buf, pos, width), ends, err
    # varints: an element ends at its first byte below 0x80, so elements
    # start at the body start and after every such byte inside the body
    nb = len(start)
    byte = np.repeat(start, ln) + _ranks(ln)
    first = np.ones(len(byte), dtype=bool)
    first[1:] = buf[byte[:-1]] < 0x80
    first[(np.cumsum(ln) - ln)[ln > 0]] = True
    elem_body = np.repeat(np.arange(nb), ln)[first]
    vals, after, eerr = _read_varints(buf, byte[first], limit[elem_body])
    err = np.zeros(nb, dtype=bool)
    err[elem_body[eerr]] = True
    ends = start.copy()
    if len(elem_body):
        last = np.r_[elem_body[1:] != elem_body[:-1], True]
        ends[elem_body[last]] = after[last]
    keep = ~err[elem_body]
    return np.bincount(elem_body[keep], minlength=nb), vals[keep], ends, err


# ---- the record loop -------------------------------------------------------


class _Table:
    """One message level's field number -> (slot, payload class, packed
    width) lookup, built at compile time. ``pw`` is 0 unless the
    field's LEN-typed records are packed bodies: then it is the element
    width of a fixed-width kind, or -1 for a varint kind."""

    def __init__(self, rows):  # (number, slot, cls, pw)
        rows = sorted(rows)
        # sentinel: no tag >> 3 reaches 2^64-1, so a search past the
        # last known number lands on a miss
        self.nums = np.array([r[0] for r in rows] + [2**64 - 1], dtype=np.uint64)
        self.slot = np.array([r[1] for r in rows] + [-1], dtype=np.int64)
        self.cls = np.array([r[2] for r in rows] + [0], dtype=np.int64)
        self.pw = np.array([r[3] for r in rows] + [0], dtype=np.int64)
        self.packable = bool(self.pw.any())
        self.n_slots = len(rows)


#: the Timestamp body: seconds (int64) and nanos (int32), both varints
_TS_TABLE = _Table([(1, 0, _WT_VARINT, 0), (2, 1, _WT_VARINT, 0)])


class _Recs(namedtuple("_Recs", "unit start end seq")):
    """One field's records: the unit (row, body or entry) each belongs
    to; for a LEN record its payload bounds, for any other record its
    raw value (in ``start``, as int64) and ``end`` -1; and the record's
    position in wire (step) order."""

    @property
    def val(self):
        return self.start.view(np.uint64)


class _Log:
    """The records of one tokenized batch, sorted by (slot, unit) with
    each unit's records in wire order."""

    def __init__(self, chunks, n_units, n_slots):
        if chunks:
            unit, slot, start, end = (np.concatenate(c) for c in zip(*chunks))
        else:
            unit = slot = start = end = np.zeros(0, dtype=np.int64)
        key = slot * n_units + unit
        if (key[1:] >= key[:-1]).all():
            order = np.arange(len(key))  # rows in step: already sorted
        else:
            order = np.argsort(key, kind="stable")
            unit, slot, start, end = unit[order], slot[order], start[order], end[order]
        self.cols = (unit, start, end, order)
        self.bounds = np.searchsorted(slot, np.arange(n_slots + 1))

    def __getitem__(self, slot) -> _Recs:
        a, b = self.bounds[slot], self.bounds[slot + 1]
        return _Recs(*(c[a:b] for c in self.cols))


def _tokenize(buf, cur, stop, limit, tab):
    """The record loop. Walks every unit of a batch (a row, a Timestamp
    body, a map entry) at once, one record per unit per step, until each
    unit's cursor reaches ``stop``; reads are bounded by ``limit``.
    Returns ``(log, err, steps)``: ``err`` marks the units whose wire is
    malformed; each stops at its bad record."""
    n = len(cur)
    cur = cur.copy()
    err = np.zeros(n, dtype=bool)
    chunks = []
    act = np.flatnonzero(cur < stop)
    # every record takes >= 2 bytes, so a unit of L bytes needs <= L
    # steps; the budget only guards against a logic bug looping forever
    budget = int((stop - cur).max(initial=0)) + 2
    steps = 0
    while len(act):
        steps += 1
        if steps > budget:  # pragma: no cover - defensive
            raise Unvectorizable("decode step budget exceeded")
        m = len(act)
        lim = limit[act]
        tag, pos, e = _read_varints(buf, cur[act], lim)
        fn = tag >> np.uint64(3)
        k = np.searchsorted(tab.nums, fn)
        hit = tab.nums[k] == fn
        cls = tab.cls[k]
        all_hit = hit.all()
        if tab.packable or not all_hit:
            wt = (tag & np.uint64(7)).astype(np.int64)
            if not all_hit:  # unknown fields skip by their wire type
                cls = np.where(hit, cls, wt)
        pw = None
        if tab.packable:
            pw = np.where(hit & (wt == _WT_LEN) & ~e, tab.pw[k], 0)
            packed = pw != 0
            if packed.any():
                cls[packed] = _WT_LEN
            else:
                pw = None
        if e.any():
            cls[e] = _CLS_ERROR
        a = np.empty(m, dtype=np.int64)  # LEN payload start, or the value
        nxt = np.empty(m, dtype=np.int64)  # the cursor after the record
        group = _READ_GROUP[cls]
        counts = np.bincount(group, minlength=3)
        for g in np.flatnonzero(counts):
            i = slice(None) if counts[g] == m else np.flatnonzero(group == g)
            p, lm = pos[i], lim[i]
            if g == 0:  # a varint, or a LEN record's length
                v, q, ee = _read_varints(buf, p, lm)
            elif g == 1:  # fixed64 / fixed32
                q = p + np.where(cls[i] == _WT_I64, 8, 4)
                v = buf[p[:, None] + _EIGHT].view("<u8").ravel()
                v = np.where(q - p == 8, v, v & np.uint64(0xFFFFFFFF))
                ee = q > lm
            else:  # groups, reserved wire types, unreadable tags
                v, q, ee = np.zeros(len(p), dtype=np.uint64), p, True
            a[i] = v.view(np.int64)
            nxt[i] = q
            e[i] |= ee
        i = np.flatnonzero(cls == _WT_LEN)
        if len(i):  # the payload follows its length
            q = nxt[i] + np.minimum(a[i].view(np.uint64), _LEN_CAP).astype(np.int64)
            a[i] = nxt[i]
            nxt[i] = q
            e[i] |= q > lim[i]
        end = np.where(cls == _WT_LEN, nxt, -1)
        if pw is not None:
            _packed_ends(buf, a, nxt, lim, np.where(e, 0, pw), e)
        rec = hit & ~e
        if rec.all():
            chunks.append((act, tab.slot[k], a, end))
        else:
            chunks.append((act[rec], tab.slot[k[rec]], a[rec], end[rec]))
        if e.any():
            err[act[e]] = True
            act, nxt = act[~e], nxt[~e]
        cur[act] = nxt
        act = act[nxt < stop[act]]
    return _Log(chunks, n, tab.n_slots), err, steps


def _packed_ends(buf, start, end, lim, pw, err):
    """Move each packed record's ``end`` to where the row path's element
    loop leaves the cursor: a fixed-width body whose length is not a
    multiple of the width reads its last element past the declared end,
    and so does a varint body whose last byte continues the varint."""
    fixed = np.flatnonzero(pw > 0)
    if len(fixed):
        w = pw[fixed]
        end[fixed] = start[fixed] + -(-(end[fixed] - start[fixed]) // w) * w
        err[fixed] |= end[fixed] > lim[fixed]
    vi = np.flatnonzero(pw < 0)
    if len(vi):
        tail = buf[np.maximum(end[vi] - 1, 0)]
        odd = vi[(end[vi] > start[vi]) & (tail >= 0x80)]
        if len(odd):
            _, _, end[odd], oerr = _packed(buf, start[odd], end[odd], lim[odd], -1)
            err[odd] |= oerr


def _last(units):
    """Index of each unit's last record in a (unit, wire order)-sorted
    slice."""
    if not len(units):
        return np.zeros(0, dtype=np.int64)
    return np.flatnonzero(np.r_[units[1:] != units[:-1], True])


# ---- value conversion ------------------------------------------------------


def _convert_numeric(kind, u, live, field, enum_name_mode, u64_decimal):
    """uint64 raw wire values -> cell values for one numeric kind,
    identical to the row path's reader+converter composition. ``live``
    masks the elements whose values must be exactly representable
    (dead elements are nulled by the caller); a live value outside
    what the numpy formulation can mirror raises Unvectorizable so the
    row path decides."""
    if kind is Kind.INT64:
        return u.view(np.int64)
    if kind is Kind.ENUM:
        signed = u.view(np.int64)
        if enum_name_mode:
            by_number = field.enum.by_number
            fb = field.enum.fallback_name
            return np.array(
                [by_number.get(x, fb) for x in signed.tolist()], dtype=object
            )
        return signed
    if kind is Kind.INT32:
        low = (u & np.uint64(0xFFFFFFFF)).astype(np.int64)
        return np.where(low >= (1 << 31), low - (1 << 32), low)
    if kind is Kind.UINT32:
        if (u[live] >= np.uint64(1 << 63)).any():
            # corrupt wire can put any varint in a uint32 field; the
            # row path keeps the unbounded int
            raise Unvectorizable("uint32 varint >= 2^63")
        return u.astype(np.int64)
    if kind in (Kind.UINT64, Kind.FIXED64):
        if u64_decimal:
            import decimal

            return np.array(
                [decimal.Decimal(x) for x in u.tolist()], dtype=object
            )
        return u.view(np.int64)  # reinterpret wrap, like the row
        # path's v - 2^64 if v > I64_MAX
    if kind in (Kind.SINT32, Kind.SINT64):
        half = (u >> np.uint64(1)).astype(np.int64)
        return half ^ -(u & np.uint64(1)).astype(np.int64)
    if kind is Kind.BOOL:
        return u != 0
    if kind is Kind.DOUBLE:
        return u.view(np.float64)
    if kind is Kind.FLOAT:
        # a signalling-NaN payload widens to NaN, as struct.unpack's does,
        # without numpy's 'invalid value' warning
        with np.errstate(invalid="ignore"):
            return (
                (u & np.uint64(0xFFFFFFFF))
                .astype(np.uint32)
                .view(np.float32)
                .astype(np.float64)
            )
    if kind is Kind.FIXED32:
        return u.astype(np.int64)
    if kind is Kind.SFIXED32:
        low = u.astype(np.int64)
        return np.where(low >= (1 << 31), low - (1 << 32), low)
    if kind is Kind.SFIXED64:
        return u.view(np.int64)
    raise Unvectorizable(f"kind {kind}")  # pragma: no cover


#: datetime.date(1,1,1) — the engine's unset-Date cell (encode.py
#: DATE_SENTINEL); kept a local constant like vectorized.py's.
_DATE_SENTINEL = _datetime.date(1, 1, 1)

#: |seconds| bound keeping sec*1e9 + nano inside int64 (long_nanos
#: forms; the row path computes in unbounded Python ints)
_SEC_NANO_BOUND = 9_200_000_000
#: |seconds| bound keeping sec*1e6 + nano//1e3 inside int64 /
#: timedelta64[us] (the row path's datetime.timedelta covers more —
#: hand those rows to it)
_SEC_US_BOUND = 9_200_000_000_000


def _int_col(col, n):
    """A sub-decoder int column (np.int64 array, or object array with
    None at permissive-nulled rows) -> plain int64 (nulls as 0 — their
    rows are dead and masked by the caller)."""
    import pandas as pd

    if isinstance(col, np.ndarray) and col.dtype != object:
        return col.astype(np.int64, copy=False)
    return pd.Series(col).pipe(lambda s: s.where(s.notna(), 0)).to_numpy(dtype=np.int64)


def _wkt_values(mtype, sub_cols, m, live, config):
    """Sub-decoded WKT columns -> (form, payload) cell values, value-
    identical to encode.py's WKT converters applied to the parsed
    Message (``_duration_converter`` / ``_date_converter`` /
    ``_time_of_day_converter`` / wrapper ``m.value``).

    ``form``: how the caller materializes cells —
    ``obj`` int64 array, ``td64us``/``dt64us`` microsecond arrays,
    ``list`` ready python objects (None slots = conversion failures the
    caller attributes via its own bad-marking), ``empty`` unit structs,
    ``col`` a pass-through wrapper value column.
    Guards mirror the singular-Timestamp precedent: values the numpy
    formulation cannot hold exactly raise :class:`Unvectorizable` (the
    row path decides); datetime-range violations raise OverflowError in
    BOTH modes like the row path's datetime arithmetic."""
    name = mtype.full_name
    if name == TIMESTAMP.full_name:
        sec = _int_col(sub_cols[0], m)
        nano = _int_col(sub_cols[1], m)
        if config.timestamp_type == "long_nanos":
            if m and (np.abs(sec[live]) > _SEC_NANO_BOUND).any():
                raise Unvectorizable("long_nanos overflow risk")
            return "obj", sec * 1_000_000_000 + nano
        us = sec * 1_000_000 + np.floor_divide(nano, 1_000)
        _check_datetime_range(sec, us, live)
        return "dt64us", us
    if name == DURATION.full_name:
        sec = _int_col(sub_cols[0], m)
        nano = _int_col(sub_cols[1], m)
        if config.duration_type == "long_nanos":
            if m and (np.abs(sec[live]) > _SEC_NANO_BOUND).any():
                raise Unvectorizable("long_nanos overflow risk")
            return "obj", sec * 1_000_000_000 + nano
        if m and (np.abs(sec[live]) > _SEC_US_BOUND).any():
            # datetime.timedelta holds more than timedelta64[us]
            raise Unvectorizable("duration beyond int64 micros")
        us = sec * 1_000_000 + np.floor_divide(nano, 1_000)
        return "td64us", us
    if name == DATE.full_name:
        y = _int_col(sub_cols[0], m)
        mo = _int_col(sub_cols[1], m)
        d = _int_col(sub_cols[2], m)
        out: list = [None] * m
        for k in np.flatnonzero(live):
            if y[k] == 0:
                out[k] = _DATE_SENTINEL
                continue
            try:
                out[k] = _datetime.date(int(y[k]), int(mo[k]), int(d[k]))
            except ValueError:
                # the row path's datetime.date() raise — a bad VALUE;
                # caller nulls the row (permissive) or re-raises
                out[k] = _WKT_CELL_ERROR
        return "list", out
    if name == TIME_OF_DAY.full_name:
        h = _int_col(sub_cols[0], m)
        mi = _int_col(sub_cols[1], m)
        se = _int_col(sub_cols[2], m)
        na = _int_col(sub_cols[3], m)
        if m and (
            (np.abs(h[live]) > 1_000_000).any()
            or (np.abs(mi[live]) > 10_000_000).any()
            or (np.abs(se[live]) > 1_000_000_000).any()
        ):
            # ((h*60+m)*60+s)*1e9 could leave int64; the row path
            # computes unbounded — hand the batch back
            raise Unvectorizable("time-of-day overflow risk")
        total = ((h * 60 + mi) * 60 + se) * 1_000_000_000 + na
        return "obj", total
    if name == EMPTY.full_name:
        return "empty", None
    if name in WRAPPER_TYPES:
        return "col", sub_cols[0]
    raise Unvectorizable(f"unsupported WKT {name}")  # pragma: no cover


def _check_datetime_range(sec, us, live):
    """The row path's epoch + timedelta arithmetic raises OverflowError
    outside datetime's range, uncaught in BOTH modes."""
    over = live & (
        (sec > 260_000_000_000)
        | (sec < -260_000_000_000)
        | (us < _DT_US_MIN)
        | (us > _DT_US_MAX)
    )
    if over.any():
        raise OverflowError("timestamp out of datetime range")


class _WktCellError:
    """Sentinel marking a per-cell conversion failure inside a 'list'
    form (e.g. datetime.date ValueError) for the caller to attribute."""

    __repr__ = lambda self: "<wkt-cell-error>"  # noqa: E731


_WKT_CELL_ERROR = _WktCellError()


def _wkt_item_cells(mtype, sub_cols, m, item_live, config):
    """Item-context WKT finalize: plain python cell per decoded item
    (repeated items / map values live inside list/dict cells, so the
    Series forms the singular path uses don't apply)."""
    form, payload = _wkt_values(mtype, sub_cols, m, item_live, config)
    if form == "obj":
        return list(payload)
    if form == "dt64us":
        # direct datetime construction, NOT pd.to_datetime: pandas
        # converts through ns resolution, which overflows for
        # valid-but-far (year > 2262) values the row path's
        # epoch + timedelta arithmetic handles; the _DT_US guards in
        # _wkt_values already bound these microseconds to datetime's
        # own range, so this can never raise
        ep = _datetime.datetime(1970, 1, 1, tzinfo=_datetime.timezone.utc)
        return [
            ep + _datetime.timedelta(microseconds=int(x)) for x in payload
        ]
    if form == "td64us":
        # same ns-overflow hazard: int64 microseconds always fit
        # datetime.timedelta (bound ~8.6e19 us) but not timedelta64[ns]
        # (~9.2e15 us) — construct the row path's objects directly
        return [_datetime.timedelta(microseconds=int(x)) for x in payload]
    if form == "empty":
        return [()] * m
    if form == "list":
        return payload
    # "col": wrapper pass-through
    col = payload
    if isinstance(col, np.ndarray):
        return list(col.astype(object))
    return list(col)


def _aslist(col) -> list:
    """A sub-decoder column as a list of its cells (NaT read as None)."""
    import pandas as pd

    if isinstance(col, pd.Series):
        return [None if v is pd.NaT else v for v in col]
    return list(col)


def _null_rows(col, rows):
    """``col`` with the cells of ``rows`` nulled (a row that turned bad
    after its column was built)."""
    import pandas as pd

    if isinstance(col, list):
        for i in rows.tolist():
            col[i] = None
        return col
    if isinstance(col, pd.Series):
        col = col.copy()
        col.iloc[rows] = pd.NaT
        return col
    col = col.astype(object)
    col[rows] = None
    return col


# ---- one batch mid-decode --------------------------------------------------


class _Batch:
    """One batch between ``parse`` and ``finish``: the joined wire bytes,
    each row's bounds, the bad-row mask and every field's parse."""

    def __init__(self, cells: list, permissive: bool):
        n = len(cells)
        bad = np.zeros(n, dtype=bool)
        if permissive:
            # the row path wraps bytes(cell) in its per-row try, so a
            # None or unconvertible cell nulls that row, not the batch
            norm = []
            for i, c in enumerate(cells):
                if c is None:
                    norm.append(b"")
                    bad[i] = True
                    continue
                try:
                    norm.append(bytes(c))
                except (TypeError, ValueError):
                    norm.append(b"")
                    bad[i] = True
        else:
            # strict: bytes(None) raises TypeError like the row path
            norm = list(map(bytes, cells))
        self.raw = b"".join(norm)
        self.buf = np.frombuffer(self.raw + bytes(_PAD), dtype=np.uint8)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(
            np.fromiter(map(len, norm), dtype=np.int64, count=n),
            out=offsets[1:],
        )
        self.start, self.rowend = offsets[:-1], offsets[1:]
        self.n, self.bad, self.permissive = n, bad, permissive
        self.parsed: dict = {}

    def fail(self, rows, message: str) -> None:
        """Row-local errors (``rows``: a mask or row indices): permissive
        marks the rows bad, strict raises like the row path."""
        rows = np.asarray(rows)
        if rows.dtype == bool:
            rows = np.flatnonzero(rows)
        if not len(rows):
            return
        if not self.permissive:
            raise ValueError(message)
        self.bad[rows] = True

    def slices(self, starts, ends, rows, kind) -> list:
        """LEN payloads -> str/bytes cells. A STRING payload that is not
        UTF-8 fails its row, as the row path's reader raises on it."""
        raw, bounds = self.raw, zip(starts.tolist(), ends.tolist())
        if kind is not Kind.STRING:
            return [raw[s:e] for s, e in bounds]
        try:
            return [raw[s:e].decode("utf-8") for s, e in bounds]
        except UnicodeDecodeError:
            pass
        out = []
        for s, e, r in zip(starts.tolist(), ends.tolist(), rows.tolist()):
            try:
                out.append(raw[s:e].decode("utf-8"))
            except UnicodeDecodeError:
                self.fail([r], "invalid UTF-8 in a string field")
                out.append(None)
        return out


def _join_pieces(raw, recs, eff, m):
    """Per unit, its effective LEN pieces joined (wire concatenation ==
    protobuf merge). Also returns the pieces that must each parse on
    their own, as ``(units, bodies)`` or None: every piece of a unit
    with several, and pieces a oneof sibling cleared (the row path
    parses every occurrence, so a corrupt one fails the row even when a
    later one replaces it)."""
    pieces = [raw[s:e] for s, e in zip(recs.start.tolist(), recs.end.tolist())]
    units = recs.unit
    if eff is None:
        eff = np.ones(len(units), dtype=bool)
    bodies = [b""] * m
    for u, p, f in zip(units.tolist(), pieces, eff.tolist()):
        if f:
            bodies[u] = bodies[u] + p if bodies[u] else p
    extra = ~eff | (np.bincount(units[eff], minlength=m)[units] > 1)
    if not extra.any():
        return bodies, None
    k = np.flatnonzero(extra)
    return bodies, (units[k], [pieces[j] for j in k])


def _per_row(batch, rows, items) -> list:
    """Items sorted by row -> one list cell per row ([] when none, None
    for a bad row)."""
    counts = np.bincount(rows, minlength=batch.n)
    ends = np.cumsum(counts).tolist()
    return [
        None if b else items[e - c : e]
        for b, c, e in zip(batch.bad.tolist(), counts.tolist(), ends)
    ]


class _Validator:
    """A recursive type's strict decoder, bound late: registered before
    it compiles, so self and ancestor references resolve without
    recursing forever. Only its parse runs — the row converter prunes
    a recursive subtree to ``()`` — and only on non-empty bodies, so
    runtime recursion depth follows the DATA, like parse_into's."""

    def __init__(self, cell: dict):
        self.cell = cell

    def validate(self, bodies: list):
        if not any(bodies):
            return np.zeros(len(bodies), dtype=bool)
        return self.cell["fn"].parse(bodies).bad


# ---- the compiled decoder ---------------------------------------------------


class _Decoder:
    """``[bytes per row] -> (columns, bad)`` for one message type; see
    :func:`compile_wire_to_batch`."""

    def __init__(self, plan, subs, item_wkt, entry_tables, config, permissive):
        self.plan = plan  # (klass, field, idx) in field order; slot == idx
        self.subs = subs
        self.item_wkt = item_wkt
        self.entry_tables = entry_tables
        self.config = config
        self.permissive = permissive
        self.enum_name_mode = config.enum_type != "int"
        self.u64_decimal = config.uint64_type == "decimal"
        table, groups = [], {}
        for klass, field, idx in plan:
            scalar = klass in ("scalar", "repeated")
            packable = klass == "repeated" and field.kind not in _LEN_KINDS
            cls = _wire_class(field.kind) if scalar else _WT_LEN
            pw = _FIXED_WIDTH.get(field.kind, -1) if packable else 0
            table.append((field.number, idx, cls, pw))
            if field.oneof is not None:
                groups.setdefault(field.oneof, []).append(idx)
        self.table = _Table(table)
        self.oneofs = [g for g in groups.values() if len(g) > 1]

    def __call__(self, cells: list) -> tuple:
        batch = self.parse(cells)
        columns = self.finish(batch)
        return columns, (batch.bad if self.permissive else None)

    # -- phase 1: the record loop and every wire-level check ------------

    def parse(self, cells: list) -> _Batch:
        b = _Batch(cells, self.permissive)
        log, err, _ = _tokenize(b.buf, b.start, b.rowend, b.rowend, self.table)
        b.fail(err, "truncated or malformed wire record")
        cut = self._oneof_cuts(log, b.n)
        for klass, field, idx in self.plan:
            recs = log[idx]
            eff = recs.seq > cut[idx][recs.unit] if idx in cut else None
            b.parsed[idx] = getattr(self, "_parse_" + klass)(b, field, idx, recs, eff)
        return b

    def _oneof_cuts(self, log, n) -> dict:
        """Per oneof member, each row's last sibling occurrence (-1 when
        none): only the member's occurrences after it count, since
        setting a sibling clears the member (later member wins)."""
        cut = {}
        for members in self.oneofs:
            last = {}
            for idx in members:
                recs = log[idx]
                ls = np.full(n, -1, dtype=np.int64)
                li = _last(recs.unit)
                ls[recs.unit[li]] = recs.seq[li]
                last[idx] = ls
            for idx in members:
                cut[idx] = np.maximum.reduce([last[o] for o in members if o != idx])
        return cut

    def _parse_scalar(self, b, field, idx, recs, eff):
        li = _last(recs.unit)
        if eff is not None:
            li = li[eff[li]]
        rows = recs.unit[li]
        seen = np.zeros(b.n, dtype=bool)
        seen[rows] = True
        if field.kind in _LEN_KINDS:
            # every occurrence is read (and UTF-8 checked), even one a
            # later occurrence or a oneof sibling replaces
            every = b.slices(recs.start, recs.end, recs.unit, field.kind)
            cells = np.empty(b.n, dtype=object)
            cells[rows] = every if len(li) == len(every) else [every[k] for k in li.tolist()]
            return cells, seen
        raw = np.zeros(b.n, dtype=np.uint64)
        raw[rows] = recs.val[li]
        return raw, seen

    def _parse_timestamp(self, b, field, idx, recs, eff):
        log, err, _ = _tokenize(b.buf, recs.start, recs.end, recs.end, _TS_TABLE)
        b.fail(recs.unit[err], "truncated timestamp body")
        seen = np.zeros(b.n, dtype=bool)
        seen[recs.unit if eff is None else recs.unit[eff]] = True
        raw = []
        for slot in (0, 1):
            sub = log[slot]
            body = sub.unit if eff is None else sub.unit[eff[sub.unit]]
            vals = sub.val if eff is None else sub.val[eff[sub.unit]]
            # bodies are in (row, wire) order, so the last subfield of
            # a row's effective bodies is the merged value
            rows = recs.unit[body]
            li = _last(rows)
            out = np.zeros(b.n, dtype=np.uint64)
            out[rows[li]] = vals[li]
            raw.append(out)
        low = (raw[1] & np.uint64(0xFFFFFFFF)).astype(np.int64)
        nano = np.where(low >= (1 << 31), low - (1 << 32), low)
        return raw[0].view(np.int64), nano, seen

    def _parse_message(self, b, field, idx, recs, eff):
        """nested / wkt / rec: one body per row, its pieces joined."""
        bodies, extra = _join_pieces(b.raw, recs, eff, b.n)
        seen = np.zeros(b.n, dtype=bool)
        seen[recs.unit if eff is None else recs.unit[eff]] = True
        if extra is not None:
            units, pieces = extra
            self._check_items(b, idx, pieces, units)
        return self._check_items(b, idx, bodies, np.arange(b.n)), seen

    _parse_nested = _parse_wkt = _parse_rec = _parse_message

    def _check_items(self, b, idx, bodies, rows):
        """Parse message bodies as one batch, body k in row ``rows[k]``; a
        malformed body fails its row.
        Returns the parsed sub-batch, or None for a recursive type
        (validated only)."""
        sub = self.subs[idx]
        if isinstance(sub, _Validator):
            parsed, bad = None, sub.validate(bodies)
        else:
            parsed = sub.parse(bodies)
            bad = parsed.bad
        b.fail(rows[bad], "malformed nested message")
        return parsed

    def _parse_rep_msg(self, b, field, idx, recs, eff):
        # one standalone item per occurrence: no merge across them
        bodies = b.slices(recs.start, recs.end, recs.unit, Kind.BYTES)
        return recs.unit, self._check_items(b, idx, bodies, recs.unit)

    def _parse_repeated(self, b, field, idx, recs, eff):
        kind = field.kind
        if kind in _LEN_KINDS:
            # strings/bytes never pack: one item per record, whatever
            # its wire type, like the row path
            return recs.unit, b.slices(recs.start, recs.end, recs.unit, kind)
        pk = recs.end >= 0  # packed bodies; the rest are single elements
        if not pk.any():
            return recs.unit, recs.val
        # packed reads are bounded by the ROW end, like the row path's
        # element reader
        counts, pvals, _, perr = _packed(
            b.buf,
            recs.start[pk],
            recs.end[pk],
            b.rowend[recs.unit[pk]],
            _FIXED_WIDTH.get(kind, -1),
        )
        b.fail(recs.unit[pk][perr], "truncated packed body")
        n_elems = np.ones(len(recs.unit), dtype=np.int64)
        n_elems[pk] = counts
        off = np.cumsum(n_elems) - n_elems
        vals = np.empty(int(n_elems.sum()), dtype=np.uint64)
        vals[off[~pk]] = recs.val[~pk]
        vals[np.repeat(off[pk], counts) + _ranks(counts)] = pvals
        return np.repeat(recs.unit, n_elems), vals

    def _parse_map(self, b, field, idx, recs, eff):
        # one entry per occurrence, parsed like parse_into's entry
        # slice (reads bounded by the slice); entries then dict-insert
        key_f, val_f = field.message.fields_by_number[1], field.message.fields_by_number[2]
        m = len(recs.unit)
        log, err, _ = _tokenize(b.buf, recs.start, recs.end, recs.end, self.entry_tables[idx])
        b.fail(recs.unit[err], "malformed map entry")
        keys = self._entry_side(b, key_f, log[0], m, recs)
        if val_f.kind is not Kind.MESSAGE:
            return recs.unit, keys, self._entry_side(b, val_f, log[1], m, recs)
        # message values: an entry's value pieces merge; an entry with
        # none reads the default message, decoded from b""
        bodies, extra = _join_pieces(b.raw, log[1], None, m)
        if extra is not None:
            ents, pieces = extra
            self._check_items(b, idx, pieces, recs.unit[ents])
        return recs.unit, keys, self._check_items(b, idx, bodies, recs.unit)

    def _entry_side(self, b, fld, recs, m, entries):
        """One entry subfield, last occurrence per entry; absent reads
        the proto default, like ``entry.key`` / ``entry.value``."""
        li = _last(recs.unit)
        ents = recs.unit[li]
        if fld.kind in _LEN_KINDS:
            every = b.slices(recs.start, recs.end, entries.unit[recs.unit], fld.kind)
            cells = ["" if fld.kind is Kind.STRING else b""] * m
            for e, k in zip(ents.tolist(), li.tolist()):
                cells[e] = every[k]
            return cells
        raw = np.zeros(m, dtype=np.uint64)
        raw[ents] = recs.val[li]
        return raw

    # -- phase 2: value conversion, in field order ----------------------

    def finish(self, b: _Batch) -> list:
        bad_before = b.bad.copy()
        columns = [
            getattr(self, "_finish_" + klass)(b, field, idx, b.parsed[idx])
            for klass, field, idx in self.plan
        ]
        late = np.flatnonzero(b.bad & ~bad_before)
        if len(late):
            # a conversion error nulls its whole row, also in the
            # columns built before it
            columns = [_null_rows(c, late) for c in columns]
        return columns

    def _numeric(self, field, u, live):
        return _convert_numeric(
            field.kind, u, live, field, self.enum_name_mode, self.u64_decimal
        )

    def _sub_finish(self, b, idx, parsed, rows):
        """Finish a sub-batch whose item k belongs to row ``rows[k]``: the
        items of rows already bad are skipped, and an item's conversion
        error fails its row."""
        parsed.bad |= b.bad[rows]
        before = parsed.bad.copy()
        cols = self.subs[idx].finish(parsed)
        b.fail(rows[parsed.bad & ~before], "invalid nested value")
        return cols

    def _item_cells(self, b, idx, parsed, rows) -> list:
        """Parsed message items -> one cell per item: a tuple, or the
        WKT's scalar form; ``()`` for a pruned recursive type."""
        if parsed is None:
            return [()] * len(rows)
        cols = self._sub_finish(b, idx, parsed, rows)
        wmt = self.item_wkt.get(idx)
        if wmt is None:
            lists = [_aslist(c) for c in cols]
            return list(zip(*lists)) if lists else [()] * len(rows)
        live = ~parsed.bad
        cells = _wkt_item_cells(wmt, cols, len(rows), live, self.config)
        for k in np.flatnonzero(live):
            if cells[k] is _WKT_CELL_ERROR:
                # per-item conversion failure (datetime.date ValueError)
                b.fail(rows[k : k + 1], "invalid date components")
                cells[k] = None
        return cells

    def _finish_scalar(self, b, field, idx, parsed):
        data, seen = parsed
        bad = b.bad
        if field.kind in _LEN_KINDS:
            if not field.has_presence:
                data[~seen & ~bad] = "" if field.kind is Kind.STRING else b""
            data[bad] = None
            return data
        vals = self._numeric(field, data, seen & ~bad)
        null = bad if not field.has_presence else (~seen | bad)
        if not null.any():
            # unseen no-presence rows already hold the kind's zero
            return vals
        col = vals.astype(object)
        col[null] = None
        return col

    def _finish_timestamp(self, b, field, idx, parsed):
        import pandas as pd

        sec, nano, seen = parsed
        null = ~seen | b.bad
        if self.config.timestamp_type == "long_nanos":
            # the row path computes sec*1e9 + nano in unbounded Python
            # ints; int64 would wrap past ~292 years of nanos, so hand
            # those rows back to the row path
            if (np.abs(sec[~null]) > _SEC_NANO_BOUND).any():
                raise Unvectorizable("long_nanos overflow risk")
            col = (sec * 1_000_000_000 + nano).astype(object)
            col[null] = None
            return col
        us = sec * 1_000_000 + np.floor_divide(nano, 1_000)
        _check_datetime_range(sec, us, ~null)
        # stay a datetime64[us, UTC] Series (NaT = null): object-boxing
        # 32k pd.Timestamps costs more than the whole wire parse. NaT
        # goes into the numpy array BEFORE the Series wrap (assigning
        # into a .dt-derived Series is silently discarded).
        arr = us.astype("datetime64[us]")
        arr[null] = np.datetime64("NaT")
        return pd.Series(arr).dt.tz_localize("UTC")

    def _finish_nested(self, b, field, idx, parsed):
        sub, seen = parsed
        cols = self._sub_finish(b, idx, sub, np.arange(b.n))
        lists = [_aslist(c) for c in cols]
        tuples = zip(*lists) if lists else [()] * b.n
        return [
            None if (x or not s) else t
            for s, x, t in zip(seen.tolist(), b.bad.tolist(), tuples)
        ]

    def _finish_rec(self, b, field, idx, parsed):
        # parsed-and-pruned recursive subtree: () when present
        _, seen = parsed
        return [None if (x or not s) else () for s, x in zip(seen.tolist(), b.bad.tolist())]

    def _finish_wkt(self, b, field, idx, parsed):
        import pandas as pd

        sub, seen = parsed
        cols = self._sub_finish(b, idx, sub, np.arange(b.n))
        live = seen & ~b.bad
        form, payload = _wkt_values(self.item_wkt[idx], cols, b.n, live, self.config)
        if form == "list":
            for i in np.flatnonzero(live):
                if payload[i] is _WKT_CELL_ERROR:
                    b.fail([i], "invalid date components")
                    payload[i] = None
        mask = ~seen | b.bad
        if form == "obj":
            col = payload.astype(object)
            col[mask] = None
            return col
        if form == "td64us":
            arr = payload.astype("timedelta64[us]")
            arr[mask] = np.timedelta64("NaT")
            return pd.Series(arr)
        if form == "empty":
            return [None if x else () for x in mask.tolist()]
        if form == "list":
            return [None if x else v for x, v in zip(mask.tolist(), payload)]
        # "col": wrapper value pass-through
        if isinstance(payload, np.ndarray):
            col = payload.astype(object)
        else:
            col = np.empty(len(payload), dtype=object)
            col[:] = payload
        col[mask] = None
        return col

    def _finish_rep_msg(self, b, field, idx, parsed):
        rows, sub = parsed
        return _per_row(b, rows, self._item_cells(b, idx, sub, rows))

    def _finish_repeated(self, b, field, idx, parsed):
        # missing and empty both finalize to [] like the row path
        rows, elems = parsed
        if field.kind not in _LEN_KINDS:
            elems = self._numeric(field, elems, ~b.bad[rows]).tolist()
        return _per_row(b, rows, elems)

    def _finish_map(self, b, field, idx, parsed):
        rows, keys, vals = parsed
        key_f, val_f = field.message.fields_by_number[1], field.message.fields_by_number[2]
        live = ~b.bad[rows]
        if not isinstance(keys, list):
            keys = self._numeric(key_f, keys, live)
        if val_f.kind is Kind.MESSAGE:
            vals = self._item_cells(b, idx, vals, rows)
        elif not isinstance(vals, list):
            vals = self._numeric(val_f, vals, live)
        # never-seen rows finalize to the empty map ({} / []), like the
        # row path's f_map(None); entries dict-insert in wire order
        # (same-key overwrite keeps the first position — python dict
        # semantics, both paths)
        out = [None if x else {} for x in b.bad.tolist()]
        for r, k, v in zip(rows.tolist(), keys, vals):
            cell = out[r]
            if cell is not None:
                cell[k] = v
        if self.config.map_as_list:
            out = [None if c is None else list(c.items()) for c in out]
        return out


def compile_wire_to_batch(
    mtype: MessageType,
    config: ProtarrowSparkConfig = ProtarrowSparkConfig(),
    permissive: bool = False,
    _trace: tuple = (),
    _registry: dict | None = None,
) -> Callable[[list], tuple] | None:
    """Compile ``[bytes-or-None per row] -> (columns, bad)`` for a
    supported message, or return None.

    ``columns`` is a list of per-field cell arrays (numpy array, pandas
    Series or Python list, length n) in ``mtype.fields`` order —
    value-identical to ``compile_wire_to_row`` applied per row, with
    Python lists for repeated cells. ``bad`` is None in strict mode; in
    permissive mode it is a bool mask of rows that failed to parse (the
    caller nulls the whole row, the dead-letter convention). Strict
    mode raises on a malformed row like the row path.
    """
    if mtype.full_name in _trace:
        return None  # recursive shapes keep the row path
    trace = _trace + (mtype.full_name,)
    # Shared across the compile tree: (full_name) -> cell holding the
    # STRICT validator of a recursive type (see _Validator).
    registry: dict = {} if _registry is None else _registry

    def validator(sub_mt: MessageType):
        cell = registry.get(sub_mt.full_name)
        if cell is None:
            cell = registry[sub_mt.full_name] = {"in_progress": True}
            cell["fn"] = compile_wire_to_batch(sub_mt, config, permissive, (), registry)
            cell["in_progress"] = False
            if cell["fn"] is None:
                return None  # validator shape unsupported -> row path
        elif not cell.get("in_progress") and cell.get("fn") is None:
            return None
        return _Validator(cell)

    def sub_decoder(sub_mt: MessageType):
        """-> (decoder, item form) for message-typed values, or None.
        Under skip_recursive_messages the row path PARSES a recursive
        body (full validation) then prunes the converted subtree to
        ``()``; raise-mode recursion keeps the row path."""
        if sub_mt.full_name in trace:
            if not config.skip_recursive_messages:
                return None
            v = validator(sub_mt)
            return None if v is None else (v, "rec")
        sub = compile_wire_to_batch(sub_mt, config, permissive, trace, registry)
        if sub is None:
            return None
        return sub, (sub_mt if sub_mt.full_name in _SPLITTABLE_WKTS else None)

    plan: list = []
    subs: dict = {}
    item_wkt: dict = {}
    entry_tables: dict = {}
    for idx, field in enumerate(mtype.fields):
        if field.is_map:
            key_f = field.message.fields_by_number[1]
            val_f = field.message.fields_by_number[2]
            if key_f.kind not in _SCALAR_KINDS:
                return None
            if val_f.kind is Kind.MESSAGE:
                got = sub_decoder(val_f.message)
                if got is None:
                    return None
                subs[idx], item_wkt[idx] = got
            elif val_f.kind not in _SCALAR_KINDS:
                return None
            entry_tables[idx] = _Table(
                [(1, 0, _wire_class(key_f.kind), 0), (2, 1, _wire_class(val_f.kind), 0)]
            )
            plan.append(("map", field, idx))
        elif field.kind is Kind.MESSAGE and field.repeated:
            got = sub_decoder(field.message)
            if got is None:
                return None
            subs[idx], item_wkt[idx] = got
            plan.append(("rep_msg", field, idx))
        elif field.repeated:
            if field.kind not in _SCALAR_KINDS:
                return None
            plan.append(("repeated", field, idx))
        elif _is_timestamp_field(field):
            if config.timestamp_type not in ("timestamp", "long_nanos"):
                return None
            plan.append(("timestamp", field, idx))
        elif field.kind is Kind.MESSAGE:
            got = sub_decoder(field.message)
            if got is None:
                return None
            subs[idx], form = got
            if form == "rec":
                plan.append(("rec", field, idx))
            elif form is not None:
                # non-Timestamp WKTs: sub-decoded columns combine into
                # the scalar cell form (wrapper value / timedelta /
                # date / nanos-of-day / ())
                item_wkt[idx] = form
                plan.append(("wkt", field, idx))
            else:
                plan.append(("nested", field, idx))
        elif field.kind in _SCALAR_KINDS:
            plan.append(("scalar", field, idx))
        else:
            return None
    return _Decoder(plan, subs, item_wkt, entry_tables, config, permissive)
