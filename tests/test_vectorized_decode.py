"""Vectorized batch wire decoder (conversion/vectorized_decode.py):
value-identical to compile_wire_to_row on every supported shape, None /
runtime-fallback on unsupported ones, and corrupt-bytes-equivalent in
both error modes (strict: both raise; permissive: both null the same
rows). The row path is the semantics oracle (itself differential-
tested against Message parse), so these tests pin the vectorized path
to it cell-for-cell.
"""

from __future__ import annotations

import datetime as dt
import math
import struct

import numpy as np
import pandas as pd
import pytest

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.distributed import (
    compile_row_to_wire,
    compile_wire_to_row,
)
from protarrow_spark.conversion.vectorized import Unvectorizable
from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch
from protarrow_spark.proto.model import (
    TIMESTAMP,
    EnumType,
    Field,
    Kind,
    MessageType,
)

CFG = ProtarrowSparkConfig()

SIDE = EnumType("vd.Side", ((0, "UNKNOWN"), (1, "BUY"), (2, "SELL")))

SCALAR_MT = MessageType(
    "vd.Scalars",
    (
        Field("i64", 1, Kind.INT64),
        Field("i32", 2, Kind.INT32),
        Field("u32", 3, Kind.UINT32),
        Field("u64", 4, Kind.UINT64),
        Field("s32", 5, Kind.SINT32),
        Field("s64", 6, Kind.SINT64),
        Field("f64", 7, Kind.FIXED64),
        Field("sf64", 8, Kind.SFIXED64),
        Field("f32", 9, Kind.FIXED32),
        Field("sf32", 10, Kind.SFIXED32),
        Field("b", 11, Kind.BOOL),
        Field("d", 12, Kind.DOUBLE),
        Field("fl", 13, Kind.FLOAT),
        Field("s", 14, Kind.STRING),
        Field("by", 15, Kind.BYTES),
        Field("opt_i", 16, Kind.INT64, optional=True),
        Field("opt_s", 17, Kind.STRING, optional=True),
        Field("ts", 18, Kind.MESSAGE, message=TIMESTAMP),
        Field("e", 19, Kind.ENUM, enum=SIDE),
        Field("big", 1234, Kind.INT64),  # multi-byte tag
    ),
)


def _cell(col, i):
    v = col.iloc[i] if isinstance(col, pd.Series) else col[i]
    if v is pd.NaT:
        return None
    return v


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def _assert_identical(mt, wires, cfg=CFG):
    db = compile_wire_to_batch(mt, cfg)
    assert db is not None
    dr = compile_wire_to_row(mt, cfg)
    cols, bad = db(wires)
    assert bad is None
    slow = [dr(w) for w in wires]
    for i in range(len(wires)):
        for j, f in enumerate(mt.fields):
            a, b = _cell(cols[j], i), slow[i][j]
            assert _eq(a, b), (
                f"row {i} field {f.name}: batch={a!r} row={b!r} "
                f"wire={wires[i].hex()}"
            )


def _random_rows(n, seed=0):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        ts = (
            None
            if i % 7 == 0
            else dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(
                seconds=int(rng.integers(-(10**9), 10**9)),
                microseconds=int(rng.integers(0, 10**6)),
            )
        )
        rows.append(
            (
                int(rng.integers(-(2**62), 2**62)),
                int(rng.integers(-(2**31), 2**31)),
                int(rng.integers(0, 2**32)),
                # default decimal-mode uint64: full 0..2^64-1 range
                int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2)),
                int(rng.integers(-(2**31), 2**31)),
                int(rng.integers(-(2**62), 2**62)),
                int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2)),
                int(rng.integers(-(2**62), 2**62)),
                int(rng.integers(0, 2**32)),
                int(rng.integers(-(2**31), 2**31)),
                bool(rng.integers(0, 2)),
                float(rng.normal()) if i % 11 else -0.0,
                float(np.float32(rng.normal())),
                "" if i % 5 == 0 else f"str-{i}-é漢\U0001f600",
                b""
                if i % 6 == 0
                else bytes(rng.integers(0, 256, size=i % 17).astype(np.uint8)),
                None if i % 3 == 0 else int(rng.integers(-100, 100)),
                None if i % 4 == 0 else f"opt{i}",
                ts,
                int(rng.integers(0, 4)),  # incl. unknown enum number 3
                0 if i % 2 == 0 else int(rng.integers(-5, 5)),
            )
        )
    return rows


def test_all_scalar_kinds_random_matrix():
    enc = compile_row_to_wire(SCALAR_MT, CFG)
    wires = [enc(r) for r in _random_rows(600)]
    _assert_identical(SCALAR_MT, wires)


def test_empty_bytes_decodes_to_default_row():
    db = compile_wire_to_batch(SCALAR_MT, CFG)
    dr = compile_wire_to_row(SCALAR_MT, CFG)
    cols, _ = db([b"", b""])
    slow = dr(b"")
    for j, f in enumerate(SCALAR_MT.fields):
        assert _eq(_cell(cols[j], 0), slow[j]), f.name
        assert _eq(_cell(cols[j], 1), slow[j]), f.name


def test_config_modes_enum_name_u64_long_long_nanos():
    mt = MessageType(
        "vd.Cfg",
        (
            Field("u64", 1, Kind.UINT64),
            Field("e", 2, Kind.ENUM, enum=SIDE),
            Field("ts", 3, Kind.MESSAGE, message=TIMESTAMP),
        ),
    )
    rng = np.random.default_rng(5)
    for kw in (
        dict(enum_type="string"),
        dict(uint64_type="long"),
        dict(timestamp_type="long_nanos"),
        dict(enum_type="string", uint64_type="long", timestamp_type="long_nanos"),
    ):
        cfg = ProtarrowSparkConfig(**kw)
        enc = compile_row_to_wire(mt, cfg)
        rows = []
        for i in range(200):
            u = (
                int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2))
                if cfg.uint64_type == "decimal"
                else int(rng.integers(-(2**62), 2**62))
            )
            e = (
                ("BUY" if i % 2 else "UNKNOWN")
                if cfg.enum_type != "int"
                else int(rng.integers(0, 4))
            )
            ts = (
                int(rng.integers(-(10**17), 10**17))
                if cfg.timestamp_type == "long_nanos"
                else dt.datetime(2015, 1, 1, tzinfo=dt.timezone.utc)
                + dt.timedelta(seconds=int(rng.integers(0, 10**8)))
            )
            if i % 9 == 0:
                ts = None
            rows.append((u, e, ts))
        wires = [enc(r) for r in rows]
        _assert_identical(mt, wires, cfg)


def test_unknown_fields_skip_and_merge_last_wins():
    """Hand-built wire: unknown field numbers of every skippable wire
    type interleave with known fields; duplicate scalar occurrences
    must last-win; duplicate Timestamp occurrences must merge
    per-subfield."""
    mt = MessageType(
        "vd.M",
        (
            Field("a", 1, Kind.INT64),
            Field("ts", 2, Kind.MESSAGE, message=TIMESTAMP),
        ),
    )
    # a=5 ; unknown varint f9 ; unknown LEN f10 ; a=7 (last wins) ;
    # ts{sec=100} ; unknown I64 f11 ; ts{nanos=2000} (merges) ;
    # unknown I32 f12
    w = (
        b"\x08\x05"
        + b"\x48\x2a"
        + b"\x52\x03abc"
        + b"\x08\x07"
        + b"\x12\x02\x08\x64"
        + b"\x59" + b"\x00" * 8
        + b"\x12\x03\x10\xd0\x0f"
        + b"\x65" + b"\x00" * 4
    )
    _assert_identical(mt, [w, b"", w])


def _mutate(wires, seed):
    rng = np.random.default_rng(seed)
    corrupt = []
    for i, w in enumerate(wires):
        b = bytearray(w)
        k = i % 5
        if k == 0 and b:
            b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
        elif k == 1 and b:
            b = b[: int(rng.integers(0, len(b)))]
        elif k == 2:
            b = bytearray(
                rng.integers(0, 256, size=int(rng.integers(0, 30)))
                .astype(np.uint8)
                .tobytes()
            )
        elif k == 3 and b:
            b[0] = 0x80
        corrupt.append(bytes(b))
    return corrupt


@pytest.mark.parametrize("seed", [100, 101, 102, 103])
def test_corrupt_bytes_permissive_nulls_the_same_rows(seed):
    """PERMISSIVE twin over mutated wire: exactly the rows the row
    path's try/except nulls come back bad (whole row None), every
    surviving row decodes value-identically, and a row-path HARD error
    (OverflowError — outside the permissive catch list) hard-raises
    from the batch path too."""
    enc = compile_row_to_wire(SCALAR_MT, CFG)
    wires = _mutate([enc(r) for r in _random_rows(300, seed)], seed)
    wires += [None, b"", b"\x00", b"\xff" * 12, b"\x12\x05\x08"]
    dr = compile_wire_to_row(SCALAR_MT, CFG)
    db = compile_wire_to_batch(SCALAR_MT, CFG, permissive=True)

    slow: list = []
    hard = False
    for w in wires:
        if w is None:
            slow.append(None)
            continue
        try:
            slow.append(dr(bytes(w)))
        except (ValueError, TypeError, IndexError, struct.error):
            slow.append(None)
        except OverflowError:
            slow.append("HARD")
            hard = True
    try:
        cols, bad = db(wires)
        fast_hard = False
    except OverflowError:
        fast_hard = True
    assert fast_hard == hard
    if hard:
        return
    nf = len(SCALAR_MT.fields)
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i], f"row {i}: row path nulled, batch kept it"
            for j in range(nf):
                assert _cell(cols[j], i) is None, (
                    f"bad row {i} field {SCALAR_MT.fields[j].name} not null"
                )
            continue
        assert not bad[i], f"row {i}: batch nulled, row path decoded {s}"
        for j in range(nf):
            assert _eq(_cell(cols[j], i), s[j]), (
                f"row {i} field {SCALAR_MT.fields[j].name}: "
                f"{_cell(cols[j], i)!r} != {s[j]!r}"
            )


def test_corrupt_bytes_strict_raises_like_row_path():
    enc = compile_row_to_wire(SCALAR_MT, CFG)
    good = [enc(r) for r in _random_rows(50, 9)]
    db = compile_wire_to_batch(SCALAR_MT, CFG)
    dr = compile_wire_to_row(SCALAR_MT, CFG)
    # truncated tag varint; truncated LEN payload (field 14 = string,
    # declared len 5, 2 bytes present); truncated fixed64; over-long
    # varint
    for w in (b"\x80", b"\x72\x05ab", b"\x61\x00\x00", b"\xff" * 12):
        with pytest.raises((ValueError, IndexError, struct.error)):
            dr(w)
        with pytest.raises((ValueError, IndexError, struct.error)):
            db(good + [w])
    with pytest.raises(TypeError):
        db(good + [None])  # bytes(None), like the row path


def test_unsupported_shapes_return_none():
    # repeated SCALARS decode vectorized since r9; repeated messages r10
    rep = MessageType("vd.R", (Field("xs", 1, Kind.INT64, repeated=True),))
    assert compile_wire_to_batch(rep, CFG) is not None
    rep_msg = MessageType(
        "vd.RM",
        (
            Field(
                "ms",
                1,
                Kind.MESSAGE,
                repeated=True,
                message=MessageType("vd.RSub", (Field("x", 1, Kind.INT64),)),
            ),
        ),
    )
    assert compile_wire_to_batch(rep_msg, CFG) is not None
    # recursive shapes (incl. repeated recursive items) vectorize in
    # skip mode since r10; raise mode keeps the row path (which raises)
    from protarrow_spark.proto.fixtures import recursive_message_type

    skip_cfg = ProtarrowSparkConfig(skip_recursive_messages=True)
    assert compile_wire_to_batch(recursive_message_type(), skip_cfg) is not None
    assert compile_wire_to_batch(recursive_message_type(), CFG) is None
    # oneofs decode vectorized since r9 (sibling clearing)
    oneof = MessageType(
        "vd.O2",
        (
            Field("a", 1, Kind.STRING, oneof="p"),
            Field("b", 2, Kind.INT64, oneof="p"),
        ),
    )
    assert compile_wire_to_batch(oneof, CFG) is not None
    # plain nested messages decode vectorized since r9 (recursive
    # composition over concatenated body slices)
    nested = MessageType(
        "vd.N",
        (
            Field(
                "m",
                1,
                Kind.MESSAGE,
                message=MessageType("vd.Sub", (Field("x", 1, Kind.INT64),)),
            ),
        ),
    )
    assert compile_wire_to_batch(nested, CFG) is not None


def test_uint32_oversized_varint_is_unvectorizable():
    """Corrupt wire can put a >=2^63 varint in a uint32 field; the row
    path keeps the unbounded Python int, which no numpy dtype mirrors —
    the batch path must hand the batch back, not truncate."""
    mt = MessageType("vd.U32", (Field("u", 1, Kind.UINT32),))
    w = b"\x08" + b"\xff" * 9 + b"\x01"  # maximal 10-byte varint
    dr = compile_wire_to_row(mt, CFG)
    assert dr(w)[0] == (1 << 64) - 1
    db = compile_wire_to_batch(mt, CFG)
    with pytest.raises(Unvectorizable):
        db([w])


def test_float_signalling_nan_decodes_without_warning():
    """Any 32-bit pattern is a valid float payload: a signalling NaN
    decodes to NaN like the row path's struct.unpack, and warns nothing
    (a warnings-as-errors worker must not fail on it)."""
    import warnings

    mt = MessageType("vd.F", (Field("f", 1, Kind.FLOAT),))
    w = b"\x0d" + struct.pack("<I", 0x7F800001)
    assert math.isnan(compile_wire_to_row(mt, CFG)(w)[0])
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cols, _ = compile_wire_to_batch(mt, CFG)([w])
    assert math.isnan(cols[0][0])


def test_distributed_decode_uses_identical_values(spark):
    """End-to-end through Spark: decode_proto_bytes (which now takes
    the vectorized path for EVENT_MT) returns the same frame as a
    forced row-path decode."""
    import pyspark.sql.functions as F

    from protarrow_spark.conversion.distributed import (
        decode_proto_bytes,
        encode_proto_bytes,
    )
    from protarrow_spark.queries.conversion import EVENT_MT

    src = (
        spark.createDataFrame(
            [
                (1, 10, "click", 1.5, "2024-01-02 03:04:05.123456"),
                (2, 0, "", 0.0, None),
                (3, -7, "view", -2.25, "1969-12-31 23:59:59.999999"),
            ],
            "event_id long, user_id long, event_type string, value double, ts_s string",
        )
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    wire = encode_proto_bytes(src, EVENT_MT, CFG)
    back = decode_proto_bytes(wire, "proto", EVENT_MT, CFG)
    got = {r.event_id: r for r in back.collect()}
    assert got[1].event_type == "click" and got[1].value == 1.5
    assert got[3].user_id == -7
    assert got[2].event_type == "" and got[2].ts is None
    assert got[1].ts is not None


# --- hypothesis property: batch == row on arbitrary wire bytes ------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=150, deadline=None)
@given(blobs=st.lists(st.binary(max_size=40), min_size=1, max_size=25))
def test_property_arbitrary_bytes_equivalent(blobs):
    """ANY byte string: the batch path must null exactly the rows the
    row path's permissive try/except nulls and decode the rest
    cell-identically (or legitimately refuse via Unvectorizable)."""
    mt = MessageType(
        "vd.H",
        (
            Field("i", 1, Kind.INT64),
            Field("s", 2, Kind.STRING),
            Field("d", 3, Kind.DOUBLE),
            Field("ts", 4, Kind.MESSAGE, message=TIMESTAMP),
        ),
    )
    dr = compile_wire_to_row(mt, CFG)
    db = compile_wire_to_batch(mt, CFG, permissive=True)
    slow: list = []
    hard = False
    for w in blobs:
        try:
            slow.append(dr(w))
        except (ValueError, TypeError, IndexError, struct.error):
            slow.append(None)
        except OverflowError:
            slow.append("HARD")
            hard = True
    try:
        cols, bad = db(blobs)
    except OverflowError:
        assert hard
        return
    except Unvectorizable:
        return  # legitimate fallback; the row path handles the batch
    assert not hard
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i]
            continue
        assert not bad[i], f"row {i}: batch bad, row decoded {s} ({blobs[i].hex()})"
        for j in range(len(mt.fields)):
            assert _eq(_cell(cols[j], i), s[j]), (
                f"row {i} field {mt.fields[j].name}: "
                f"{_cell(cols[j], i)!r} != {s[j]!r} ({blobs[i].hex()})"
            )


# --- repeated/packed decode (r9) -------------------------------------------

REP_MT = MessageType(
    "vd.Rep",
    (
        Field("xs", 1, Kind.INT64, repeated=True),
        Field("ys", 2, Kind.SINT32, repeated=True),
        Field("ds", 4, Kind.DOUBLE, repeated=True),
        Field("fs", 5, Kind.FLOAT, repeated=True),
        Field("f32s", 6, Kind.FIXED32, repeated=True),
        Field("bs", 8, Kind.BOOL, repeated=True),
        Field("ss", 9, Kind.STRING, repeated=True),
        Field("bys", 10, Kind.BYTES, repeated=True),
        Field("es", 11, Kind.ENUM, repeated=True, enum=SIDE),
        Field("scalar", 12, Kind.INT64),
        Field("u64s", 13, Kind.UINT64, repeated=True),
    ),
)


def _eq_cell(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_eq_cell(x, y) for x, y in zip(a, b))
    return _eq(a, b)


def _random_rep_rows(n, seed=7):
    import decimal

    rng = np.random.default_rng(seed)

    def arr(gen, i):
        k = int(rng.integers(0, 6))
        if i % 11 == 0:
            return None
        if i % 7 == 0:
            return []
        return [gen() for _ in range(k)]

    rows = []
    for i in range(n):
        rows.append(
            (
                arr(lambda: int(rng.integers(-(2**62), 2**62)), i),
                arr(lambda: int(rng.integers(-(2**31), 2**31)), i + 1),
                arr(lambda: float(rng.normal()), i + 3),
                arr(lambda: float(np.float32(rng.normal())), i + 4),
                arr(lambda: int(rng.integers(0, 2**32)), i + 5),
                arr(lambda: bool(rng.integers(0, 2)), i + 7),
                arr(lambda: ["", "abc", "é漢"][int(rng.integers(0, 3))], i + 8),
                arr(
                    lambda: [b"", b"xy", bytes([7, 8, 9])][
                        int(rng.integers(0, 3))
                    ],
                    i + 9,
                ),
                arr(lambda: int(rng.integers(0, 4)), i + 10),
                int(rng.integers(-100, 100)),
                arr(
                    lambda: decimal.Decimal(
                        int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2))
                    ),
                    i + 12,
                ),
            )
        )
    return rows


def test_repeated_decode_random_matrix():
    """Packed numeric + expanded string/bytes repeated fields decode
    cell-identically to the row path (None/empty cells, unknown enum
    numbers, full decimal-uint64 range, multi-occurrence appends)."""
    enc = compile_row_to_wire(REP_MT, CFG)
    wires = [enc(r) for r in _random_rep_rows(500)]
    db = compile_wire_to_batch(REP_MT, CFG)
    assert db is not None
    dr = compile_wire_to_row(REP_MT, CFG)
    cols, bad = db(wires)
    assert bad is None
    slow = [dr(w) for w in wires]
    for i in range(len(wires)):
        for j, f in enumerate(REP_MT.fields):
            assert _eq_cell(cols[j][i], slow[i][j]), (
                f"row {i} field {f.name}: {cols[j][i]!r} != {slow[i][j]!r}"
            )


def test_repeated_decode_mixed_packed_and_expanded():
    """Hand-built wire mixing packed and expanded encodings of the SAME
    field (both legal; parsers must accept either), plus appends across
    occurrences — element order must match the row path exactly."""
    mt = MessageType("vd.Mix", (Field("xs", 1, Kind.INT64, repeated=True),))
    # expanded x=5 ; packed [1, 2] ; expanded x=300 ; empty packed
    w = b"\x08\x05" + b"\x0a\x02\x01\x02" + b"\x08\xac\x02" + b"\x0a\x00"
    dr = compile_wire_to_row(mt, CFG)
    db = compile_wire_to_batch(mt, CFG)
    assert dr(w)[0] == [5, 1, 2, 300]
    cols, _ = db([w, b"", w])
    assert cols[0][0] == [5, 1, 2, 300]
    assert cols[0][1] == []  # absent -> [] like the row finalizer
    assert cols[0][2] == [5, 1, 2, 300]


@pytest.mark.parametrize("seed", [300, 301, 302])
def test_repeated_decode_corrupt_permissive(seed):
    enc = compile_row_to_wire(REP_MT, CFG)
    wires = _mutate([enc(r) for r in _random_rep_rows(250, seed)], seed)
    wires += [None, b"", b"\x0a\x00", b"\x0a\x03\x01\x02\x03", b"\x0a\x05\x01"]
    dr = compile_wire_to_row(REP_MT, CFG)
    db = compile_wire_to_batch(REP_MT, CFG, permissive=True)
    slow: list = []
    for w in wires:
        if w is None:
            slow.append(None)
            continue
        try:
            slow.append(dr(bytes(w)))
        except (ValueError, TypeError, IndexError, struct.error):
            slow.append(None)
    try:
        cols, bad = db(wires)
    except Unvectorizable:
        return  # legitimate fallback
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i], f"row {i}: row path nulled, batch kept"
            continue
        assert not bad[i], f"row {i}: batch nulled, row path decoded"
        for j in range(len(REP_MT.fields)):
            assert _eq_cell(cols[j][i], s[j]), (
                f"row {i} field {REP_MT.fields[j].name}"
            )


# --- oneof decode (r9): later-member-wins sibling clearing -----------------

ONEOF_MT = MessageType(
    "vd.O",
    (
        Field("event_id", 1, Kind.INT64),
        Field("as_text", 2, Kind.STRING, oneof="payload"),
        Field("as_number", 3, Kind.INT64, oneof="payload"),
        Field("as_ts", 4, Kind.MESSAGE, message=TIMESTAMP, oneof="payload"),
    ),
)


def test_oneof_decode_random_and_later_member_wins():
    enc = compile_row_to_wire(ONEOF_MT, CFG)
    rng = np.random.default_rng(9)
    rows = []
    for i in range(300):
        k = i % 4
        rows.append(
            (
                i,
                f"txt{i}" if k == 0 else None,
                int(rng.integers(-100, 100)) if k == 1 else None,
                (
                    dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
                    + dt.timedelta(seconds=i)
                )
                if k == 2
                else None,
            )
        )
    wires = [enc(r) for r in rows]
    # hand-crafted multi-member stream: text -> number -> ts -> text;
    # each occurrence must clear its siblings, last one wins
    wires += [
        b"\x08\x2a" + b"\x12\x03abc" + b"\x18\x07"
        + b"\x22\x02\x08\x64" + b"\x12\x02zz",
        b"",
    ]
    _assert_identical(ONEOF_MT, wires)
    dr = compile_wire_to_row(ONEOF_MT, CFG)
    assert dr(wires[-2])[1] == "zz"  # the final member
    assert dr(wires[-2])[2] is None and dr(wires[-2])[3] is None


@pytest.mark.parametrize("seed", [600, 601])
def test_oneof_decode_corrupt_permissive(seed):
    enc = compile_row_to_wire(ONEOF_MT, CFG)
    base = [
        enc((i, f"t{i}" if i % 2 else None, None if i % 2 else i, None))
        for i in range(200)
    ]
    wires = _mutate(base, seed) + [b"", b"\x12\x05a"]
    dr = compile_wire_to_row(ONEOF_MT, CFG)
    db = compile_wire_to_batch(ONEOF_MT, CFG, permissive=True)
    slow: list = []
    hard = False
    for w in wires:
        try:
            slow.append(dr(bytes(w)))
        except (ValueError, TypeError, IndexError, struct.error):
            slow.append(None)
        except OverflowError:
            slow.append("HARD")
            hard = True
    try:
        cols, bad = db(wires)
    except OverflowError:
        assert hard
        return
    except Unvectorizable:
        return
    assert not hard
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i]
            continue
        assert not bad[i]
        for j in range(len(ONEOF_MT.fields)):
            assert _eq(_cell(cols[j], i), s[j]), (
                f"row {i} field {ONEOF_MT.fields[j].name}"
            )


# --- map decode (r9) ---------------------------------------------------------

from protarrow_spark.proto.model import map_field

MAP_MT = MessageType(
    "vd.Map",
    (
        Field("id", 1, Kind.INT64),
        map_field("m_is", 2, Kind.INT64, Kind.STRING),
        map_field("m_sd", 3, Kind.STRING, Kind.DOUBLE),
        map_field("m_ie", 5, Kind.INT32, Kind.ENUM, value_enum=SIDE),
        map_field("m_bb", 6, Kind.BOOL, Kind.BYTES),
    ),
)


def _map_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, dict) and isinstance(b, dict):
        return list(a.keys()) == list(b.keys()) and all(
            _map_eq(a[k], b[k]) for k in a
        )
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_map_eq(x, y) for x, y in zip(a, b))
    return _eq(a, b)


@pytest.mark.parametrize(
    "cfg_kw", [{}, {"map_as_list": True}, {"enum_type": "string"}]
)
def test_map_decode_matches_row_path(cfg_kw):
    """Entry slices parse bounded (the row path hands parse_into a
    SLICE), absent key/value read defaults, duplicate keys last-win at
    the first key's dict position, unknown entry subfields skip."""
    cfg = ProtarrowSparkConfig(**cfg_kw)
    enc = compile_row_to_wire(MAP_MT, cfg)
    rng = np.random.default_rng(31)
    rows = []
    for i in range(300):

        def mk(gen_k, gen_v):
            k = int(rng.integers(0, 5))
            if i % 11 == 0:
                return None
            if i % 7 == 0:
                return [] if cfg.map_as_list else {}
            d = {gen_k(j): gen_v(j) for j in range(k)}
            return list(d.items()) if cfg.map_as_list else d

        ev = (
            (lambda j: ["UNKNOWN", "BUY", "SELL"][int(rng.integers(0, 3))])
            if cfg.enum_type != "int"
            else (lambda j: int(rng.integers(0, 4)))
        )
        rows.append(
            (
                i,
                mk(lambda j: int(rng.integers(-100, 100)), lambda j: f"v{j}é"),
                mk(lambda j: f"k{j}", lambda j: float(rng.normal())),
                mk(lambda j: int(rng.integers(-(2**31), 2**31)), ev),
                mk(lambda j: bool(j % 2), lambda j: bytes([j, j + 1])),
            )
        )
    wires = [enc(r) for r in rows]
    # defaults-omitted entry, explicit-defaults entry, duplicate keys
    wires += [
        b"\x12\x00",
        b"\x12\x04\x08\x00\x12\x00",
        b"\x12\x05\x08\x07\x12\x01a" + b"\x12\x05\x08\x07\x12\x01b",
        b"",
    ]
    dr = compile_wire_to_row(MAP_MT, cfg)
    db = compile_wire_to_batch(MAP_MT, cfg)
    assert db is not None
    cols, bad = db(wires)
    slow = [dr(w) for w in wires]
    for i in range(len(wires)):
        for j, f in enumerate(MAP_MT.fields):
            assert _map_eq(cols[j][i], slow[i][j]), (
                f"row {i} field {f.name}: {cols[j][i]!r} != {slow[i][j]!r}"
            )


@pytest.mark.parametrize("seed", [400, 401, 402])
def test_map_decode_corrupt_permissive(seed):
    enc = compile_row_to_wire(MAP_MT, CFG)
    rng = np.random.default_rng(seed)
    base = [
        enc(
            (
                i,
                {int(rng.integers(-50, 50)): f"x{j}" for j in range(int(rng.integers(0, 4)))},
                {},
                {},
                {},
            )
        )
        for i in range(250)
    ]
    wires = _mutate(base, seed) + [b"\x12\x03\x08", b"\x12\x02\x12\x05", b"\x12\xff\x01"]
    dr = compile_wire_to_row(MAP_MT, CFG)
    db = compile_wire_to_batch(MAP_MT, CFG, permissive=True)
    slow: list = []
    for w in wires:
        try:
            slow.append(dr(bytes(w)))
        except (ValueError, TypeError, IndexError, struct.error):
            slow.append(None)
    try:
        cols, bad = db(wires)
    except Unvectorizable:
        return
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i], f"row {i}: row path nulled, batch kept"
            continue
        assert not bad[i], f"row {i}: batch nulled, row decoded"
        for j in range(len(MAP_MT.fields)):
            assert _map_eq(cols[j][i], s[j]), f"row {i} field {j}"


# --- nested message decode (r9) ----------------------------------------------

NESTED_INNER = MessageType(
    "vd.NInner",
    (
        Field("a", 1, Kind.INT64),
        Field("s", 2, Kind.STRING),
        Field("d", 3, Kind.DOUBLE),
        Field("ts", 4, Kind.MESSAGE, message=TIMESTAMP),
        Field("xs", 5, Kind.INT64, repeated=True),
    ),
)
NESTED_DEEP = MessageType(
    "vd.NDeep",
    (
        Field("inner", 1, Kind.MESSAGE, message=NESTED_INNER),
        Field("z", 2, Kind.INT32),
    ),
)
NESTED_MT = MessageType(
    "vd.NOuter",
    (
        Field("id", 1, Kind.INT64),
        Field("inner", 2, Kind.MESSAGE, message=NESTED_INNER),
        Field("deep", 3, Kind.MESSAGE, message=NESTED_DEEP),
    ),
)


def _nested_eq(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_nested_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_nested_eq(x, y) for x, y in zip(a, b))
    return _eq(a, b)


def _nested_wires(n, seed=17):
    rng = np.random.default_rng(seed)
    enc = compile_row_to_wire(NESTED_MT, CFG)

    def inner_cell(i):
        if i % 9 == 0:
            return None
        ts = (
            None
            if i % 5 == 0
            else dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(seconds=int(rng.integers(0, 10**7)))
        )
        return {
            "a": 0 if i % 4 == 0 else int(rng.integers(-(2**62), 2**62)),
            "s": ["", f"x{i}é"][i % 2],
            "d": [0.0, -0.0, 1.5][i % 3],
            "ts": ts,
            "xs": None
            if i % 6 == 0
            else [int(rng.integers(-50, 50)) for _ in range(i % 4)],
        }

    wires = []
    for i in range(n):
        deep = (
            None
            if i % 7 == 0
            else {"inner": inner_cell(i + 1), "z": int(rng.integers(-5, 5))}
        )
        wires.append(enc((i, inner_cell(i), deep)))
    return wires


def test_nested_message_decode_incl_merge():
    """Nested struct cells decode tuple-identically to the row path,
    including MERGE across multiple occurrences of the same message
    field (wire concatenation == parse_into merge: scalars last-win,
    repeated append)."""
    wires = _nested_wires(400)
    # two occurrences of `inner` merge: a=5 then s="abc" then xs append
    wires += [
        b"\x08\x01"
        + b"\x12\x04\x08\x05\x2a\x00"
        + b"\x12\x05\x12\x03abc"
        + b"\x12\x04\x2a\x02\x01\x02",
        b"",
    ]
    dr = compile_wire_to_row(NESTED_MT, CFG)
    db = compile_wire_to_batch(NESTED_MT, CFG)
    assert db is not None
    cols, bad = db(wires)
    slow = [dr(w) for w in wires]
    for i in range(len(wires)):
        for j, f in enumerate(NESTED_MT.fields):
            a = cols[j][i] if not isinstance(cols[j], pd.Series) else cols[j].iloc[i]
            assert _nested_eq(a, slow[i][j]), (
                f"row {i} field {f.name}: {a!r} != {slow[i][j]!r}"
            )
    merged = slow[-2][1]
    assert merged[0] == 5 and merged[1] == "abc" and merged[4] == [1, 2]


@pytest.mark.parametrize("seed", [700, 701, 702, 703])
def test_nested_message_decode_corrupt_permissive(seed):
    """Corrupt bytes at the top level and inside nested messages must
    null identically in both paths: every level parses strictly, each
    message body from its own slice."""
    wires = _mutate(_nested_wires(300, seed), seed)
    wires += [b"\x12\x03\x08", b"\x12\x02\x12\x05"]
    dr = compile_wire_to_row(NESTED_MT, CFG)
    db = compile_wire_to_batch(NESTED_MT, CFG, permissive=True)
    slow: list = []
    hard = False
    for w in wires:
        try:
            slow.append(dr(bytes(w)))
        except (ValueError, TypeError, IndexError, struct.error):
            slow.append(None)
        except OverflowError:
            slow.append("HARD")
            hard = True
    try:
        cols, bad = db(wires)
    except OverflowError:
        assert hard
        return
    except Unvectorizable:
        return
    assert not hard
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i], f"row {i}: row path nulled, batch kept"
            continue
        assert not bad[i], f"row {i}: batch nulled, row decoded"
        for j in range(len(NESTED_MT.fields)):
            a = cols[j][i] if not isinstance(cols[j], pd.Series) else cols[j].iloc[i]
            assert _nested_eq(a, s[j]), f"row {i} field {j}"


TS_TAIL_MT = MessageType(
    "vd.TsTail",
    (
        Field("ts", 1, Kind.MESSAGE, message=TIMESTAMP),
        Field("n", 2, Kind.INT64),
    ),
)


@pytest.mark.parametrize("ts_type", ["timestamp", "long_nanos"])
def test_top_level_timestamp_body_is_strict(ts_type):
    """A top-level Timestamp body whose last subfield varint continues
    past the body end fails its row in both paths, as it does in a
    nested message and in protobuf itself: strict raises ValueError,
    permissive nulls the row. (The varint used to run on into the next
    record and the row decoded.)"""
    cfg = ProtarrowSparkConfig(timestamp_type=ts_type)
    good = b"\x0a\x02\x08\x05\x10\x07"  # ts{seconds: 5}, n: 7
    bad = b"\x0a\x02\x08\x85\x10\x07"  # seconds' varint runs into n
    dr = compile_wire_to_row(TS_TAIL_MT, cfg)
    with pytest.raises(ValueError):
        dr(bad)
    with pytest.raises(ValueError):
        compile_wire_to_batch(TS_TAIL_MT, cfg)([good, bad])
    cols, bad_rows = compile_wire_to_batch(TS_TAIL_MT, cfg, permissive=True)([good, bad])
    assert bad_rows.tolist() == [False, True]
    row = dr(good)
    assert row[1] == 7
    for j, cell in enumerate(row):
        col = cols[j]
        got = col.iloc[0] if isinstance(col, pd.Series) else col[0]
        assert got == cell


# --- record loop: deterministic counters and out-of-step rows ---------------

from protarrow_spark.conversion import vectorized_decode as vd  # noqa: E402
from protarrow_spark.proto import fixtures  # noqa: E402
from protarrow_spark.proto.message import (  # noqa: E402
    _read_varint,
    _skip,
    _write_varint,
    serialize,
)
from protarrow_spark.queries.conversion import EVENT_MT  # noqa: E402
from tests.random_messages import random_messages  # noqa: E402


def _records(wire):
    """A well-formed message's top-level records, each as its raw bytes
    (tag + payload)."""
    out, pos = [], 0
    while pos < len(wire):
        start = pos
        tag, pos = _read_varint(wire, pos)
        pos = _skip(wire, pos, tag & 7)
        out.append(wire[start:pos])
    return out


def _counter_batch(shape):
    if shape == "example":
        msgs = random_messages(fixtures.EXAMPLE, 400, seed=2024)
        return fixtures.EXAMPLE, [serialize(m) for m in msgs]
    rng = np.random.default_rng(2024)
    enc = compile_row_to_wire(EVENT_MT, CFG)
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (
            i,
            int(rng.integers(0, 5_000)),
            ["click", "view", "buy", ""][int(rng.integers(0, 4))],
            float(rng.normal()),
            epoch + dt.timedelta(microseconds=int(rng.integers(0, 10**12))),
        )
        for i in range(10_000)
    ]
    return EVENT_MT, [enc(r) for r in rows]


#: varint reader calls of one decode of each batch below, recorded when
#: the record loop landed (on perfbench's seed-1 400-message EXAMPLE
#: batch, the tag-grouped loop it replaced made 1,753 calls; it makes 207)
_MAX_READER_CALLS = {"example": 193, "event": 14}


@pytest.mark.parametrize("shape", ["example", "event"])
def test_record_loop_counters(monkeypatch, shape):
    """Pins the algorithm with counters instead of timings: the
    top-level record loop takes one step per record of the row holding
    the most, and the whole decode (every sub-decoder included) makes a
    bounded number of varint reader calls, however many distinct tags a
    step meets."""
    mtype, wires = _counter_batch(shape)
    calls, steps = [0], []
    read, tokenize = vd._read_varints, vd._tokenize

    def counting_read(*args):
        calls[0] += 1
        return read(*args)

    def recording_tokenize(*args):
        out = tokenize(*args)
        steps.append(out[2])
        return out

    monkeypatch.setattr(vd, "_read_varints", counting_read)
    monkeypatch.setattr(vd, "_tokenize", recording_tokenize)
    cols, bad = compile_wire_to_batch(mtype, CFG)(wires)
    most = max(len(_records(w)) for w in wires)
    assert steps[0] <= most + 1  # the first record loop is the top level
    assert calls[0] <= _MAX_READER_CALLS[shape], calls[0]


def _varint(v):
    out = bytearray()
    _write_varint(out, v)
    return bytes(out)


def _rec(number, wt, payload):
    return _varint(number << 3 | wt) + payload


def _len_rec(number, body):
    return _rec(number, 2, _varint(len(body)) + body)


def _extras(rng):
    """EXAMPLE records that put rows out of step with each other."""
    zz = lambda v: _varint(((v << 1) ^ (v >> 63)) & (2**64 - 1))  # noqa: E731
    ints = [rng.randint(-(2**31), 2**31 - 1) for _ in range(4)]
    members = [
        _len_rec(58, "payload é".encode()),
        _rec(59, 0, _varint(rng.randint(0, 2**40))),
        _len_rec(60, _rec(1, 0, _varint(7))),
        _rec(61, 0, _varint(1)),
    ]
    return [
        # a singular field written twice (varint and string)
        _rec(4, 0, _varint(rng.randint(0, 2**62))),
        _len_rec(14, b"second"),
        # a packed run split into packed and expanded occurrences
        _len_rec(22, zz(ints[0]) + zz(ints[1])),
        _rec(22, 0, zz(ints[2])),
        _rec(22, 0, zz(ints[3])),
        _len_rec(16, struct.pack("<2d", 1.5, -2.0)),
        _rec(16, 1, struct.pack("<d", 4.25)),
        # two oneof members (the shuffle picks their order)
        *rng.sample(members, 2),
        # unknown fields of every skippable wire type
        _rec(900, 0, _varint(300)),
        _rec(901, 1, b"\x01" * 8),
        _len_rec(902, b"\x08\x01junk"),
        _rec(903, 5, b"\x02" * 4),
        # observed wire type != the kind's: a varint field tagged wt 2,
        # a fixed64 field tagged wt 0 (the row path reads by kind)
        _rec(4, 2, _varint(12345)),
        _rec(10, 0, struct.pack("<Q", 2**63 + 5)),
    ]


def _scramble(wire, mtype, rng):
    """``wire`` re-serialized with the records of every message level in
    a seeded shuffled order, plus the out-of-step extras at each EXAMPLE
    level."""
    recs = []
    for r in _records(wire):
        tag, pos = _read_varint(r, 0)
        field = mtype.fields_by_number.get(tag >> 3)
        if field is not None and field.kind is Kind.MESSAGE:
            _, start = _read_varint(r, pos)
            r = _len_rec(tag >> 3, _scramble(r[start:], field.message, rng))
        recs.append(r)
    if mtype.full_name == fixtures.EXAMPLE.full_name:
        recs += _extras(rng)
    rng.shuffle(recs)
    return b"".join(recs)


def _deep_eq(a, b):
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_deep_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return list(a) == list(b) and all(_deep_eq(a[k], b[k]) for k in a)
    return _eq(a, b)


@pytest.mark.parametrize("seed", [31, 32])
@pytest.mark.parametrize("shape", ["EXAMPLE", "NESTED_EXAMPLE"])
def test_out_of_step_rows_match_row_path(shape, seed):
    """Rows whose records come in different orders — shuffled fields,
    repeated writes, split packed runs, both oneof members, unknown
    fields, mismatched wire types — decode per row exactly as the row
    path does: the record log keeps each row's occurrence order. A
    corrupted copy nulls the same rows in permissive mode."""
    import random

    mtype = getattr(fixtures, shape)
    rng = random.Random(seed)
    wires = [_scramble(serialize(m), mtype, rng) for m in random_messages(mtype, 60, seed)]
    dr = compile_wire_to_row(mtype, CFG)
    cols, bad = compile_wire_to_batch(mtype, CFG)(wires)
    assert bad is None
    for i, w in enumerate(wires):
        slow = dr(w)
        for j, f in enumerate(mtype.fields):
            assert _deep_eq(_cell(cols[j], i), slow[j]), f"row {i} field {f.name}"

    corrupt = []
    for i, w in enumerate(wires):
        b = bytearray(w)
        if b and i % 3 == 0:
            b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
        elif b and i % 3 == 1:
            b = b[: rng.randrange(len(b))]
        corrupt.append(bytes(b))
    slow_rows: list = []
    hard = False
    for w in corrupt:
        try:
            slow_rows.append(dr(w))
        except (ValueError, TypeError, IndexError, struct.error):
            slow_rows.append(None)
        except OverflowError:
            slow_rows.append("HARD")
            hard = True
    try:
        cols, bad = compile_wire_to_batch(mtype, CFG, permissive=True)(corrupt)
    except OverflowError:
        assert hard
        return
    except Unvectorizable:
        return  # legitimate fallback: the row path decides the batch
    assert not hard
    for i, s in enumerate(slow_rows):
        if s is None:
            assert bad[i], f"row {i}: row path nulled, batch kept"
            continue
        assert not bad[i], f"row {i}: batch nulled, row path decoded"
        for j, f in enumerate(mtype.fields):
            assert _deep_eq(_cell(cols[j], i), s[j]), f"row {i} field {f.name}"
