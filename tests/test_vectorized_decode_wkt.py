"""r10 vectorized-decoder scope: non-Timestamp WKTs (wrappers,
Duration, Date, TimeOfDay, Empty), repeated MESSAGE fields, message-
valued MAPs, and recursive types under skip_recursive_messages —
value-identical to compile_wire_to_row (the semantics oracle), with
corrupt-byte parity in both error modes via the r9 mutation-fuzz
methodology (strict: both raise; permissive: both null the same rows).
"""

from __future__ import annotations

import datetime as dt
import decimal
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
from protarrow_spark.proto.message import Message, serialize
from protarrow_spark.proto.model import (
    DATE,
    DURATION,
    EMPTY,
    TIME_OF_DAY,
    TIMESTAMP,
    WELL_KNOWN,
    Field,
    Kind,
    MessageType,
    map_field,
)

CFG = ProtarrowSparkConfig()
UTC = dt.timezone.utc

DV = WELL_KNOWN["google.protobuf.DoubleValue"]
FV = WELL_KNOWN["google.protobuf.FloatValue"]
I64V = WELL_KNOWN["google.protobuf.Int64Value"]
U64V = WELL_KNOWN["google.protobuf.UInt64Value"]
I32V = WELL_KNOWN["google.protobuf.Int32Value"]
U32V = WELL_KNOWN["google.protobuf.UInt32Value"]
BV = WELL_KNOWN["google.protobuf.BoolValue"]
SV = WELL_KNOWN["google.protobuf.StringValue"]
BYV = WELL_KNOWN["google.protobuf.BytesValue"]

WKT_MT = MessageType(
    "vdw.Wkt",
    (
        Field("dur", 1, Kind.MESSAGE, message=DURATION),
        Field("date", 2, Kind.MESSAGE, message=DATE),
        Field("tod", 3, Kind.MESSAGE, message=TIME_OF_DAY),
        Field("dv", 4, Kind.MESSAGE, message=DV),
        Field("fv", 5, Kind.MESSAGE, message=FV),
        Field("i64v", 6, Kind.MESSAGE, message=I64V),
        Field("u64v", 7, Kind.MESSAGE, message=U64V),
        Field("i32v", 8, Kind.MESSAGE, message=I32V),
        Field("u32v", 9, Kind.MESSAGE, message=U32V),
        Field("bv", 10, Kind.MESSAGE, message=BV),
        Field("sv", 11, Kind.MESSAGE, message=SV),
        Field("byv", 12, Kind.MESSAGE, message=BYV),
        Field("emp", 13, Kind.MESSAGE, message=EMPTY),
    ),
)

INNER = MessageType(
    "vdw.Inner",
    (
        Field("x", 1, Kind.INT64),
        Field("s", 2, Kind.STRING),
        Field("ts", 3, Kind.MESSAGE, message=TIMESTAMP),
    ),
)

REP_MT = MessageType(
    "vdw.Rep",
    (
        Field("ms", 1, Kind.MESSAGE, repeated=True, message=INNER),
        Field("tss", 2, Kind.MESSAGE, repeated=True, message=TIMESTAMP),
        Field("id", 3, Kind.INT64),
    ),
)

MAP_MT = MessageType(
    "vdw.Map",
    (
        map_field("mi", 1, Kind.STRING, Kind.MESSAGE, value_message=INNER),
        map_field("md", 2, Kind.INT64, Kind.MESSAGE, value_message=DURATION),
    ),
)


def _cell(col, i):
    v = col.iloc[i] if isinstance(col, pd.Series) else col[i]
    return None if v is pd.NaT else v


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return list(a) == list(b) and all(_eq(a[k], b[k]) for k in a)
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


def _assert_corrupt_parity(mt, wires, cfg=CFG):
    """Permissive twin over corrupt wire: exactly the rows the row
    path's catch list nulls come back bad; survivors decode value-
    identically; hard errors (OverflowError) abort both."""
    dr = compile_wire_to_row(mt, cfg)
    db = compile_wire_to_batch(mt, cfg, permissive=True)
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
    except OverflowError:
        assert hard
        return
    except Unvectorizable:
        return  # legitimate fallback — the row path decides
    assert not hard
    for i, s in enumerate(slow):
        if s is None:
            assert bad[i], f"row {i}: row path nulled, batch kept"
            continue
        assert not bad[i], f"row {i}: batch nulled, row path decoded"
        for j, f in enumerate(mt.fields):
            assert _eq(_cell(cols[j], i), s[j]), (
                f"row {i} field {f.name}: "
                f"{_cell(cols[j], i)!r} != {s[j]!r}"
            )


def _u64(cfg, v):
    return decimal.Decimal(v) if cfg.uint64_type == "decimal" else (
        v - (1 << 64) if v > (1 << 63) - 1 else v
    )


def _wkt_rows(n, cfg, seed=0):
    rng = np.random.default_rng(seed)

    def maybe(v):
        return None if rng.random() < 0.2 else v

    rows = []
    for i in range(n):
        if cfg.duration_type == "long_nanos":
            dur = maybe(int(rng.integers(-(10**15), 10**15)))
        else:
            dur = maybe(
                dt.timedelta(
                    seconds=int(rng.integers(-(10**6), 10**6)),
                    microseconds=int(rng.integers(-(10**6), 10**6)),
                )
            )
        rows.append(
            (
                dur,
                maybe(
                    dt.date(1, 1, 1)
                    if rng.random() < 0.1
                    else dt.date(
                        int(rng.integers(1, 9999)),
                        int(rng.integers(1, 13)),
                        int(rng.integers(1, 29)),
                    )
                ),
                maybe(
                    int(rng.integers(0, 24)) * 3_600_000_000_000
                    + int(rng.integers(0, 10**9))
                ),
                maybe(float(rng.normal()) if rng.random() > 0.1 else 0.0),
                maybe(float(np.float32(rng.normal()))),
                maybe(int(rng.integers(-(10**12), 10**12))),
                maybe(
                    _u64(
                        cfg,
                        int(rng.integers(0, 2**62)) * 4
                        + int(rng.integers(0, 4)),
                    )
                ),
                maybe(int(rng.integers(-(2**31), 2**31))),
                maybe(int(rng.integers(0, 2**32))),
                maybe(bool(rng.random() < 0.5)),
                maybe("" if rng.random() < 0.1 else f"s{i}"),
                maybe(b"" if rng.random() < 0.1 else bytes([i % 256]) * 3),
                maybe(()),
            )
        )
    return rows


@pytest.mark.parametrize(
    "cfg_kw",
    [
        {},
        {"duration_type": "long_nanos"},
        {"uint64_type": "long"},
    ],
)
def test_wkt_decode_random_matrix_all_configs(cfg_kw):
    cfg = ProtarrowSparkConfig(**cfg_kw)
    enc = compile_row_to_wire(WKT_MT, cfg)
    wires = [enc(r) for r in _wkt_rows(300, cfg, seed=11)] + [b""]
    _assert_identical(WKT_MT, wires, cfg)


def test_wkt_default_body_vs_absent_field():
    # tag + len 0 -> default VALUE (0 / "" / timedelta(0) / sentinel);
    # absent field -> None. The message-presence distinction wrappers
    # exist for.
    enc = compile_row_to_wire(WKT_MT, CFG)
    present_defaults = enc(
        (
            dt.timedelta(0), dt.date(1, 1, 1), 0, 0.0, 0.0, 0,
            decimal.Decimal(0), 0, 0, False, "", b"", (),
        )
    )
    absent = b""
    _assert_identical(WKT_MT, [present_defaults, absent])
    db = compile_wire_to_batch(WKT_MT, CFG)
    cols, _ = db([present_defaults, absent])
    assert _cell(cols[3], 0) == 0.0 and _cell(cols[3], 1) is None
    assert _cell(cols[0], 0) == dt.timedelta(0) and _cell(cols[0], 1) is None
    assert _cell(cols[1], 0) == dt.date(1, 1, 1)
    assert _cell(cols[12], 0) == () and _cell(cols[12], 1) is None


def test_wkt_merge_across_occurrences():
    # two occurrences of the same wrapper field: bodies concatenate ==
    # parse_into merge (scalar subfield last-wins)
    w = b"\x32\x02\x08\x05" + b"\x32\x02\x08\x09"  # i64v: 5 then 9
    _assert_identical(WKT_MT, [w])
    dr = compile_wire_to_row(WKT_MT, CFG)
    assert dr(w)[5] == 9


def test_map_entry_missing_value_reads_default_message():
    # an entry with no value occurrence: entry.value is a default
    # (detached) instance -> the default cell form, not None
    w = b"\x0a\x03\x0a\x01k"  # mi entry: key "k", no value bytes
    _assert_identical(MAP_MT, [w])
    dr = compile_wire_to_row(MAP_MT, CFG)
    assert dr(w)[0] == {"k": (0, "", None)}
    w2 = b"\x12\x02\x08\x03"  # md entry: key 3, no value
    assert dr(w2)[1] == {3: dt.timedelta(0)}
    _assert_identical(MAP_MT, [w2])


def test_map_value_merge_across_repeated_value_occurrences():
    # two value occurrences INSIDE one entry merge (parse_into)
    inner1 = b"\x08\x05"  # x=5
    inner2 = b"\x12\x01z"  # s="z"
    entry = b"\x0a\x01k" + b"\x12\x02" + inner1 + b"\x12\x03" + inner2
    w = b"\x0a" + bytes([len(entry)]) + entry
    _assert_identical(MAP_MT, [w])
    dr = compile_wire_to_row(MAP_MT, CFG)
    assert dr(w)[0] == {"k": (5, "z", None)}


def test_invalid_date_components_error_parity():
    # month 13 from the wire: datetime.date raises ValueError -> strict
    # aborts, permissive nulls the row — both paths
    bad_date = b"\x12\x07\x08\xcf\x0f\x10\x0d\x18\x01"  # y=1999 m=13 d=1
    dr = compile_wire_to_row(WKT_MT, CFG)
    with pytest.raises(ValueError):
        dr(bad_date)
    db = compile_wire_to_batch(WKT_MT, CFG)
    with pytest.raises(ValueError):
        db([bad_date])
    dbp = compile_wire_to_batch(WKT_MT, CFG, permissive=True)
    cols, bad = dbp([bad_date, b""])
    assert bad.tolist() == [True, False]


def test_duration_long_nanos_overflow_is_unvectorizable():
    cfg = ProtarrowSparkConfig(duration_type="long_nanos")
    # seconds = 2^60 on the wire: the row path returns an unbounded int
    body = b"\x08" + b"\x80" * 8 + b"\x10"  # varint(1 << 60)
    w = b"\x0a" + bytes([len(body)]) + body
    dr = compile_wire_to_row(WKT_MT, cfg)
    big = dr(w)[0]
    assert isinstance(big, int) and abs(big) > (1 << 63)
    db = compile_wire_to_batch(WKT_MT, cfg)
    with pytest.raises(Unvectorizable):
        db([w])


@pytest.mark.parametrize("seed", [800, 801, 802, 803])
def test_wkt_decode_corrupt_permissive(seed):
    enc = compile_row_to_wire(WKT_MT, CFG)
    wires = _mutate([enc(r) for r in _wkt_rows(250, CFG, seed)], seed)
    wires += [None, b"", b"\x0a\x02\x08", b"\x6a\x01\xff", b"\x32\x02\x08"]
    _assert_corrupt_parity(WKT_MT, wires)


def test_wkt_decode_corrupt_strict_raises_like_row_path():
    enc = compile_row_to_wire(WKT_MT, CFG)
    good = [enc(r) for r in _wkt_rows(8, CFG, 5)]
    dr = compile_wire_to_row(WKT_MT, CFG)
    db = compile_wire_to_batch(WKT_MT, CFG)
    for w in [b"\x0a\x02\x08", b"\x32\x05\x08", b"\x12\xff\xff"]:
        with pytest.raises((ValueError, IndexError, struct.error)):
            dr(w)
        with pytest.raises((ValueError, IndexError, struct.error)):
            db(good + [w])


# --- repeated messages ----------------------------------------------------


def _rep_rows(n, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        items = [
            (
                int(rng.integers(-(10**9), 10**9)),
                f"i{j}" if rng.random() > 0.2 else "",
                None
                if rng.random() < 0.3
                else dt.datetime(2020, 1, 1, tzinfo=UTC)
                + dt.timedelta(seconds=int(rng.integers(0, 10**6))),
            )
            for j in range(int(rng.integers(0, 4)))
        ]
        tss = [
            dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=UTC)
            + dt.timedelta(microseconds=int(rng.integers(0, 10**9)))
            for _ in range(int(rng.integers(0, 3)))
        ]
        rows.append((items, tss, i))
    return rows


def test_repeated_message_decode_random_matrix():
    enc = compile_row_to_wire(REP_MT, CFG)
    wires = [enc(r) for r in _rep_rows(300)] + [b""]
    _assert_identical(REP_MT, wires)


def test_repeated_message_items_do_not_merge():
    # two occurrences = two ITEMS (parse's repeated-message handler
    # appends one per occurrence), unlike singular fields
    item = b"\x08\x05"  # Inner{x:5}
    w = b"\x0a\x02" + item + b"\x0a\x02" + item
    dr = compile_wire_to_row(REP_MT, CFG)
    assert dr(w)[0] == [(5, "", None), (5, "", None)]
    _assert_identical(REP_MT, [w])


def test_repeated_message_interleaved_with_other_fields():
    # items interleave with scalar occurrences; per-row order restored
    w = b"\x0a\x02\x08\x01" + b"\x18\x2a" + b"\x0a\x02\x08\x02"
    dr = compile_wire_to_row(REP_MT, CFG)
    assert dr(w)[0] == [(1, "", None), (2, "", None)] and dr(w)[2] == 42
    _assert_identical(REP_MT, [w])


@pytest.mark.parametrize("seed", [810, 811, 812])
def test_repeated_message_decode_corrupt_permissive(seed):
    enc = compile_row_to_wire(REP_MT, CFG)
    wires = _mutate([enc(r) for r in _rep_rows(250, seed)], seed)
    wires += [b"\x0a\x02\x08", b"\x0a\xff\x01", b"\x12\x03\x08\x01"]
    _assert_corrupt_parity(REP_MT, wires)


# --- message-valued maps ----------------------------------------------------


def _map_rows(n, seed=9):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        mi = {
            f"k{j}": (
                int(rng.integers(0, 100)),
                "v" if rng.random() > 0.3 else "",
                None
                if rng.random() < 0.5
                else dt.datetime(2021, 6, 1, tzinfo=UTC)
                + dt.timedelta(seconds=j),
            )
            for j in range(int(rng.integers(0, 3)))
        }
        md = {
            int(rng.integers(-5, 5)): dt.timedelta(
                seconds=int(rng.integers(-100, 100))
            )
            for _ in range(int(rng.integers(0, 3)))
        }
        rows.append((mi, md))
    return rows


def test_map_message_values_decode_random_matrix():
    enc = compile_row_to_wire(MAP_MT, CFG)
    wires = [enc(r) for r in _map_rows(300)] + [b""]
    _assert_identical(MAP_MT, wires)


@pytest.mark.parametrize("seed", [820, 821, 822])
def test_map_message_values_decode_corrupt_permissive(seed):
    enc = compile_row_to_wire(MAP_MT, CFG)
    wires = _mutate([enc(r) for r in _map_rows(250, seed)], seed)
    wires += [b"\x0a\x02\x12", b"\x0a\x04\x0a\x01k\x12", b"\x12\x02\x08"]
    _assert_corrupt_parity(MAP_MT, wires)


# --- recursive types ---------------------------------------------------------


def _self_recursive():
    rec = MessageType("vdw.Rec", ())
    rec.fields = (
        Field("name", 1, Kind.STRING),
        Field("child", 2, Kind.MESSAGE, message=rec),
    )
    return rec


SKIP_CFG = ProtarrowSparkConfig(skip_recursive_messages=True)


def _chain(rec, depth, label):
    msgs = [Message(rec) for _ in range(depth)]
    for k, m in enumerate(msgs):
        m.name = f"{label}{k}"
        if k + 1 < depth:
            m.child = msgs[k + 1]
    return serialize(msgs[0])


def test_recursive_decode_validates_and_prunes():
    rec = _self_recursive()
    wires = [_chain(rec, d, "n") for d in (1, 2, 5)] + [b""]
    _assert_identical(rec, wires, SKIP_CFG)
    db = compile_wire_to_batch(rec, SKIP_CFG)
    cols, _ = db(wires)
    # present subtree prunes to (); absent stays None
    assert cols[1][0] is None or cols[1][0] == ()  # depth-1: no child
    assert _cell(cols[1], 1) == ()
    assert _cell(cols[1], 3) is None


def test_recursive_decode_raise_mode_keeps_row_path():
    assert compile_wire_to_batch(_self_recursive(), CFG) is None


def test_indirect_recursion_decode_a_b_a():
    b = MessageType("vdw.B", ())
    a = MessageType("vdw.A", ())
    a.fields = (Field("x", 1, Kind.INT64), Field("b", 2, Kind.MESSAGE, message=b))
    b.fields = (Field("y", 1, Kind.INT64), Field("a", 2, Kind.MESSAGE, message=a))
    enc = compile_row_to_wire(a, SKIP_CFG)
    wires = [enc((5, (7, ()))), enc((0, (0, None))), enc((1, None)), b""]
    _assert_identical(a, wires, SKIP_CFG)
    assert compile_wire_to_batch(a, CFG) is None


@pytest.mark.parametrize("seed", [830, 831, 832])
def test_recursive_decode_corrupt_permissive(seed):
    rec = _self_recursive()
    rng = np.random.default_rng(seed)
    base = [
        _chain(rec, int(rng.integers(1, 6)), f"r{i}") for i in range(200)
    ]
    wires = _mutate(base, seed) + [b"\x12\x02\x08", b"\x12\x01\xff"]
    _assert_corrupt_parity(rec, wires, SKIP_CFG)


# --- hypothesis: arbitrary bytes equivalence ---------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=150, deadline=None)
@given(
    blobs=st.lists(
        st.binary(min_size=0, max_size=60), min_size=1, max_size=8
    )
)
def test_property_arbitrary_bytes_equivalent_wkt(blobs):
    """Arbitrary bytes through the WKT/rep-msg/map-msg shapes: strict
    raises iff the row path raises; permissive nulls the same rows and
    survivors match value-for-value."""
    for mt in (WKT_MT, REP_MT, MAP_MT):
        _assert_corrupt_parity(mt, blobs)


def test_large_valid_duration_map_value_no_ns_overflow():
    """Deep-fuzz regression (r10): a Duration map value of ~-1.6e6 days
    is a VALID datetime.timedelta but overflows timedelta64[ns]; the
    item-context conversion must construct timedelta objects directly
    instead of routing through pandas' ns resolution."""
    big = dt.timedelta(microseconds=-137_438_953_509_000_000)
    enc = compile_row_to_wire(MAP_MT, CFG)
    w = enc(({}, {1: big}))
    _assert_identical(MAP_MT, [w])
    dr = compile_wire_to_row(MAP_MT, CFG)
    assert dr(w)[1] == {1: big}


def test_far_future_timestamp_item_no_ns_overflow():
    """Same hazard for repeated Timestamp items: year 5000 is valid for
    the row path's epoch+timedelta arithmetic but beyond
    datetime64[ns]; item cells must not route through pd.to_datetime."""
    far = dt.datetime(5000, 1, 1, tzinfo=UTC)
    enc = compile_row_to_wire(REP_MT, CFG)
    w = enc(([], [far], 1))
    _assert_identical(REP_MT, [w])


def test_repeated_recursive_items_decode_vectorized():
    """r10: repeated recursive items — each occurrence validates via
    the strict validator and prunes to (), matching parse's
    repeated-message handler + row_builder's recursion lambda."""
    from protarrow_spark.proto.fixtures import recursive_message_type

    rec = recursive_message_type()
    enc = compile_row_to_wire(rec, SKIP_CFG)
    wires = [
        enc(("a", (), [(), ()])),
        enc(("", None, [])),
        enc(("b", ("x",), [(), (), ()])),
        b"",
    ]
    _assert_identical(rec, wires, SKIP_CFG)
    assert compile_wire_to_batch(rec, CFG) is None  # raise mode


def test_map_recursive_values_decode_vectorized():
    rec = MessageType("vdw.H", ())
    rec.fields = (
        map_field("m", 1, Kind.STRING, Kind.MESSAGE, value_message=rec),
    )
    enc = compile_row_to_wire(rec, SKIP_CFG)
    wires = [enc(({"a": (), "b": ()},)), enc(({},)), b""]
    _assert_identical(rec, wires, SKIP_CFG)
    assert compile_wire_to_batch(rec, CFG) is None


@pytest.mark.parametrize("seed", [840, 841, 842])
def test_repeated_recursive_decode_corrupt_permissive(seed):
    from protarrow_spark.proto.fixtures import recursive_message_type

    rec = recursive_message_type()
    enc = compile_row_to_wire(rec, SKIP_CFG)
    rng = np.random.default_rng(seed)
    base = [
        enc(
            (
                f"n{i}",
                () if rng.random() < 0.5 else None,
                [()] * int(rng.integers(0, 4)),
            )
        )
        for i in range(200)
    ]
    wires = _mutate(base, seed) + [b"\x1a\x02\x0a", b"\x1a\x01\xff"]
    _assert_corrupt_parity(rec, wires, SKIP_CFG)
