"""r10 vectorized-encoder scope: non-Timestamp WKTs (wrappers,
Duration, Date, TimeOfDay, Empty), repeated MESSAGE fields, message-
valued MAPs, and recursive types under skip_recursive_messages — all
byte-identical to compile_row_to_wire (the semantics oracle, itself
differential-tested against Message serialize).

Reference parity targets: wrapper/WKT converters
(arrow_to_proto.py:165-175) and the repeated-message walk
(arrow_to_proto.py:588-605).
"""

from __future__ import annotations

import datetime as dt
import decimal
import struct as _struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.distributed import compile_row_to_wire
from protarrow_spark.conversion.vectorized import Unvectorizable, compile_batch_to_wire
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
    "vw.Wkt",
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
    "vw.Inner",
    (
        Field("x", 1, Kind.INT64),
        Field("s", 2, Kind.STRING),
        Field("ts", 3, Kind.MESSAGE, message=TIMESTAMP),
    ),
)


def _assert_identical(mt, df, cfg=CFG):
    be = compile_batch_to_wire(mt, cfg)
    assert be is not None
    re_ = compile_row_to_wire(mt, cfg)
    names = [f.name for f in mt.fields]
    fast = be([df[c] for c in names])
    slow = [re_(rec) for rec in zip(*(df[c] for c in names))]
    bad = [i for i, (a, b) in enumerate(zip(fast, slow)) if a != b]
    assert not bad, (
        f"{len(bad)} mismatches, first row {bad[0]}: "
        f"{df.iloc[bad[0]].to_dict()} fast={fast[bad[0]].hex()} "
        f"slow={slow[bad[0]].hex()}"
    )


def _u64(cfg, v):
    return decimal.Decimal(v) if cfg.uint64_type == "decimal" else (
        v - (1 << 64) if v > (1 << 63) - 1 else v
    )


def _random_wkt_df(n, cfg, seed=0):
    rng = np.random.default_rng(seed)

    def maybe(i, v):
        return None if rng.random() < 0.2 else v

    rows = []
    for i in range(n):
        if cfg.duration_type == "long_nanos":
            dur = maybe(i, int(rng.integers(-(10**15), 10**15)))
        else:
            dur = maybe(
                i,
                dt.timedelta(
                    seconds=int(rng.integers(-(10**6), 10**6)),
                    microseconds=int(rng.integers(-(10**6), 10**6)),
                ),
            )
        date = maybe(
            i,
            dt.date(1, 1, 1)
            if rng.random() < 0.1
            else dt.date(
                int(rng.integers(1, 9999)),
                int(rng.integers(1, 13)),
                int(rng.integers(1, 29)),
            ),
        )
        tod = maybe(
            i,
            int(rng.integers(0, 24)) * 3_600_000_000_000
            + int(rng.integers(0, 10**9)),
        )
        rows.append(
            (
                dur,
                date,
                tod,
                maybe(i, float(rng.normal()) if rng.random() > 0.1 else 0.0),
                maybe(i, float(np.float32(rng.normal()))),
                maybe(i, int(rng.integers(-(10**12), 10**12))),
                maybe(
                    i,
                    _u64(
                        cfg,
                        int(rng.integers(0, 2**62)) * 4
                        + int(rng.integers(0, 4)),
                    ),
                ),
                maybe(i, int(rng.integers(-(2**31), 2**31))),
                maybe(i, int(rng.integers(0, 2**32))),
                maybe(i, bool(rng.random() < 0.5)),
                maybe(i, "" if rng.random() < 0.1 else f"s{i}"),
                maybe(i, b"" if rng.random() < 0.1 else bytes([i % 256]) * 3),
                maybe(i, ()),
            )
        )
    names = [f.name for f in WKT_MT.fields]
    return pd.DataFrame.from_records(rows, columns=names).astype(object).where(
        pd.notna(pd.DataFrame.from_records(rows, columns=names)), None
    )


@pytest.mark.parametrize(
    "cfg_kw",
    [
        {},
        {"duration_type": "long_nanos"},
        {"uint64_type": "long"},
        {"duration_type": "long_nanos", "uint64_type": "long"},
    ],
)
def test_wkt_random_matrix_all_configs(cfg_kw):
    cfg = ProtarrowSparkConfig(**cfg_kw)
    _assert_identical(WKT_MT, _random_wkt_df(300, cfg, seed=3), cfg)


def test_wkt_defaults_still_emit_len0_bodies():
    # a present-but-default wrapper/WKT cell emits tag + len 0 (message
    # presence), unlike a no-presence scalar which would be skipped
    df = pd.DataFrame(
        {
            "dur": [dt.timedelta(0)],
            "date": [dt.date(1, 1, 1)],  # sentinel -> Date() -> empty body
            "tod": [0],
            "dv": [0.0],
            "fv": [0.0],
            "i64v": [0],
            "u64v": [decimal.Decimal(0)],
            "i32v": [0],
            "u32v": [0],
            "bv": [False],
            "sv": [""],
            "byv": [b""],
            "emp": [()],
        },
        dtype=object,
    )
    _assert_identical(WKT_MT, df)
    be = compile_batch_to_wire(WKT_MT, CFG)
    out = be([df[f.name] for f in WKT_MT.fields])[0]
    # 13 fields x (1-byte tag + 1-byte len 0) = 26 bytes of frames
    assert len(out) == 26 and out[1] == 0


def test_duration_sign_normalization_and_negative_nanos():
    # protobuf Duration: seconds and nanos share a sign; -1.5s encodes
    # seconds=-1 nanos=-5e8 (a negative varint on the wire)
    df = pd.DataFrame(
        {
            "d": [
                dt.timedelta(seconds=-1, microseconds=-500_000),
                dt.timedelta(seconds=-2, microseconds=500_000),
                dt.timedelta(microseconds=-1),
                dt.timedelta(seconds=1),
                None,
            ]
        },
        dtype=object,
    )
    mt = MessageType("vw.D", (Field("d", 1, Kind.MESSAGE, message=DURATION),))
    _assert_identical(mt, df)


def test_duration_timedelta64_series_dtype():
    # Arrow hands DayTimeIntervalType columns as timedelta64[ns|us]
    mt = MessageType("vw.D2", (Field("d", 1, Kind.MESSAGE, message=DURATION),))
    s = pd.Series(
        pd.to_timedelta([-1_500_000_001, 0, 2_000_000_500, None], unit="ns")
    )
    df = pd.DataFrame({"d": s})
    be = compile_batch_to_wire(mt, CFG)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([df["d"]])
    slow = [
        re_((None if v is pd.NaT else v,)) for v in df["d"]
    ]
    assert fast == slow


def test_wkt_permissive_nulls_exactly_the_bad_rows():
    # Int32Value out of int32 range: serialize raises ValueError in the
    # row path -> permissive nulls that row only; strict raises
    mt = MessageType("vw.I", (Field("v", 1, Kind.MESSAGE, message=I32V),))
    cells = pd.Series([1, 2**31, None, -5], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([cells])
    slow = []
    for v in cells:
        try:
            slow.append(re_((v,)))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[0] is not None and fast[2] is not None
    with pytest.raises(ValueError, match="out of range"):
        compile_batch_to_wire(mt, CFG)([cells])


# --- repeated message items ---------------------------------------------------


def _rep_rows(n, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        if rng.random() < 0.15:
            rows.append((None, None))
            continue
        k = int(rng.integers(0, 4))
        items = [
            (
                int(rng.integers(-(10**9), 10**9)),
                f"i{j}" if rng.random() > 0.2 else "",
                None
                if rng.random() < 0.3
                else dt.datetime(2020, 1, 1, tzinfo=UTC)
                + dt.timedelta(seconds=int(rng.integers(0, 10**6))),
            )
            for j in range(k)
        ]
        tss = [
            dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=UTC)
            + dt.timedelta(microseconds=int(rng.integers(0, 10**9)))
            for _ in range(int(rng.integers(0, 3)))
        ]
        rows.append((items, tss))
    return rows


REP_MT = MessageType(
    "vw.Rep",
    (
        Field("ms", 1, Kind.MESSAGE, repeated=True, message=INNER),
        Field("tss", 2, Kind.MESSAGE, repeated=True, message=TIMESTAMP),
    ),
)


def test_repeated_messages_random_matrix():
    rows = _rep_rows(300)
    df = pd.DataFrame.from_records(rows, columns=["ms", "tss"]).astype(object)
    df = df.where(pd.notna(df), None)
    _assert_identical(REP_MT, df)


def test_repeated_message_none_item_matches_row_path_error_class():
    # a None ITEM fails the whole row: TypeError in the row path's
    # converter, permissive-nulled in both paths
    mt = MessageType(
        "vw.RN", (Field("ms", 1, Kind.MESSAGE, repeated=True, message=INNER),)
    )
    cells = pd.Series([[(1, "a", None)], [None], []], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([cells])
    slow = []
    for v in cells:
        try:
            slow.append(re_((v,)))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow and fast[1] is None
    with pytest.raises(TypeError):
        compile_batch_to_wire(mt, CFG)([cells])


def test_repeated_message_permissive_inner_violation_nulls_row():
    sub = MessageType("vw.RSub", (Field("u", 1, Kind.UINT32),))
    mt = MessageType(
        "vw.RV", (Field("ms", 1, Kind.MESSAGE, repeated=True, message=sub),)
    )
    cells = pd.Series([[(1,)], [(2,), (-1,)], [(3,)]], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    fast = be([cells])
    assert fast[1] is None and fast[0] is not None and fast[2] is not None
    re_ = compile_row_to_wire(mt, CFG)
    assert fast[0] == re_(([(1,)],)) and fast[2] == re_(([(3,)],))


def test_repeated_wkt_empty_items():
    mt = MessageType(
        "vw.RE", (Field("es", 1, Kind.MESSAGE, repeated=True, message=EMPTY),)
    )
    df = pd.DataFrame({"es": [[(), ()], [], None, [()]]}, dtype=object)
    _assert_identical(mt, df)


# --- message-valued maps -------------------------------------------------------


MAP_MT = MessageType(
    "vw.M",
    (
        map_field("mi", 1, Kind.STRING, Kind.MESSAGE, value_message=INNER),
        map_field("md", 2, Kind.INT64, Kind.MESSAGE, value_message=DURATION),
    ),
)


def _map_rows(n, seed=9):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        mi = (
            None
            if rng.random() < 0.15
            else {
                f"k{j}": (
                    int(rng.integers(0, 100)),
                    "v" if rng.random() > 0.3 else "",
                    None,
                )
                for j in range(int(rng.integers(0, 3)))
            }
        )
        md = (
            None
            if rng.random() < 0.15
            else {
                int(rng.integers(-5, 5)): dt.timedelta(
                    seconds=int(rng.integers(-100, 100))
                )
                for _ in range(int(rng.integers(0, 3)))
            }
        )
        rows.append((mi, md))
    return rows


def test_map_message_values_random_matrix():
    rows = _map_rows(300)
    df = pd.DataFrame.from_records(rows, columns=["mi", "md"]).astype(object)
    df = df.where(pd.notna(df), None)
    _assert_identical(MAP_MT, df)


def test_map_message_value_none_fails_row_like_row_path():
    mt = MessageType(
        "vw.MN",
        (map_field("m", 1, Kind.STRING, Kind.MESSAGE, value_message=INNER),),
    )
    cells = pd.Series([{"a": (1, "x", None)}, {"b": None}, {}], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([cells])
    slow = []
    for v in cells:
        try:
            slow.append(re_((v,)))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow and fast[1] is None
    with pytest.raises(TypeError):
        compile_batch_to_wire(mt, CFG)([cells])


def test_map_message_value_empty_body_still_emits():
    # the compiled wire writer always frames message values — an all-default
    # Inner still contributes tag2 + len 0 inside its entry
    mt = MessageType(
        "vw.ME",
        (map_field("m", 1, Kind.STRING, Kind.MESSAGE, value_message=INNER),),
    )
    df = pd.DataFrame({"m": [{"": (0, "", None)}]}, dtype=object)
    _assert_identical(mt, df)
    out = compile_batch_to_wire(mt, CFG)([df["m"]])[0]
    # entry len 2: key "" skipped (emit_default=False), value tag + len 0
    assert out.hex() == "0a021200"


_NULLABLE = ProtarrowSparkConfig(list_value_nullable=True, map_value_nullable=True)


_NULL_ITEM_CASES = [
    (DV, 1.5),
    (FV, 2.5),
    (I64V, -3),
    (U64V, _u64(_NULLABLE, 2**63 + 5)),
    (I32V, -4),
    (U32V, 7),
    (BV, True),
    (SV, "a"),
    (BYV, b"b"),
    (EMPTY, ()),
]


@pytest.mark.parametrize(
    "wmt, value", _NULL_ITEM_CASES, ids=[m.name for m, _ in _NULL_ITEM_CASES]
)
def test_null_wrapper_item_encodes_empty_body(wmt, value):
    """A None item of a repeated wrapper (or Empty) field and a None
    wrapper map value encode as an empty wrapper body, as the row
    codec's wrapper decoders build an empty message from None: both
    modes are byte-identical to compile_row_to_wire."""
    rep = MessageType(
        "vw.NullRep", (Field("xs", 1, Kind.MESSAGE, repeated=True, message=wmt),)
    )
    mp = MessageType(
        "vw.NullMap",
        (map_field("m", 1, Kind.STRING, Kind.MESSAGE, value_message=wmt),),
    )
    for mt, cells, only_null in (
        (rep, [[value, None], [None], [value], None, []], b"\n\x00"),
        (
            mp,
            [{"a": value, "b": None}, {"c": None}, {"a": value}, None, {}],
            b"\n\x05\n\x01c\x12\x00",  # entry: key "c", empty value
        ),
    ):
        cells = pd.Series(cells, dtype=object)
        slow = [compile_row_to_wire(mt, _NULLABLE)((c,)) for c in cells]
        assert slow[1] == only_null
        for permissive in (False, True):
            fast = compile_batch_to_wire(mt, _NULLABLE, permissive=permissive)([cells])
            assert list(fast) == slow, (mt.full_name, permissive)


def test_nan_wrapper_item_takes_the_row_codec():
    """A NaN item of a repeated DoubleValue field is a value to the row
    codec (the wrapper decoder stores it), not a null, so the batch
    encoder hands the batch to the row codec instead of failing the
    row (``Unvectorizable`` is the fallback signal)."""
    mt = MessageType(
        "vw.NanRep", (Field("xs", 1, Kind.MESSAGE, repeated=True, message=DV),)
    )
    cells = pd.Series([[1.5, float("nan")]], dtype=object)
    item = b"\n\t\t" + _struct.pack("<d", float("nan"))
    assert compile_row_to_wire(mt, _NULLABLE)((cells[0],)).endswith(item)
    for permissive in (False, True):
        with pytest.raises(Unvectorizable):
            compile_batch_to_wire(mt, _NULLABLE, permissive=permissive)([cells])


# --- recursive types -----------------------------------------------------------


def _self_recursive():
    rec = MessageType("vw.Rec", ())
    rec.fields = (
        Field("name", 1, Kind.STRING),
        Field("child", 2, Kind.MESSAGE, message=rec),
    )
    return rec


def test_recursive_singular_skip_mode_matches_row_path():
    rec = _self_recursive()
    cfg = ProtarrowSparkConfig(skip_recursive_messages=True)
    df = pd.DataFrame(
        {"name": ["a", "", "b"], "child": [(), None, ("x",)]}, dtype=object
    )
    _assert_identical(rec, df, cfg)
    # non-null recursive cell -> tag + len 0, exactly the empty-Message
    # serialization the row converter produces
    be = compile_batch_to_wire(rec, cfg)
    out = be([df["name"], df["child"]])
    assert out[0].endswith(b"\x12\x00") and not out[1].endswith(b"\x12\x00")


def test_recursive_raise_mode_keeps_row_path():
    rec = _self_recursive()
    assert compile_batch_to_wire(rec, CFG) is None


def test_indirect_recursion_a_b_a():
    b = MessageType("vw.B", ())
    a = MessageType("vw.A", ())
    a.fields = (Field("x", 1, Kind.INT64), Field("b", 2, Kind.MESSAGE, message=b))
    b.fields = (Field("y", 1, Kind.INT64), Field("a", 2, Kind.MESSAGE, message=a))
    cfg = ProtarrowSparkConfig(skip_recursive_messages=True)
    df = pd.DataFrame(
        {"x": [5, 0, None], "b": [(7, ()), (0, None), None]}, dtype=object
    )
    _assert_identical(a, df, cfg)
    assert compile_batch_to_wire(a, CFG) is None  # raise mode


# --- property fuzz -------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(
    durs=st.lists(
        st.one_of(
            st.none(),
            st.builds(
                dt.timedelta,
                seconds=st.integers(-(10**6), 10**6),
                microseconds=st.integers(-(10**6), 10**6),
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    items=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.tuples(
                    st.integers(-(2**60), 2**60),
                    st.text(max_size=4),
                    st.none(),
                ),
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_property_wkt_and_repeated_msg_equal_row(durs, items):
    m = max(len(durs), len(items))
    durs = (durs * m)[:m]
    items = (items * m)[:m]
    mt = MessageType(
        "vw.P",
        (
            Field("d", 1, Kind.MESSAGE, message=DURATION),
            Field("ms", 2, Kind.MESSAGE, repeated=True, message=INNER),
        ),
    )
    df = pd.DataFrame({"d": durs, "ms": items}, dtype=object)
    df = df.where(pd.notna(df), None)
    _assert_identical(mt, df)


def test_repeated_recursive_items_encode_vectorized():
    """r10: repeated recursive items under skip_recursive_messages —
    the row converter ignores each cell (even None), every item emits
    an empty body."""
    from protarrow_spark.proto.fixtures import recursive_message_type

    rec = recursive_message_type()
    cfg = ProtarrowSparkConfig(skip_recursive_messages=True)
    df = pd.DataFrame(
        {
            "name": ["a", "", "b", "c"],
            "child": [(), None, ("x",), None],
            "children": [[(), ()], [], [None, ()], None],
        },
        dtype=object,
    )
    _assert_identical(rec, df, cfg)
    assert compile_batch_to_wire(rec, CFG) is None  # raise mode


def test_map_recursive_values_encode_vectorized():
    rec = MessageType("vw.H", ())
    rec.fields = (
        map_field("m", 1, Kind.STRING, Kind.MESSAGE, value_message=rec),
    )
    cfg = ProtarrowSparkConfig(skip_recursive_messages=True)
    df = pd.DataFrame(
        {"m": [{"a": (), "b": None}, {}, None]}, dtype=object
    )
    _assert_identical(rec, df, cfg)
    assert compile_batch_to_wire(rec, CFG) is None
