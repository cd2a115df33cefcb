"""Vectorized batch wire encoder (conversion/vectorized.py):
byte-identical to compile_row_to_wire on every supported shape, None /
runtime-fallback on unsupported ones. The row path is the semantics
oracle (itself differential-tested against Message serialize), so
these tests pin the vectorized path to it bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.distributed import compile_row_to_wire
from protarrow_spark.conversion.vectorized import compile_batch_to_wire
from protarrow_spark.proto.model import TIMESTAMP, Field, Kind, MessageType

CFG = ProtarrowSparkConfig()


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


SCALAR_MT = MessageType(
    "vec.Scalars",
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
        Field("big", 1234, Kind.INT64),  # multi-byte tag
    ),
)


def _random_scalar_df(n, seed=0):
    rng = np.random.default_rng(seed)
    df = pd.DataFrame(
        {
            "i64": rng.integers(-(2**62), 2**62, n),
            "i32": rng.integers(-(2**31), 2**31, n).astype(np.int64),
            "u32": rng.integers(0, 2**32, n).astype(np.int64),
            # uint64 in the DEFAULT decimal mode: object cells holding
            # the full range incl. values above 2^63
            "u64": pd.Series(
                [int(x) + (2**63 + 17 if i % 9 == 0 else 0)
                 for i, x in enumerate(rng.integers(0, 2**62, n))],
                dtype=object,
            ),
            "s32": rng.integers(-(2**31), 2**31, n).astype(np.int64),
            "s64": rng.integers(-(2**62), 2**62, n),
            "f64": pd.Series(
                [int(x) + (2**63 + 5 if i % 11 == 0 else 0)
                 for i, x in enumerate(rng.integers(0, 2**62, n))],
                dtype=object,
            ),
            "sf64": rng.integers(-(2**62), 2**62, n),
            "f32": rng.integers(0, 2**32, n).astype(np.int64),
            "sf32": rng.integers(-(2**31), 2**31, n).astype(np.int64),
            "b": pd.Series(list(rng.integers(0, 2, n).astype(bool)), dtype=object),
            "d": np.where(rng.integers(0, 8, n) == 0, 0.0, rng.normal(size=n)),
            "fl": rng.normal(size=n),
            "s": pd.Series(["", "a", "héllo", "x" * 300] * (n // 4 + 1))[:n].reset_index(drop=True),
            "by": pd.Series([b"", b"\x00\xff", b"abc", b"z" * 200] * (n // 4 + 1))[:n].reset_index(drop=True),
            "opt_i": np.zeros(n, dtype=np.int64),  # presence: 0 still emits
            "opt_s": pd.Series([""] * n),
            "big": rng.integers(-(2**30), 2**30, n),
        }
    )
    # zeros exercise proto3 default-skip on the no-presence fields
    zero_rows = rng.integers(0, n, n // 6)
    for c in ("i64", "i32", "u32", "u64", "s32", "s64", "f64", "sf64",
              "f32", "sf32", "big"):
        df.loc[zero_rows, c] = 0
    # nulls everywhere (cast to object first so pandas doesn't warn
    # about implicit dtype changes; the encoders see the same values)
    for c in df.columns:
        idx = rng.integers(0, n, n // 10)
        if df[c].dtype != object:
            df[c] = df[c].astype(object)
        df.loc[idx, c] = None
    return df


def test_all_scalar_kinds_random_matrix():
    _assert_identical(SCALAR_MT, _random_scalar_df(4000))


def test_negative_zero_double_emits():
    mt = MessageType("vec.D", (Field("d", 1, Kind.DOUBLE),))
    df = pd.DataFrame({"d": [0.0, -0.0, 1.5, None]})
    _assert_identical(mt, df)
    be = compile_batch_to_wire(mt, CFG)
    out = be([df["d"]])
    assert out[0] == b""  # +0.0 skipped (proto3 default)
    assert out[1] != b""  # -0.0 emitted
    assert out[3] == b""  # null skipped


TS_MT = MessageType(
    "vec.Ev",
    (
        Field("id", 1, Kind.INT64),
        Field("ts", 2, Kind.MESSAGE, message=TIMESTAMP),
    ),
)


def test_timestamps_incl_pre_epoch_floor():
    # pre-epoch with sub-us remainders exercises the FLOOR contract
    # (pd.Timestamp.value // 1000); epoch exactly -> empty submessage
    ts = pd.to_datetime(
        pd.Series(
            [0, 1, -1, 999, -999, 10**15, -(10**15) + 7, None],
            dtype="float64",
        ),
        unit="ns",
    )
    df = pd.DataFrame({"id": range(8), "ts": ts})
    _assert_identical(TS_MT, df)


def test_timestamps_us_unit_and_tz():
    ts_us = pd.Series(
        np.array([0, 123456789, -987654321], dtype="datetime64[us]")
    )
    _assert_identical(TS_MT, pd.DataFrame({"id": [1, 2, 3], "ts": ts_us}))
    ts_tz = pd.to_datetime(
        pd.Series([10**12, 5 * 10**14, None]), unit="ns", utc=True
    )
    _assert_identical(TS_MT, pd.DataFrame({"id": [1, 2, 3], "ts": ts_tz}))


def test_timestamp_long_nanos_mode():
    cfg = ProtarrowSparkConfig(timestamp_type="long_nanos")
    df = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "ts": pd.Series([0, 1_500_000_000, -1, None], dtype="float64"),
        }
    )
    _assert_identical(TS_MT, df, cfg)


ENUM_MT = MessageType(
    "vec.E",
    (
        Field(
            "e",
            1,
            Kind.ENUM,
            enum=__import__(
                "protarrow_spark.proto.model", fromlist=["EnumType"]
            ).EnumType("vec.Side", ((0, "UNKNOWN"), (1, "BUY"), (2, "SELL"))),
        ),
    ),
)


def test_enum_both_config_modes():
    # int mode: numbers straight through (0 skipped as default)
    cfg_int = ProtarrowSparkConfig(enum_type="int")
    dfi = pd.DataFrame({"e": pd.Series([0, 1, 2, None], dtype="float64")})
    _assert_identical(ENUM_MT, dfi, cfg_int)
    # string mode: names mapped via by_name, unknowns -> 0
    for mode in ("string", getattr(CFG, "enum_type", "string")):
        cfg_s = ProtarrowSparkConfig(enum_type=mode) if mode != "int" else None
        if cfg_s is None:
            continue
        dfs = pd.DataFrame({"e": ["BUY", "SELL", "UNKNOWN", "bogus", None]})
        _assert_identical(ENUM_MT, dfs, cfg_s)


def test_range_violation_raises_like_row_path():
    mt = MessageType("vec.U", (Field("u", 1, Kind.UINT32),))
    be = compile_batch_to_wire(mt, CFG)
    with pytest.raises(ValueError, match="out of range"):
        be([pd.Series([1, 2**32])])


def test_permissive_mode_nulls_exactly_the_bad_rows():
    """permissive=True must null the same rows the row path's
    try/except nulls, and encode every healthy row byte-identically."""
    import struct as _struct

    mt = MessageType(
        "vec.P", (Field("u", 1, Kind.UINT32), Field("s", 2, Kind.STRING))
    )
    df = pd.DataFrame(
        {
            "u": pd.Series([1, 2**32, 0, 2**33, 7, None], dtype="object"),
            "s": ["a", "b", "c", "d", "", None],
        }
    )
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([df["u"], df["s"]])
    slow = []
    for rec in zip(df["u"], df["s"]):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[3] is None  # the two range breaches
    assert fast[0] is not None and fast[5] is not None


def test_unsupported_shapes_return_none():
    # repeated SCALARS are supported since r9; repeated messages not
    rep = MessageType("vec.R", (Field("xs", 1, Kind.INT64, repeated=True),))
    assert compile_batch_to_wire(rep, CFG) is not None
    # oneofs encode vectorized since r9 (plain presence members)
    oneof = MessageType(
        "vec.O",
        (
            Field("a", 1, Kind.STRING, oneof="p"),
            Field("b", 2, Kind.INT64, oneof="p"),
        ),
    )
    assert compile_batch_to_wire(oneof, CFG) is not None
    # plain nested messages encode vectorized since r9 (recursive
    # composition); repeated messages still keep the row path
    nested = MessageType(
        "vec.N",
        (
            Field(
                "m",
                1,
                Kind.MESSAGE,
                message=MessageType("vec.Sub", (Field("x", 1, Kind.INT64),)),
            ),
        ),
    )
    assert compile_batch_to_wire(nested, CFG) is not None
    # repeated messages vectorize since r10 (flattened item bodies)
    rep_msg = MessageType(
        "vec.RN",
        (
            Field(
                "ms",
                1,
                Kind.MESSAGE,
                repeated=True,
                message=MessageType("vec.Sub2", (Field("x", 1, Kind.INT64),)),
            ),
        ),
    )
    assert compile_batch_to_wire(rep_msg, CFG) is not None
    # recursive shapes (incl. repeated recursive items) vectorize in
    # skip mode since r10; raise mode keeps the row path (which raises)
    from protarrow_spark.proto.fixtures import recursive_message_type

    rec = recursive_message_type()
    skip_cfg = ProtarrowSparkConfig(skip_recursive_messages=True)
    assert compile_batch_to_wire(rec, skip_cfg) is not None
    assert compile_batch_to_wire(rec, CFG) is None


def test_distributed_encode_uses_identical_bytes(spark):
    """End-to-end: encode_proto_bytes output (which now takes the
    vectorized path for EVENT_MT) decodes back to the source exactly —
    and matches a row-path-only encoding bit for bit."""
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
        .withColumn("src_id", F.col("event_id"))
        .drop("ts_s")
    )
    wire = encode_proto_bytes(src, EVENT_MT, CFG, keep_cols=["src_id"])
    back = decode_proto_bytes(
        wire.select(F.col("proto")), "proto", EVENT_MT, CFG
    )
    got = {r.event_id: r for r in back.collect()}
    assert got[1].event_type == "click" and got[1].value == 1.5
    assert got[3].user_id == -7
    assert got[2].event_type == "" and got[2].ts is None


# --- hypothesis property: batch == row on arbitrary scalar values ---------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=120, deadline=None)
@given(
    ids=st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=40
    ),
    strs=st.lists(
        st.one_of(st.none(), st.text(max_size=24)), min_size=1, max_size=40
    ),
    dbls=st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=True, width=64),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_property_batch_equals_row(ids, strs, dbls):
    """Any combination of int64/string/double cells (incl. None, ±inf,
    ±0.0, empty strings, astral-plane text) encodes byte-identically
    through the vectorized and row paths."""
    n = max(len(ids), len(strs), len(dbls))

    def pad(xs, fill):
        return (xs * ((n // len(xs)) + 1))[:n] if xs else [fill] * n

    mt = MessageType(
        "vec.H",
        (
            Field("i", 1, Kind.INT64),
            Field("s", 2, Kind.STRING),
            Field("d", 3, Kind.DOUBLE),
        ),
    )
    df = pd.DataFrame(
        {
            "i": pd.Series(pad(ids, 0), dtype=object),
            "s": pd.Series(pad(strs, None), dtype=object),
            "d": pd.Series(pad(dbls, None), dtype=object),
        }
    )
    _assert_identical(mt, df)


# --- ADVICE r8 regressions -------------------------------------------------


def test_fixed32_out_of_range_raises_like_row_path():
    """FIXED32 maps to LongType, so negative / >= 2**32 cells are
    reachable; the row path raises struct.error ('<I'), so the
    vectorized path must raise too — NOT mask to the low 32 bits and
    silently write a different number to the wire (ADVICE r8 high)."""
    import struct as _struct

    mt = MessageType("vec.F32", (Field("f", 1, Kind.FIXED32),))
    re_ = compile_row_to_wire(mt, CFG)
    for bad_val in (2**32, -1, 2**40):
        with pytest.raises(_struct.error):
            re_((bad_val,))
        be = compile_batch_to_wire(mt, CFG)
        with pytest.raises(ValueError, match="out of range"):
            be([pd.Series([1, bad_val], dtype=object)])


def test_sfixed32_out_of_range_raises_like_row_path():
    import struct as _struct

    mt = MessageType("vec.SF32", (Field("f", 1, Kind.SFIXED32),))
    re_ = compile_row_to_wire(mt, CFG)
    for bad_val in (2**31, -(2**31) - 1):
        with pytest.raises(_struct.error):
            re_((bad_val,))
        be = compile_batch_to_wire(mt, CFG)
        with pytest.raises(ValueError, match="out of range"):
            be([pd.Series([0, bad_val], dtype=object)])


def test_fixed32_permissive_nulls_exactly_the_bad_rows():
    """Permissive twin: out-of-range fixed32 rows come back None (the
    dead-letter convention); in-range rows stay byte-identical to the
    row path."""
    import struct as _struct

    mt = MessageType(
        "vec.F32P", (Field("f", 1, Kind.FIXED32), Field("g", 2, Kind.SFIXED32))
    )
    df = pd.DataFrame(
        {
            "f": pd.Series([1, 2**32, 7, None, 2**33], dtype=object),
            "g": pd.Series([0, 0, 2**31, -5, 0], dtype=object),
        }
    )
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([df["f"], df["g"]])
    slow = []
    for rec in zip(df["f"], df["g"]):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[2] is None and fast[4] is None
    assert fast[0] is not None and fast[3] is not None


def test_string_non_str_cell_is_unvectorizable_not_repr():
    """A non-str cell in a STRING column must NOT be coerced with
    str(x) (the old path silently encoded its repr); the row path
    raises AttributeError — an encoder bug, deliberately fatal — so
    the vectorized path hands the batch back via Unvectorizable and
    keeps the row path as the semantics oracle (ADVICE r8 low)."""
    from protarrow_spark.conversion.vectorized import Unvectorizable

    mt = MessageType("vec.S", (Field("s", 1, Kind.STRING),))
    be = compile_batch_to_wire(mt, CFG)
    with pytest.raises(Unvectorizable):
        be([pd.Series(["ok", 42, "also ok"], dtype=object)])
    # permissive compiles must refuse too — a bad TYPE is an encoder
    # bug, not a dead-letter value
    bp = compile_batch_to_wire(mt, CFG, permissive=True)
    with pytest.raises(Unvectorizable):
        bp([pd.Series([b"bytes-not-str"], dtype=object)])


def test_unvectorizable_retries_then_disables_after_strikes(caplog):
    """A partition's vectorized kernel is retried after an
    Unvectorizable batch (object dtypes can confine the offending value
    to one batch) and only dropped after _VEC_MAX_STRIKES consecutive
    failures (ADVICE r8 low); the first fallback logs one warning with
    its reason."""
    import logging

    from protarrow_spark.conversion.distributed import (
        _VEC_MAX_STRIKES,
        _Vectorized,
    )
    from protarrow_spark.conversion.vectorized import Unvectorizable

    calls = {"vec": 0}

    def fake_batch(cols):
        calls["vec"] += 1
        if cols[0].iloc[0] == "poison":
            raise Unvectorizable("poison batch")
        return [b"v"] * len(cols[0])

    def mk(tag):
        return [pd.Series([tag, tag])]

    # one poison batch mid-stream: None sends it to the row codec, and
    # the kernel resumes on the next batch
    vec = _Vectorized(fake_batch, "encode t.S")
    with caplog.at_level(logging.WARNING):
        out = [vec(mk(t)) for t in ("a", "poison", "b", "poison")]
    assert out == [[b"v", b"v"], None, [b"v", b"v"], None]
    assert calls == {"vec": 4}
    warnings = [r.getMessage() for r in caplog.records]
    assert len(warnings) == 1 and "encode t.S" in warnings[0]
    assert "poison batch" in warnings[0]

    # _VEC_MAX_STRIKES consecutive poisons: the kernel is dropped for
    # the rest of the partition — later healthy batches go row-wise
    # without paying the failed precompute again
    calls = {"vec": 0}
    vec = _Vectorized(fake_batch, "encode t.S")
    stream = ["poison"] * _VEC_MAX_STRIKES + ["c", "d"]
    assert [vec(mk(t)) for t in stream] == [None] * len(stream)
    assert calls["vec"] == _VEC_MAX_STRIKES  # never retried post-disable


# --- repeated/packed fields (r9) -------------------------------------------

from protarrow_spark.proto.model import EnumType

RSIDE = EnumType("vec.RSide", ((0, "UNKNOWN"), (1, "BUY"), (2, "SELL")))

REPEATED_MT = MessageType(
    "vec.Rep",
    (
        Field("xs", 1, Kind.INT64, repeated=True),
        Field("ys", 2, Kind.SINT32, repeated=True),
        Field("us", 3, Kind.UINT32, repeated=True),
        Field("ds", 4, Kind.DOUBLE, repeated=True),
        Field("fs", 5, Kind.FLOAT, repeated=True),
        Field("f32s", 6, Kind.FIXED32, repeated=True),
        Field("sf64s", 7, Kind.SFIXED64, repeated=True),
        Field("bs", 8, Kind.BOOL, repeated=True),
        Field("ss", 9, Kind.STRING, repeated=True),
        Field("bys", 10, Kind.BYTES, repeated=True),
        Field("es", 11, Kind.ENUM, repeated=True, enum=RSIDE),
        Field("scalar", 12, Kind.INT64),
        Field("u64s", 13, Kind.UINT64, repeated=True),
    ),
)


def _random_repeated_df(n, seed=42):
    """Arrow-shaped cells: typed ndarrays for numerics (what an Arrow
    array<T> column's to_pandas hands over), lists for
    string/bytes, Decimal items in the default uint64 mode."""
    import decimal

    rng = np.random.default_rng(seed)

    def arr(gen, i, np_dtype=None):
        k = int(rng.integers(0, 6))
        if i % 11 == 0:
            return None
        if i % 7 == 0:
            return []
        xs = [gen() for _ in range(k)]
        return np.asarray(xs, dtype=np_dtype) if np_dtype else xs

    rows = []
    for i in range(n):
        rows.append(
            (
                arr(lambda: int(rng.integers(-(2**62), 2**62)), i, np.int64),
                arr(lambda: int(rng.integers(-(2**31), 2**31)), i + 1, np.int64),
                arr(lambda: int(rng.integers(0, 2**32)), i + 2, np.int64),
                arr(lambda: float(rng.normal()), i + 3, np.float64),
                arr(
                    lambda: float(np.float32(rng.normal())), i + 4, np.float64
                ),
                arr(lambda: int(rng.integers(0, 2**32)), i + 5, np.int64),
                arr(lambda: int(rng.integers(-(2**62), 2**62)), i + 6, np.int64),
                arr(lambda: bool(rng.integers(0, 2)), i + 7, np.bool_),
                arr(
                    lambda: ["", "abc", "é漢\U0001f600"][int(rng.integers(0, 3))],
                    i + 8,
                ),
                arr(
                    lambda: [b"", b"xy", bytes([7, 8, 9])][
                        int(rng.integers(0, 3))
                    ],
                    i + 9,
                ),
                arr(lambda: int(rng.integers(0, 4)), i + 10, np.int64),
                int(rng.integers(-100, 100)),
                arr(
                    lambda: decimal.Decimal(
                        int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2))
                    ),
                    i + 12,
                ),
            )
        )
    names = [f.name for f in REPEATED_MT.fields]
    return pd.DataFrame(
        {nm: pd.Series([r[j] for r in rows], dtype=object) for j, nm in enumerate(names)}
    )


def test_repeated_all_kinds_random_matrix():
    """Every packed-capable kind + expanded string/bytes, with None
    cells, empty cells, multi-byte varints, unknown enum numbers, the
    full decimal-uint64 range — byte-identical to the row path."""
    df = _random_repeated_df(600)
    _assert_identical(REPEATED_MT, df)


def test_repeated_enum_name_mode():
    cfg = ProtarrowSparkConfig(enum_type="string")
    mt = MessageType(
        "vec.RE", (Field("es", 1, Kind.ENUM, repeated=True, enum=RSIDE),)
    )
    df = pd.DataFrame(
        {
            "es": pd.Series(
                [["BUY", "SELL"], [], None, ["bogus", "UNKNOWN"], ["SELL"]],
                dtype=object,
            )
        }
    )
    _assert_identical(mt, df, cfg)


def test_repeated_permissive_nulls_violating_rows_only():
    """A range-violating item nulls exactly its row (the row path's
    per-row try/except); healthy rows stay byte-identical."""
    import struct as _struct

    mt = MessageType(
        "vec.RP",
        (
            Field("us", 1, Kind.UINT32, repeated=True),
            Field("f32s", 2, Kind.FIXED32, repeated=True),
        ),
    )
    df = pd.DataFrame(
        {
            "us": pd.Series(
                [[1, 2], [5, 2**32], [7], None, [3]], dtype=object
            ),
            "f32s": pd.Series(
                [[1], [2], [2**32], [4], [-1]], dtype=object
            ),
        }
    )
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([df["us"], df["f32s"]])
    slow = []
    for rec in zip(df["us"], df["f32s"]):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[2] is None and fast[4] is None
    assert fast[0] is not None and fast[3] is not None

    # strict mode raises like the row path
    bs = compile_batch_to_wire(mt, CFG)
    with pytest.raises(ValueError, match="out of range"):
        bs([df["us"], df["f32s"]])


def test_repeated_non_str_string_item_is_unvectorizable():
    from protarrow_spark.conversion.vectorized import Unvectorizable

    mt = MessageType("vec.RS", (Field("ss", 1, Kind.STRING, repeated=True),))
    be = compile_batch_to_wire(mt, CFG)
    with pytest.raises(Unvectorizable):
        be([pd.Series([["ok", 42]], dtype=object)])


def test_repeated_null_item_matches_row_path_error_class():
    """A None INSIDE an int list: the row path's int conversion raises
    TypeError (caught permissive -> null row); batch must null the
    same row, not crash the batch."""
    import struct as _struct

    mt = MessageType("vec.RN", (Field("xs", 1, Kind.INT64, repeated=True),))
    df = pd.Series([[1, 2], [3, None], [4]], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([df])
    slow = []
    for rec in zip(df):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[0] is not None


def test_repeated_message_encodes_vectorized():
    # r10: repeated messages flatten row-major into one LEN frame per
    # item — byte parity with the compiled wire writer's per-item walk
    sub = MessageType("vec.RSub", (Field("x", 1, Kind.INT64),))
    mt = MessageType(
        "vec.RM",
        (Field("ms", 1, Kind.MESSAGE, repeated=True, message=sub),),
    )
    df = pd.DataFrame(
        {"ms": [[(1,), (0,)], [], None, [(1 << 40,)]]}, dtype=object
    )
    _assert_identical(mt, df)


@settings(max_examples=100, deadline=None)
@given(
    lists=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=25,
    ),
    strs=st.lists(
        st.one_of(st.none(), st.lists(st.text(max_size=12), max_size=5)),
        min_size=1,
        max_size=25,
    ),
)
def test_property_repeated_batch_equals_row(lists, strs):
    n = max(len(lists), len(strs))

    def pad(xs, fill):
        return (xs * ((n // len(xs)) + 1))[:n] if xs else [fill] * n

    mt = MessageType(
        "vec.RH",
        (
            Field("xs", 1, Kind.INT64, repeated=True),
            Field("ss", 2, Kind.STRING, repeated=True),
        ),
    )
    df = pd.DataFrame(
        {
            "xs": pd.Series(pad(lists, None), dtype=object),
            "ss": pd.Series(pad(strs, None), dtype=object),
        }
    )
    _assert_identical(mt, df)


# --- oneof encode (r9) ------------------------------------------------------


def test_oneof_encode():
    """Oneof members encode as plain presence fields (the row wire
    writer emits every non-null member in number order; decode's
    later-member-wins resolves multi-set rows) — including rows where
    MULTIPLE members are set, default-valued members, and empty
    strings, all byte-identical to the row path."""
    from protarrow_spark.proto.model import TIMESTAMP

    mt = MessageType(
        "vec.O9",
        (
            Field("id", 1, Kind.INT64),
            Field("a", 2, Kind.STRING, oneof="p"),
            Field("b", 3, Kind.INT64, oneof="p"),
            Field("t", 4, Kind.MESSAGE, message=TIMESTAMP, oneof="p"),
        ),
    )
    import datetime as dt

    ts = dt.datetime(2021, 5, 6, tzinfo=dt.timezone.utc)
    df = pd.DataFrame(
        {
            "id": pd.Series([1, 2, 3, 4, 5, 6], dtype=object),
            "a": pd.Series(["x", None, "", None, "y", None], dtype=object),
            "b": pd.Series([5, 0, None, None, 7, None], dtype=object),
            # datetime64 column (the Arrow shape) — an object column of
            # datetimes is a legitimate Unvectorizable fallback instead
            "t": pd.to_datetime(
                pd.Series([None, None, None, ts, ts, None]), utc=True
            ),
        }
    )
    _assert_identical(mt, df)


# --- map fields (r9) ---------------------------------------------------------

from protarrow_spark.proto.model import map_field

MAP_SIDE = EnumType("vec.MSide", ((0, "UNKNOWN"), (1, "BUY"), (2, "SELL")))

MAP_MT = MessageType(
    "vec.Map",
    (
        Field("id", 1, Kind.INT64),
        map_field("m_is", 2, Kind.INT64, Kind.STRING),
        map_field("m_sd", 3, Kind.STRING, Kind.DOUBLE),
        map_field("m_su", 4, Kind.STRING, Kind.UINT64),
        map_field("m_ie", 5, Kind.INT32, Kind.ENUM, value_enum=MAP_SIDE),
        map_field("m_bb", 6, Kind.BOOL, Kind.BYTES),
        map_field("m_zf", 7, Kind.SINT64, Kind.FIXED32),
    ),
)


def _random_map_df(n, cfg, seed=21):
    import decimal

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):

        def mk(gen_k, gen_v):
            k = int(rng.integers(0, 5))
            if i % 11 == 0:
                return None
            if i % 7 == 0:
                return [] if cfg.map_as_list else {}
            d = {gen_k(j): gen_v(j) for j in range(k)}
            return list(d.items()) if cfg.map_as_list else d

        ev = (
            (lambda j: ["UNKNOWN", "BUY", "SELL", "bogus"][int(rng.integers(0, 4))])
            if cfg.enum_type != "int"
            else (lambda j: int(rng.integers(0, 4)))
        )
        uv = (
            (lambda j: decimal.Decimal(
                int(rng.integers(0, 2**63)) * 2 + int(rng.integers(0, 2))
            ))
            if cfg.uint64_type == "decimal"
            else (lambda j: int(rng.integers(-(2**62), 2**62)))
        )
        rows.append(
            (
                i,
                mk(lambda j: int(rng.integers(-100, 100)),
                   lambda j: ["", f"v{j}é"][j % 2]),
                mk(lambda j: ["", f"k{j}"][j % 2],
                   lambda j: [0.0, -0.0, 1.5, float(rng.normal())][int(rng.integers(0, 4))]),
                mk(lambda j: f"u{j}", uv),
                mk(lambda j: int(rng.integers(-(2**31), 2**31)) if j else 0, ev),
                mk(lambda j: bool(j % 2), lambda j: [b"", bytes([j])][j % 2]),
                mk(lambda j: int(rng.integers(-(2**31), 2**31)),
                   lambda j: int(rng.integers(0, 2**32)) if j else 0),
            )
        )
    names = [f.name for f in MAP_MT.fields]
    return pd.DataFrame(
        {nm: pd.Series([r[j] for r in rows], dtype=object) for j, nm in enumerate(names)}
    )


@pytest.mark.parametrize(
    "cfg_kw",
    [{}, {"map_as_list": True}, {"enum_type": "string"}, {"uint64_type": "long"}],
)
def test_map_encode_all_configs(cfg_kw):
    """Map fields byte-identical to the row path: dict AND list-of-pairs
    cells, default-valued keys/values omitted from entry bodies
    (emit_default=False), -0.0 emitting, unknown enum names -> 0,
    full-range decimal uint64 values, empty/None cells skipping."""
    cfg = ProtarrowSparkConfig(**cfg_kw)
    _assert_identical(MAP_MT, _random_map_df(400, cfg), cfg)


def test_map_encode_permissive_and_strict_range():
    import struct as _struct

    mt = MessageType("vec.MP", (map_field("m", 1, Kind.INT64, Kind.UINT32),))
    cells = pd.Series([{1: 5}, {2: 2**32}, {3: 7}, None, {1: None}], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([cells])
    slow = []
    for rec in zip(cells):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[4] is None and fast[0] is not None
    with pytest.raises(ValueError, match="out of range"):
        compile_batch_to_wire(mt, CFG)([cells[:2]])


@pytest.mark.parametrize("key", [Kind.UINT64, Kind.FIXED64])
def test_map_uint64_keys_dedup_on_wrapped_value(key):
    """In long mode a negative key wraps once to its uint64 value, so
    -1 and 2**64 - 1 are the same key: the row path's dict keeps one
    entry, and so must the batch encoder."""
    cfg = ProtarrowSparkConfig(uint64_type="long")
    mt = MessageType("vec.MU", (map_field("m", 1, key, Kind.STRING),))
    df = pd.DataFrame({"m": pd.Series(
        [{-1: "a", 2**64 - 1: "b"}, {2**64 - 1: "c", -1: "d", 5: "e"}, {-2: "f"}],
        dtype=object,
    )})
    _assert_identical(mt, df, cfg)


def test_map_message_values_encode_vectorized():
    # r10: message-valued maps — values dedup raw by key, bodies
    # batch-encode, each entry's value side always emits (even empty)
    sub = MessageType("vec.MSub", (Field("x", 1, Kind.INT64),))
    mt = MessageType(
        "vec.MM",
        (map_field("m", 1, Kind.STRING, Kind.MESSAGE, value_message=sub),),
    )
    df = pd.DataFrame(
        {"m": [{"a": (1,), "b": (0,)}, {}, None, {"": (9,)}]}, dtype=object
    )
    _assert_identical(mt, df)


# --- nested message fields (r9) ----------------------------------------------

NESTED_INNER = MessageType(
    "vec.NInner",
    (
        Field("a", 1, Kind.INT64),
        Field("s", 2, Kind.STRING),
        Field("d", 3, Kind.DOUBLE),
        Field("ts", 4, Kind.MESSAGE, message=TIMESTAMP),
        Field("xs", 5, Kind.INT64, repeated=True),
    ),
)
NESTED_DEEP = MessageType(
    "vec.NDeep",
    (
        Field("inner", 1, Kind.MESSAGE, message=NESTED_INNER),
        Field("z", 2, Kind.INT32),
    ),
)
NESTED_MT = MessageType(
    "vec.NOuter",
    (
        Field("id", 1, Kind.INT64),
        Field("inner", 2, Kind.MESSAGE, message=NESTED_INNER),
        Field("deep", 3, Kind.MESSAGE, message=NESTED_DEEP),
    ),
)


def _nested_rows(n, seed=17):
    import datetime as dt

    rng = np.random.default_rng(seed)

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

    rows = []
    for i in range(n):
        deep = (
            None
            if i % 7 == 0
            else {"inner": inner_cell(i + 1), "z": int(rng.integers(-5, 5))}
        )
        rows.append((i, inner_cell(i), deep))
    return rows


def test_nested_message_encode():
    """Plain nested messages (incl. TWO-level nesting with inner
    repeated + Timestamp fields) encode byte-identically: the
    submessage body of every row is a recursive batch encode, framed
    tag + len; null structs skip, default-valued structs still emit."""
    rows = _nested_rows(500)
    df = pd.DataFrame(
        {
            "id": pd.Series([r[0] for r in rows], dtype=object),
            "inner": pd.Series([r[1] for r in rows], dtype=object),
            "deep": pd.Series([r[2] for r in rows], dtype=object),
        }
    )
    _assert_identical(NESTED_MT, df)


def test_nested_message_encode_permissive_inner_violation():
    """An inner range violation nulls the whole OUTER row (the row
    path's per-row try wraps the full encode)."""
    import struct as _struct

    mt = MessageType(
        "vec.NP",
        (
            Field(
                "inner",
                1,
                Kind.MESSAGE,
                message=MessageType("vec.NPI", (Field("u", 1, Kind.UINT32),)),
            ),
        ),
    )
    cells = pd.Series([{"u": 5}, {"u": 2**32}, None, {"u": 7}], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=True)
    re_ = compile_row_to_wire(mt, CFG)
    fast = be([cells])
    slow = []
    for rec in zip(cells):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert fast == slow
    assert fast[1] is None and fast[2] == b""  # null struct skips (empty wire)


def test_recursive_message_returns_none():
    # self-referential shapes keep the row path (its skip/raise policy)
    assert (
        compile_batch_to_wire(NESTED_MT, CFG, _trace=("vec.NOuter",)) is None
    )


def test_nested_long_nanos_big_timestamp_no_float_rounding():
    """r10 regression (found by the full-matrix differential): a nested
    Timestamp sub-column in long_nanos mode holding int cells PLUS a
    None used pandas inference, landing on float64 and silently
    rounding nanos past 2^53. The sub-column must stay object."""
    cfg = ProtarrowSparkConfig(timestamp_type="long_nanos")
    sub = MessageType(
        "vec.LN", (Field("ts", 1, Kind.MESSAGE, message=TIMESTAMP),)
    )
    mt = MessageType("vec.LNO", (Field("m", 1, Kind.MESSAGE, message=sub),))
    big = 941_655_628_529_072_089  # > 2^53, float64 would round it
    df = pd.DataFrame({"m": [(big,), None, (0,)]}, dtype=object)
    _assert_identical(mt, df, cfg)
    be = compile_batch_to_wire(mt, cfg)
    out = be([df["m"]])
    re_ = compile_row_to_wire(mt, cfg)
    assert out[0] == re_(((big,),))


# --- payload buffers: STRING edge cases and copy counters --------------------

import pyarrow as pa  # noqa: E402

from protarrow_spark.conversion.vectorized import Unvectorizable  # noqa: E402

STR_SCALAR_MT = MessageType(
    "vec.StrScalar",
    (Field("s", 1, Kind.STRING), Field("ps", 2, Kind.STRING, optional=True)),
)
STR_REP_MT = MessageType(
    "vec.StrRep", (Field("ss", 1, Kind.STRING, repeated=True),)
)
STR_MAP_MT = MessageType(
    "vec.StrMap", (map_field("m", 1, Kind.STRING, Kind.INT64),)
)
#: multibyte UTF-8 (2-, 3- and 4-byte sequences), empty and long strings
_STRS = ["héllo", "漢字\U0001f600", "", "x" * 200, "a"]
_NULLS = [None, np.nan, pd.NaT, pd.NA]


def _str_columns(mt, vals):
    """One object column per field of a STRING edge-case shape, built
    from scalar cells ``vals`` (a null stays null in every shape)."""
    def wrap(v, i):
        if any(v is x for x in _NULLS):
            return v
        if mt is STR_REP_MT:
            return [v, "", _STRS[i % len(_STRS)]]
        return {v: i, _STRS[i % len(_STRS)]: -i} if mt is STR_MAP_MT else v

    cells = [wrap(v, i) for i, v in enumerate(vals)]
    return {f.name: pd.Series(cells, dtype=object) for f in mt.fields}


def _assert_cols_identical(mt, cols):
    be = compile_batch_to_wire(mt, CFG)
    re_ = compile_row_to_wire(mt, CFG)
    series = [cols[f.name] for f in mt.fields]
    assert be(series) == [re_(rec) for rec in zip(*series)]


@pytest.mark.parametrize("mt", [STR_SCALAR_MT, STR_REP_MT, STR_MAP_MT])
def test_string_edge_cases_match_row_path(mt):
    """Multibyte UTF-8, empty strings (skipped on a field without
    presence, tag + len 0 on a presence field and as a repeated item),
    and every pandas null form match the row codec's bytes, from an
    object column and from a slice whose index does not start at 0."""
    vals = (_STRS + _NULLS) * 3
    _assert_cols_identical(mt, _str_columns(mt, vals))
    sliced = {k: s.iloc[5:] for k, s in _str_columns(mt, vals).items()}
    assert next(iter(sliced.values())).index[0] == 5
    _assert_cols_identical(mt, sliced)
    if mt is STR_SCALAR_MT:
        out = compile_batch_to_wire(mt, CFG)([pd.Series([""]), pd.Series([""])])
        assert out == [b"\x12\x00"]  # only the presence field emits ""


def test_string_arrow_backed_columns_match_row_path():
    """``string[pyarrow]`` columns (their nulls iterate as ``pd.NA``),
    one of them over an Arrow chunk with a non-zero offset, match the
    row codec's bytes."""
    vals = _STRS + [None] + _STRS[::-1] + [None]
    chunk = pa.array(["skip", "me"] + vals, type=pa.large_string()).slice(2)
    assert chunk.offset == 2
    for col in (
        pd.Series(vals, dtype="string[pyarrow]"),
        pd.Series(pd.arrays.ArrowStringArray(pa.chunked_array([chunk]))),
    ):
        assert col.dtype == "string"
        _assert_cols_identical(STR_SCALAR_MT, {"s": col, "ps": col})


@pytest.mark.parametrize("mt", [STR_SCALAR_MT, STR_REP_MT, STR_MAP_MT])
@pytest.mark.parametrize("cell", [b"bytes-not-str", "lone \ud800 surrogate"])
@pytest.mark.parametrize("permissive", [False, True])
def test_string_bad_cells_are_unvectorizable(mt, cell, permissive):
    """A bytes cell (the row path raises AttributeError, an encoder bug
    fatal in both modes) and a string UTF-8 cannot encode both hand
    the batch back to the row path, strict or permissive."""
    cols = _str_columns(mt, ["ok", "fine"])
    name = mt.fields[0].name
    bad = {"s": cell, "ss": ["ok", cell], "m": {"ok": 1, cell: 2}}[name]
    cols[name] = pd.Series([cols[name][0], bad], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=permissive)
    with pytest.raises(Unvectorizable):
        be([cols[f.name] for f in mt.fields])


def _counter_batches(shape):
    """(message type, small batch, large batch) for the copy counters.
    The large batch is the small one tiled, so both meet the same
    fields, kinds and null patterns at 100x and 10x the rows."""
    import datetime as dt

    from protarrow_spark.conversion.encode import messages_to_rows
    from protarrow_spark.proto import fixtures
    from protarrow_spark.queries.conversion import EVENT_MT
    from tests.random_messages import random_messages

    if shape == "event":
        rng = np.random.default_rng(2024)
        epoch = dt.datetime(2024, 1, 1)
        small = pd.DataFrame({
            "event_id": np.arange(100, dtype=np.int64),
            "user_id": rng.integers(0, 5_000, 100),
            "event_type": pd.Series(["click", "view", "búy", "", None] * 20),
            "value": rng.normal(size=100),
            "ts": pd.Series(
                [epoch + dt.timedelta(microseconds=int(x))
                 for x in rng.integers(0, 10**12, 100)]
            ).astype("datetime64[ns]"),
        })
        return EVENT_MT, small, pd.concat([small] * 100, ignore_index=True)
    mt = fixtures.EXAMPLE
    rows = messages_to_rows(random_messages(mt, 40, seed=2024), mt)
    small = pd.DataFrame({
        f.name: pd.Series([r[j] for r in rows], dtype=object)
        for j, f in enumerate(mt.fields)
    })
    return mt, small, pd.concat([small] * 10, ignore_index=True)


#: (np.frombuffer, _fill_payloads) calls of one encode of either batch,
#: recorded when every LEN payload became one payload buffer. The
#: per-cell copy loops it replaced made one np.frombuffer call per
#: non-empty string, bytes or sub-message payload: 60 and 6,000 for the
#: two event batches, 875 and 8,750 for the two EXAMPLE batches.
_ENCODE_CALLS = {"event": (2, 1), "example": (32, 34)}


@pytest.mark.parametrize("shape", ["event", "example"])
def test_encode_copy_counters_do_not_grow_with_rows(monkeypatch, shape):
    """Pins the algorithm with counters instead of timings: an encode
    makes as many np.frombuffer and _fill_payloads calls at 10-100x the
    rows, so no per-row or per-cell copy can come back unseen."""
    import protarrow_spark.conversion.vectorized as vz

    mtype, small, big = _counter_batches(shape)
    be = compile_batch_to_wire(mtype, CFG)
    calls = {"frombuffer": 0, "fill": 0}
    frombuffer, fill = np.frombuffer, vz._fill_payloads

    def counting_frombuffer(*args, **kwargs):
        calls["frombuffer"] += 1
        return frombuffer(*args, **kwargs)

    def counting_fill(*args):
        calls["fill"] += 1
        return fill(*args)

    monkeypatch.setattr(np, "frombuffer", counting_frombuffer)
    monkeypatch.setattr(vz, "_fill_payloads", counting_fill)
    seen, outs = [], []
    for df in (small, big):
        calls.update(frombuffer=0, fill=0)
        outs.append(be([df[f.name] for f in mtype.fields]))
        seen.append((calls["frombuffer"], calls["fill"]))
    assert outs[1] == outs[0] * (len(big) // len(small))
    assert seen[0] == seen[1] == _ENCODE_CALLS[shape], seen


def test_nested_message_without_fields():
    """A sub-message type with no fields: each sub-encode is told its
    row count, as an empty column list cannot tell it (the row path
    writes tag + len 0 per present cell and per item)."""
    sub = MessageType("vec.NoFields", ())
    mt = MessageType(
        "vec.NoFieldsOuter",
        (
            Field("m", 1, Kind.MESSAGE, message=sub),
            Field("rm", 2, Kind.MESSAGE, message=sub, repeated=True),
        ),
    )
    df = pd.DataFrame(
        {"m": [(), None, ()], "rm": [[(), ()], None, []]}, dtype=object
    )
    _assert_identical(mt, df)


@pytest.mark.parametrize("permissive", [False, True], ids=["strict", "permissive"])
@pytest.mark.parametrize("kind", [Kind.DOUBLE, Kind.FLOAT, Kind.INT32, Kind.INT64])
def test_repeated_nested_list_cell_fails_its_row(kind, permissive):
    """A nested list inside a repeated numeric cell: the row path's
    item decoder (float() / int()) raises TypeError, so strict mode
    raises it and permissive mode nulls exactly that row."""
    import struct as _struct

    mt = MessageType("vec.NL", (Field("xs", 1, kind, repeated=True),))
    col = pd.Series([[1, 2], [[1.0, 2.0]], [3], None], dtype=object)
    be = compile_batch_to_wire(mt, CFG, permissive=permissive)
    re_ = compile_row_to_wire(mt, CFG)
    if not permissive:
        with pytest.raises(TypeError):
            re_((col[1],))
        with pytest.raises(TypeError):
            be([col])
        return
    slow = []
    for rec in zip(col):
        try:
            slow.append(re_(rec))
        except (ValueError, TypeError, OverflowError, _struct.error):
            slow.append(None)
    assert be([col]) == slow
    assert slow[1] is None and slow[0] is not None and slow[2] is not None


def test_encode_per_cell_counters_do_not_grow_with_rows(monkeypatch):
    """Pins the one flatten per list, map and message column with
    counters instead of timings: an EXAMPLE encode makes as many
    np.asarray, np.fromiter, _struct_get and Series.iloc calls at 10x
    the rows, and reads no struct cell by cell."""
    import protarrow_spark.conversion.decode as decode

    mt, small, big = _counter_batches("example")
    be = compile_batch_to_wire(mt, CFG)
    calls: dict = {}

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        return wrapper

    monkeypatch.setattr(np, "asarray", counting("asarray", np.asarray))
    monkeypatch.setattr(np, "fromiter", counting("fromiter", np.fromiter))
    monkeypatch.setattr(decode, "_struct_get", counting("_struct_get", decode._struct_get))
    monkeypatch.setattr(pd.Series, "iloc", property(counting("iloc", pd.Series.iloc.fget)))
    seen, outs = [], []
    for df in (small, big):
        cols = [df[f.name] for f in mt.fields]
        calls.clear()
        outs.append(be(cols))
        seen.append(dict(calls))
    assert outs[1] == outs[0] * (len(big) // len(small))
    assert seen[0] == seen[1], seen
    assert "_struct_get" not in seen[0] and "iloc" not in seen[0], seen


def test_null_mask_matches_row_path_is_null():
    """The batch null mask (one pd.isna, its hits re-checked) gives
    decode._is_null's verdict on every cell, including the cells
    pd.isna flags and the row path keeps as values."""
    import decimal

    from protarrow_spark.conversion.decode import _is_null
    from protarrow_spark.conversion.vectorized import _null_mask_cells

    cells = [
        None, float("nan"), np.float64("nan"), pd.NaT, pd.NA,
        np.datetime64("NaT"), decimal.Decimal("NaN"),
        [], (), "", 0, 1.5, b"", {}, np.array([1.0, np.nan]),
    ]
    arr = np.empty(len(cells), dtype=object)
    arr[:] = cells
    got = _null_mask_cells(arr)
    assert got.tolist() == [_is_null(c) for c in cells]
    assert got[:5].all() and not got[5:].any()


@pytest.mark.parametrize("kind", [Kind.INT64, Kind.DOUBLE, Kind.BOOL, Kind.UINT64])
@pytest.mark.parametrize("permissive", [False, True], ids=["strict", "permissive"])
def test_scalar_null_like_values_are_left_to_the_row_path(kind, permissive):
    """np.datetime64('NaT') and Decimal('NaN') are null to pd.isna but
    values to the row path's _is_null, which then encodes or fails the
    row by the value: a singular column holding one is left to the row
    path instead of encoding it as unset."""
    import decimal

    from protarrow_spark.conversion.vectorized import Unvectorizable

    mt = MessageType("vec.NV", (Field("x", 1, kind, optional=True),))
    for cell in (decimal.Decimal("NaN"), np.datetime64("NaT")):
        col = pd.Series([1, cell, None], dtype=object)
        with pytest.raises(Unvectorizable):
            compile_batch_to_wire(mt, CFG, permissive=permissive)([col])
        assert compile_batch_to_wire(mt, CFG, permissive=permissive)(
            [col[[0, 2]]]
        ) == [compile_row_to_wire(mt, CFG)((v,)) for v in (1, None)]
