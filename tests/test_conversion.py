"""Conversion-layer tests: encode, decode, round-trip, special
semantics (mirrors the reference's ``tests/test_conversion.py``
strategy at unit scale; the full random-matrix harness lives in
``tests/test_roundtrip.py``)."""

from __future__ import annotations

import datetime
import decimal

import pytest
from pyspark.sql import types as T

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion import (
    MessageExtractor,
    dataframe_to_messages,
    messages_to_dataframe,
    messages_to_rows,
    rows_to_messages,
)
from protarrow_spark.conversion.distributed import compile_row_to_wire
from protarrow_spark.conversion.encode import DATE_SENTINEL
from protarrow_spark.proto import fixtures
from protarrow_spark.proto.message import Message, parse
from protarrow_spark.proto.model import (
    DATE,
    DOUBLE_VALUE,
    DURATION,
    EMPTY,
    FLOAT_VALUE,
    INT64_VALUE,
    STRING_VALUE,
    TIME_OF_DAY,
    TIMESTAMP,
    UINT64_VALUE,
    Field,
    Kind,
    MessageType,
    map_field,
)
from tests.test_roundtrip import FULL_MATRIX, _cfg_id

UTC = datetime.timezone.utc
CFG = ProtarrowSparkConfig()

SIMPLE = MessageType(
    "t.Simple",
    (
        Field("id", 1, Kind.INT64),
        Field("name", 2, Kind.STRING),
        Field("score", 3, Kind.DOUBLE),
        Field("opt", 4, Kind.INT32, optional=True),
        Field("tags", 5, Kind.STRING, repeated=True),
        map_field("attrs", 6, Kind.STRING, Kind.INT64),
        Field("nested", 7, Kind.MESSAGE, message=fixtures.NESTED),
    ),
)


def _simple_messages() -> list[Message]:
    return [
        Message(
            SIMPLE,
            id=1,
            name="a",
            score=1.5,
            opt=0,
            tags=["x", "y"],
            attrs={"k": 7},
            nested=Message(fixtures.NESTED, nested_int=3, nested_text="n"),
        ),
        Message(SIMPLE, id=2),  # everything else default/absent
    ]


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------


def test_encode_rows_defaults_and_presence() -> None:
    rows = messages_to_rows(_simple_messages(), SIMPLE, CFG)
    full, empty = rows
    assert full == (1, "a", 1.5, 0, ["x", "y"], {"k": 7}, (3, "n"))
    # absent plain scalars -> defaults; absent presence fields -> None
    assert empty == (2, "", 0.0, None, [], {}, None)


def test_encode_dataframe_schema_and_values(spark) -> None:
    df = messages_to_dataframe(spark, _simple_messages(), SIMPLE, CFG)
    assert [f.name for f in df.schema.fields] == [
        "id", "name", "score", "opt", "tags", "attrs", "nested",
    ]
    out = {r["id"]: r for r in df.collect()}
    assert out[1]["nested"]["nested_int"] == 3
    assert out[2]["name"] == "" and out[2]["opt"] is None
    assert out[2]["tags"] == [] and out[2]["attrs"] == {}


def test_roundtrip_driver_side(spark) -> None:
    msgs = _simple_messages()
    df = messages_to_dataframe(spark, msgs, SIMPLE, CFG)
    back = dataframe_to_messages(df, SIMPLE, CFG)
    assert back == msgs


# ---------------------------------------------------------------------------
# WKT semantics
# ---------------------------------------------------------------------------

WKT_MSG = MessageType(
    "t.Wkt",
    (
        Field("ts", 1, Kind.MESSAGE, message=TIMESTAMP),
        Field("dur", 2, Kind.MESSAGE, message=DURATION),
        Field("d", 3, Kind.MESSAGE, message=DATE),
        Field("tod", 4, Kind.MESSAGE, message=TIME_OF_DAY),
        Field("empty", 5, Kind.MESSAGE, message=EMPTY),
        Field("wd", 6, Kind.MESSAGE, message=DOUBLE_VALUE),
        Field("wi", 7, Kind.MESSAGE, message=INT64_VALUE),
        Field("ws", 8, Kind.MESSAGE, message=STRING_VALUE),
    ),
)


def test_timestamp_truncates_nanos_to_micros() -> None:
    m = Message(WKT_MSG, ts=Message(TIMESTAMP, seconds=100, nanos=123_456_789))
    (row,) = messages_to_rows([m], WKT_MSG, CFG)
    assert row[0] == datetime.datetime(1970, 1, 1, 0, 1, 40, 123_456, tzinfo=UTC)
    back = rows_to_messages([row], WKT_MSG, CFG)[0]
    assert back.ts.seconds == 100 and back.ts.nanos == 123_456_000  # µs-truncated


def test_timestamp_long_nanos_lossless() -> None:
    cfg = ProtarrowSparkConfig(timestamp_type="long_nanos")
    m = Message(WKT_MSG, ts=Message(TIMESTAMP, seconds=-5, nanos=999_999_999))
    (row,) = messages_to_rows([m], WKT_MSG, cfg)
    assert row[0] == -5 * 1_000_000_000 + 999_999_999
    back = rows_to_messages([row], WKT_MSG, cfg)[0]
    assert back.ts == m.ts


def test_negative_duration_same_sign_normalization() -> None:
    m = Message(WKT_MSG, dur=Message(DURATION, seconds=-1, nanos=-500_000_000))
    (row,) = messages_to_rows([m], WKT_MSG, CFG)
    assert row[1] == datetime.timedelta(seconds=-1, microseconds=-500_000)
    back = rows_to_messages([row], WKT_MSG, CFG)[0]
    assert back.dur.seconds == -1 and back.dur.nanos == -500_000_000


def test_date_sentinel_roundtrip() -> None:
    unset = Message(WKT_MSG, d=Message(DATE))
    (row,) = messages_to_rows([unset], WKT_MSG, CFG)
    assert row[2] == DATE_SENTINEL
    back = rows_to_messages([row], WKT_MSG, CFG)[0]
    assert back.d.year == 0 and back.d.month == 0 and back.d.day == 0

    real = Message(WKT_MSG, d=Message(DATE, year=2024, month=2, day=29))
    (row2,) = messages_to_rows([real], WKT_MSG, CFG)
    assert row2[2] == datetime.date(2024, 2, 29)
    assert rows_to_messages([row2], WKT_MSG, CFG)[0].d == real.d


def test_time_of_day_nanos() -> None:
    tod = Message(TIME_OF_DAY, hours=13, minutes=30, seconds=5, nanos=42)
    m = Message(WKT_MSG, tod=tod)
    (row,) = messages_to_rows([m], WKT_MSG, CFG)
    assert row[3] == ((13 * 60 + 30) * 60 + 5) * 1_000_000_000 + 42
    assert rows_to_messages([row], WKT_MSG, CFG)[0].tod == tod


def test_wrappers_null_vs_default() -> None:
    m1 = Message(WKT_MSG, wd=Message(DOUBLE_VALUE), ws=Message(STRING_VALUE, value=""))
    (row,) = messages_to_rows([m1], WKT_MSG, CFG)
    assert row[5] == 0.0 and row[7] == ""  # set wrapper with default value
    m2 = Message(WKT_MSG)  # all wrappers absent
    (row2,) = messages_to_rows([m2], WKT_MSG, CFG)
    assert row2[5] is None and row2[6] is None and row2[7] is None
    back = rows_to_messages([row2], WKT_MSG, CFG)[0]
    assert not back.HasField("wd") and not back.HasField("ws")


def test_empty_message_presence() -> None:
    m = Message(WKT_MSG, empty=Message(EMPTY))
    (row,) = messages_to_rows([m], WKT_MSG, CFG)
    assert row[4] == ()
    back = rows_to_messages([row], WKT_MSG, CFG)[0]
    assert back.HasField("empty")
    absent = rows_to_messages(
        messages_to_rows([Message(WKT_MSG)], WKT_MSG, CFG), WKT_MSG, CFG
    )[0]
    assert not absent.HasField("empty")


# ---------------------------------------------------------------------------
# Enum / uint64 policies
# ---------------------------------------------------------------------------

ENUM_MSG = MessageType(
    "t.En",
    (
        Field("color", 1, Kind.ENUM, enum=fixtures.COLOR),
        Field("colors", 2, Kind.ENUM, repeated=True, enum=fixtures.COLOR),
        Field("big", 3, Kind.UINT64),
    ),
)


def test_enum_as_string_with_unknown_fallback() -> None:
    cfg = ProtarrowSparkConfig(enum_type="string")
    m = Message(ENUM_MSG, color=99, colors=[0, 2, 77])
    (row,) = messages_to_rows([m], ENUM_MSG, cfg)
    # unknown 99 renders as the first declared value
    assert row[0] == "COLOR_UNSPECIFIED"
    assert row[1] == ["COLOR_UNSPECIFIED", "GREEN", "COLOR_UNSPECIFIED"]
    back = rows_to_messages([row], ENUM_MSG, cfg)[0]
    assert back.color == 0 and back.colors == [0, 2, 0]  # fallback to 0


def test_enum_unknown_name_decodes_zero() -> None:
    cfg = ProtarrowSparkConfig(enum_type="string")
    back = rows_to_messages([("NOPE", [], 0)], ENUM_MSG, cfg)[0]
    assert back.color == 0


def test_uint64_decimal_policy(spark) -> None:
    big = 2**64 - 1
    m = Message(ENUM_MSG, big=big)
    (row,) = messages_to_rows([m], ENUM_MSG, CFG)
    assert row[2] == decimal.Decimal(big)
    df = messages_to_dataframe(spark, [m], ENUM_MSG, CFG)
    assert df.schema["big"].dataType == T.DecimalType(20, 0)
    assert dataframe_to_messages(df, ENUM_MSG, CFG)[0].big == big


def test_uint64_long_policy_wraps() -> None:
    cfg = ProtarrowSparkConfig(uint64_type="long")
    big = 2**64 - 1
    (row,) = messages_to_rows([Message(ENUM_MSG, big=big)], ENUM_MSG, cfg)
    assert row[2] == -1  # reinterpret
    assert rows_to_messages([row], ENUM_MSG, cfg)[0].big == big  # and back


# ---------------------------------------------------------------------------
# map_as_list / extractor / full matrix smoke
# ---------------------------------------------------------------------------


def test_map_as_list_roundtrip(spark) -> None:
    cfg = ProtarrowSparkConfig(map_as_list=True)
    msgs = _simple_messages()
    df = messages_to_dataframe(spark, msgs, SIMPLE, cfg)
    assert isinstance(df.schema["attrs"].dataType, T.ArrayType)
    assert dataframe_to_messages(df, SIMPLE, cfg) == msgs


def test_message_extractor_point_lookup(spark) -> None:
    msgs = _simple_messages()
    df = messages_to_dataframe(spark, msgs, SIMPLE, CFG)
    ex = MessageExtractor(SIMPLE, CFG)
    assert ex.read_dataframe_row(df, 1) == msgs[1]
    with pytest.raises(IndexError):
        ex.read_dataframe_row(df, 99)


def test_full_example_matrix_roundtrip(spark) -> None:
    mt = fixtures.EXAMPLE
    m = Message(
        mt,
        double_value=0.5,
        uint64_value=2**63 + 11,
        fixed64_value=2**64 - 3,
        sint32_value=-7,
        bytes_value=b"\x01\x02",
        string_values=["a", "b"],
        enum_value=3,
        timestamp_value=Message(TIMESTAMP, seconds=1_700_000_000, nanos=250_000),
        date_value=Message(DATE, year=2023, month=6, day=30),
        string_message_map={"k": Message(fixtures.NESTED, nested_int=1)},
        message_values=[Message(fixtures.NESTED, nested_text="t")],
    )
    df = messages_to_dataframe(spark, [m, Message(mt)], mt, CFG)
    back = dataframe_to_messages(df, mt, CFG)
    assert back[0] == m
    assert back[1] == Message(mt)


# ---------------------------------------------------------------------------
# Compiled builders: Message storage access and __setattr__ semantics
# ---------------------------------------------------------------------------

#: (Message.__getattr__, Message.__setattr__, MessageType._indexes) calls
#: in one EXAMPLE round trip (messages_to_rows, then rows_to_messages),
#: the same at 40 and 400 messages: every _indexes call is made while
#: compiling the converters. The attribute-protocol builders made
#: (3,034, 3,006, 6,976) calls at 40 messages and (30,291, 30,012,
#: 69,519) at 400.
_ROUNDTRIP_CALLS = (0, 0, 20)

#: The same counts for the row decoder over EXAMPLE wires: compiling
#: ``compile_wire_to_row``, decoding every wire with it and ``parse``-ing
#: every wire again, with the wire parsers already compiled. The
#: interpreted parser made (400, 1,110) attribute calls in the decoder
#: and (1,124, 2,203) in ``parse`` at 40 messages.
_WIRE_DECODE_CALLS = (0, 0, 8)

#: The same counts for ``serialize`` and the row encoder over EXAMPLE
#: messages and their rows: compiling ``compile_row_to_wire``, encoding
#: every row with it and serializing every message, with the wire
#: writers already compiled. The interpreted writer read
#: ``fields_number_order`` once per message and sub-message: (0, 0,
#: 1,635) calls at 40 messages and (0, 0, 15,853) at 400.
_WIRE_ENCODE_CALLS = (0, 0, 9)


def _count_calls(monkeypatch, runs: list) -> list[tuple]:
    """Each run's results and its (Message.__getattr__,
    Message.__setattr__, MessageType._indexes) call counts."""
    calls = {"getattr": 0, "setattr": 0, "indexes": 0}
    get, set_, indexes = Message.__getattr__, Message.__setattr__, MessageType._indexes

    def counting_getattr(self, name):
        calls["getattr"] += 1
        return get(self, name)

    def counting_setattr(self, name, value):
        calls["setattr"] += 1
        set_(self, name, value)

    def counting_indexes(self):
        calls["indexes"] += 1
        return indexes(self)

    monkeypatch.setattr(Message, "__getattr__", counting_getattr)
    monkeypatch.setattr(Message, "__setattr__", counting_setattr)
    monkeypatch.setattr(MessageType, "_indexes", counting_indexes)
    out = []
    for run in runs:
        calls.update(getattr=0, setattr=0, indexes=0)
        result = run()
        out.append((result, (calls["getattr"], calls["setattr"], calls["indexes"])))
    monkeypatch.undo()
    return out


def test_roundtrip_touches_message_storage_only(monkeypatch) -> None:
    """Pins the compiled converters with counters instead of timings:
    no cell goes through the attribute protocol, and the descriptor
    indexes are read at compile time only."""
    from tests.random_messages import expected_roundtrip, random_messages

    mt = fixtures.EXAMPLE
    batches = [random_messages(mt, n, seed=9) for n in (40, 400)]
    got = _count_calls(
        monkeypatch,
        [lambda msgs=msgs: rows_to_messages(messages_to_rows(msgs, mt, CFG), mt, CFG)
         for msgs in batches],
    )
    for (back, _), msgs in zip(got, batches):
        assert back == [expected_roundtrip(m, CFG) for m in msgs]
    assert [c for _, c in got] == [_ROUNDTRIP_CALLS] * 2, got


def test_row_decoder_touches_message_storage_only(monkeypatch) -> None:
    """The wire parser writes Message storage directly and the row
    decoder is ``row_builder`` over it: no attribute-protocol call per
    value, and the descriptor indexes are read at compile time only."""
    from protarrow_spark.conversion.distributed import compile_wire_to_row
    from protarrow_spark.conversion.encode import row_builder
    from protarrow_spark.proto.message import serialize
    from tests.random_messages import random_messages

    mt = fixtures.EXAMPLE
    batches = [random_messages(mt, n, seed=0) for n in (40, 400)]
    wires = [[serialize(m) for m in msgs] for msgs in batches]
    for w in wires[1]:  # compile every wire parser first
        parse(w, mt)

    def decode(ws):
        decoder = compile_wire_to_row(mt, CFG)
        return [decoder(w) for w in ws], [parse(w, mt) for w in ws]

    got = _count_calls(monkeypatch, [lambda ws=ws: decode(ws) for ws in wires])
    build = row_builder(mt, CFG)
    for ((rows, msgs), _), expected in zip(got, batches):
        assert msgs == expected
        assert rows == [build(m) for m in msgs]
    assert [c for _, c in got] == [_WIRE_DECODE_CALLS] * 2, got


def test_row_encoder_touches_message_storage_only(monkeypatch) -> None:
    """``serialize`` and the row encoder run the compiled wire writer
    over Message storage: no attribute-protocol call per value, and the
    descriptor indexes are read at compile time only. A row encodes to
    the bytes of the message it stands for (sub-microsecond time
    fields are cut by the row form)."""
    from protarrow_spark.proto.message import serialize
    from tests.random_messages import expected_roundtrip, random_messages

    mt = fixtures.EXAMPLE
    batches = [random_messages(mt, n, seed=0) for n in (40, 400)]
    rows = [messages_to_rows(msgs, mt, CFG) for msgs in batches]
    for m in batches[1]:  # compile every wire writer first
        serialize(m)

    def encode(msgs, rs):
        encoder = compile_row_to_wire(mt, CFG)
        return [serialize(m) for m in msgs], [encoder(r) for r in rs]

    got = _count_calls(
        monkeypatch, [lambda m=m, r=r: encode(m, r) for m, r in zip(batches, rows)]
    )
    for ((wires, encoded), _), msgs in zip(got, batches):
        assert [parse(w, mt) for w in wires] == msgs
        assert encoded == [serialize(expected_roundtrip(m, CFG)) for m in msgs]
    assert [c for _, c in got] == [_WIRE_ENCODE_CALLS] * 2, got


BUILDER_MSG = MessageType(
    "t.Builder",
    (
        Field("id", 1, Kind.INT64),
        Field("ratio", 2, Kind.FLOAT),
        Field("ratios", 3, Kind.FLOAT, repeated=True),
        Field("wrapped_ratio", 4, Kind.MESSAGE, message=FLOAT_VALUE),
        Field("flag", 5, Kind.BOOL),
        Field("opt", 6, Kind.INT32, optional=True),
        Field("ts", 7, Kind.MESSAGE, message=TIMESTAMP),
        Field("color", 8, Kind.ENUM, enum=fixtures.COLOR),
        Field("big", 9, Kind.UINT64),
        map_field("attrs", 10, Kind.STRING, Kind.INT64),
        Field("nested", 11, Kind.MESSAGE, message=fixtures.NESTED),
        Field("choice_text", 12, Kind.STRING, oneof="choice"),
        Field("choice_number", 13, Kind.INT64, oneof="choice"),
        Field("choice_nested", 14, Kind.MESSAGE, message=fixtures.NESTED, oneof="choice"),
        Field("names", 15, Kind.MESSAGE, repeated=True, message=STRING_VALUE),
        Field("wrapped_ratios", 16, Kind.MESSAGE, repeated=True, message=FLOAT_VALUE),
        Field("bigs", 17, Kind.MESSAGE, repeated=True, message=UINT64_VALUE),
        map_field("weights", 18, Kind.STRING, Kind.MESSAGE, value_message=DOUBLE_VALUE),
    ),
)

_BASE = {
    "id": 7,
    "ratio": 2.5,
    "ratios": [0.5, -1.0],
    "wrapped_ratio": Message(FLOAT_VALUE, value=0.25),
    "flag": True,
    "opt": 3,
    "ts": Message(TIMESTAMP, seconds=1_700_000_000, nanos=250_000),
    "color": 2,
    "big": 2**64 - 5,
    "attrs": {"k": 1, "j": -2},
    "nested": Message(fixtures.NESTED, nested_int=5, nested_text="n"),
    "choice_text": "t",
    "names": [Message(STRING_VALUE, value="a")],
    "wrapped_ratios": [Message(FLOAT_VALUE, value=0.5)],
    "bigs": [Message(UINT64_VALUE, value=2**64 - 1)],
    "weights": {"k": Message(DOUBLE_VALUE, value=1.5)},
}


def _builder_cases(cfg: ProtarrowSparkConfig) -> list[tuple[dict, dict]]:
    """(row cells by name, expected proto values by name) per case; a
    case's cells are the encoded base message's with some replaced."""
    import pandas as pd

    (row,) = messages_to_rows([Message(BUILDER_MSG, **_BASE)], BUILDER_MSG, cfg)
    base = dict(zip([f.name for f in BUILDER_MSG.fields], row))
    nested_cell = base["nested"]
    ts = pd.Timestamp("2024-03-01 12:00:00.123456", tz="UTC")
    ts_cell = ts if cfg.timestamp_type == "timestamp" else ts.value
    weights = base["weights"]
    null_weights = (
        [*weights, ("z", None)] if cfg.map_as_list else {**weights, "z": None}
    )
    return [
        (base, _BASE),
        # two and three non-null members of one oneof: the later wins
        ({**base, "choice_number": 9}, {**_BASE, "choice_number": 9}),
        (
            {**base, "choice_number": 9, "choice_nested": nested_cell},
            {**_BASE, "choice_number": 9, "choice_nested": _BASE["nested"]},
        ),
        # float32 cannot hold these: FLOAT cells round on decode
        (
            {**base, "ratio": 0.1, "ratios": [0.1, 1 / 3, 1e-40], "wrapped_ratio": 0.1},
            {
                **_BASE,
                "ratio": 0.1,
                "ratios": [0.1, 1 / 3, 1e-40],
                "wrapped_ratio": Message(FLOAT_VALUE, value=0.1),
            },
        ),
        # null cells leave their field unset, whatever the null
        (
            {
                **base,
                "id": None,
                "ratio": float("nan"),
                "ratios": pd.NA,
                "wrapped_ratio": float("nan"),
                "opt": pd.NA,
                "ts": pd.NaT,
                "attrs": None,
                "nested": pd.NaT,
                "choice_text": float("nan"),
                "choice_number": None,
            },
            {
                k: v for k, v in _BASE.items()
                if k not in (
                    "id", "ratio", "ratios", "wrapped_ratio", "opt", "ts",
                    "attrs", "nested", "choice_text",
                )
            },
        ),
        (
            {**base, "ts": ts_cell, "flag": 1},
            {**_BASE, "flag": 1, "ts": Message(TIMESTAMP, seconds=1_709_294_400, nanos=123_456_000)},
        ),
        # a null wrapper item or map value (cells that list_value_nullable
        # and map_value_nullable schemas admit) is an empty wrapper
        (
            {
                **base,
                "names": [*base["names"], None],
                "wrapped_ratios": [0.1, None],
                "bigs": [*base["bigs"], None],
                "weights": null_weights,
            },
            {
                **_BASE,
                "names": [*_BASE["names"], Message(STRING_VALUE, value=None)],
                "wrapped_ratios": [
                    Message(FLOAT_VALUE, value=0.1),
                    Message(FLOAT_VALUE, value=None),
                ],
                "bigs": [*_BASE["bigs"], Message(UINT64_VALUE, value=None)],
                "weights": {**_BASE["weights"], "z": Message(DOUBLE_VALUE, value=None)},
            },
        ),
    ]


def _row_forms(cells: dict) -> dict:
    """One row in every form the builders accept; a struct cell takes
    the same form as its row."""
    from pyspark.sql import Row

    def nested(form, cell):
        if not isinstance(cell, tuple):
            return cell
        named = dict(zip([f.name for f in fixtures.NESTED.fields], cell))
        return form(named)

    forms = {
        "tuple": lambda d: tuple(d.values()),
        "list": lambda d: list(d.values()),
        "dict": dict,
        "row": lambda d: Row(**d),
        "row_reversed": lambda d: Row(**dict(reversed(list(d.items())))),
    }
    return {
        name: form({k: nested(form, v) for k, v in cells.items()})
        for name, form in forms.items()
    }


@pytest.mark.parametrize("cfg", FULL_MATRIX, ids=_cfg_id)
def test_builder_matches_setattr_semantics(cfg: ProtarrowSparkConfig) -> None:
    """rows_to_messages decodes every row form to the message that
    assigning the same proto values in field order through
    Message.__setattr__ builds: later oneof member wins, FLOAT rounds to
    float32, BOOL converts, null cells stay unset, a null wrapper item
    is an empty wrapper. The row codec writes the bytes of that
    message."""
    to_wire = compile_row_to_wire(BUILDER_MSG, cfg)
    cases = _builder_cases(cfg)
    for cells, proto in cases:
        expected = Message(BUILDER_MSG, **proto)
        for form, row in _row_forms(cells).items():
            (back,) = rows_to_messages([row], BUILDER_MSG, cfg)
            assert back == expected, (form, cells)
            assert back._values == expected._values, (form, cells)
        # two set members of one oneof write both tags; parse keeps the later
        assert parse(to_wire(tuple(cells.values())), BUILDER_MSG) == expected, cells
    rounded = rows_to_messages([cases[3][0]], BUILDER_MSG, cfg)[0]
    assert rounded.ratio != 0.1 and rounded.wrapped_ratio.value != 0.1
    assert rounded.ratios[2] != 1e-40
    # only None empties a wrapper: a NaN DoubleValue keeps its NaN
    cells = cases[6][0]
    nan = float("nan")
    cells["weights"] = (
        [*cells["weights"], ("n", nan)] if cfg.map_as_list else {**cells["weights"], "n": nan}
    )
    (back,) = rows_to_messages([tuple(cells.values())], BUILDER_MSG, cfg)
    assert back.weights["n"]._values["value"] is nan

