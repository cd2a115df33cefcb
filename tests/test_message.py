"""Message runtime + wire-format codec tests.

Wire-format assertions use the worked examples from the public
protobuf encoding guide (protobuf.dev/programming-guides/encoding):
``{a: 150}`` -> ``08 96 01``, field-2 string "testing" ->
``12 07 "testing"``, zigzag(-1) = 1, zigzag(-2) = 3, etc.
"""

from __future__ import annotations

import struct

import pytest

from protarrow_spark.proto import fixtures
from protarrow_spark.proto.message import (
    Message,
    parse,
    serialize,
)
from protarrow_spark.proto.model import Field, Kind, MessageType, map_field

INT_MSG = MessageType("t.Test1", (Field("a", 1, Kind.INT32),))
STR_MSG = MessageType("t.Test2", (Field("b", 2, Kind.STRING),))
SINT_MSG = MessageType("t.Test3", (Field("s", 1, Kind.SINT32),))


# ---------------------------------------------------------------------------
# Known wire vectors (public encoding guide)
# ---------------------------------------------------------------------------


def test_varint_known_vector() -> None:
    assert serialize(Message(INT_MSG, a=150)) == bytes([0x08, 0x96, 0x01])


def test_string_known_vector() -> None:
    assert serialize(Message(STR_MSG, b="testing")) == b"\x12\x07testing"


@pytest.mark.parametrize("value,encoded", [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4)])
def test_zigzag_known_vectors(value: int, encoded: int) -> None:
    assert serialize(Message(SINT_MSG, s=value)) == (
        bytes([0x08, encoded]) if value else b""
    )


def test_negative_int32_is_ten_bytes() -> None:
    # non-zigzag negative ints encode as 64-bit two's complement
    data = serialize(Message(INT_MSG, a=-1))
    assert len(data) == 1 + 10
    assert parse(data, INT_MSG).a == -1


# ---------------------------------------------------------------------------
# Presence semantics
# ---------------------------------------------------------------------------

PRESENCE_MSG = MessageType(
    "t.Presence",
    (
        Field("plain", 1, Kind.INT32),
        Field("opt", 2, Kind.INT32, optional=True),
        Field("msg", 3, Kind.MESSAGE, message=fixtures.NESTED),
        Field("rep", 4, Kind.INT32, repeated=True),
    ),
)


def test_plain_scalar_has_no_presence() -> None:
    m = Message(PRESENCE_MSG)
    with pytest.raises(ValueError, match="presence"):
        m.HasField("plain")
    assert m.plain == 0


def test_optional_presence_roundtrip() -> None:
    m = Message(PRESENCE_MSG, opt=0)
    assert m.HasField("opt")
    data = serialize(m)
    assert data != b"", "explicitly-set optional default IS serialized"
    back = parse(data, PRESENCE_MSG)
    assert back.HasField("opt") and back.opt == 0
    assert not parse(b"", PRESENCE_MSG).HasField("opt")


def test_plain_default_not_serialized() -> None:
    assert serialize(Message(PRESENCE_MSG, plain=0)) == b""
    assert serialize(Message(PRESENCE_MSG, plain=5)) != b""


def test_message_presence() -> None:
    m = Message(PRESENCE_MSG)
    assert not m.HasField("msg")
    assert m.msg.nested_int == 0, "unset message field reads as default instance"
    m.msg = Message(fixtures.NESTED, nested_int=7)
    assert m.HasField("msg")
    back = parse(serialize(m), PRESENCE_MSG)
    assert back.HasField("msg") and back.msg.nested_int == 7


def test_empty_message_field_presence_survives() -> None:
    m = Message(PRESENCE_MSG, msg=Message(fixtures.NESTED))
    back = parse(serialize(m), PRESENCE_MSG)
    assert back.HasField("msg")


def test_equality_presence_sensitivity() -> None:
    assert Message(PRESENCE_MSG) == Message(PRESENCE_MSG, plain=0)
    assert Message(PRESENCE_MSG) != Message(PRESENCE_MSG, opt=0)
    assert Message(PRESENCE_MSG, rep=[]) == Message(PRESENCE_MSG)


# ---------------------------------------------------------------------------
# Scalar round-trips across every kind
# ---------------------------------------------------------------------------

SCALAR_CASES = {
    Kind.DOUBLE: [0.5, -1e308, 3.14],
    Kind.FLOAT: [0.5, -2.0, 1.5],
    Kind.INT32: [1, -1, 2**31 - 1, -(2**31)],
    Kind.INT64: [1, -1, 2**63 - 1, -(2**63)],
    Kind.UINT32: [1, 2**32 - 1],
    Kind.UINT64: [1, 2**64 - 1],
    Kind.SINT32: [1, -1, 2**31 - 1, -(2**31)],
    Kind.SINT64: [1, -1, 2**63 - 1, -(2**63)],
    Kind.FIXED32: [1, 2**32 - 1],
    Kind.FIXED64: [1, 2**64 - 1],
    Kind.SFIXED32: [1, -1, -(2**31)],
    Kind.SFIXED64: [1, -1, -(2**63)],
    Kind.BOOL: [True],
    Kind.STRING: ["", "héllo wörld", "a" * 300],
    Kind.BYTES: [b"\x00\xff", b"x" * 300],
}


@pytest.mark.parametrize("kind", list(SCALAR_CASES), ids=lambda k: k.value)
def test_scalar_roundtrip(kind: Kind) -> None:
    mt = MessageType("t.S", (Field("v", 1, kind, optional=True),))
    for value in SCALAR_CASES[kind]:
        back = parse(serialize(Message(mt, v=value)), mt)
        assert back.v == value, f"{kind}: {value}"


@pytest.mark.parametrize("kind", list(SCALAR_CASES), ids=lambda k: k.value)
def test_repeated_roundtrip(kind: Kind) -> None:
    mt = MessageType("t.R", (Field("v", 1, kind, repeated=True),))
    values = SCALAR_CASES[kind]
    back = parse(serialize(Message(mt, v=values)), mt)
    assert back.v == values


def test_float32_rounds_on_assignment() -> None:
    mt = MessageType("t.F", (Field("v", 1, Kind.FLOAT),))
    m = Message(mt, v=1.1)
    assert m.v != 1.1 and abs(m.v - 1.1) < 1e-7
    assert parse(serialize(m), mt).v == m.v


def test_unpacked_repeated_decodes() -> None:
    # expanded encoding: one tagged varint per element (pre-proto3 layout)
    mt = MessageType("t.U", (Field("v", 1, Kind.INT32, repeated=True),))
    expanded = bytes([0x08, 1, 0x08, 2, 0x08, 3])
    assert parse(expanded, mt).v == [1, 2, 3]


# ---------------------------------------------------------------------------
# Maps, nesting, enums, unknown fields
# ---------------------------------------------------------------------------


def test_map_roundtrip() -> None:
    mt = MessageType(
        "t.M", (map_field("m", 1, Kind.STRING, Kind.INT64),)
    )
    m = Message(mt, m={"a": 1, "b": -5, "": 0})
    assert parse(serialize(m), mt).m == {"a": 1, "b": -5, "": 0}


def test_map_message_values_roundtrip() -> None:
    mt = MessageType(
        "t.MM",
        (map_field("m", 1, Kind.INT32, Kind.MESSAGE, value_message=fixtures.NESTED),),
    )
    m = Message(
        mt,
        m={1: Message(fixtures.NESTED, nested_int=10), 2: Message(fixtures.NESTED)},
    )
    back = parse(serialize(m), mt)
    assert back.m[1].nested_int == 10
    assert back.m[2].nested_int == 0


def test_enum_roundtrip_including_unknown_number() -> None:
    mt = MessageType(
        "t.E",
        (
            Field("e", 1, Kind.ENUM, enum=fixtures.COLOR),
            Field("es", 2, Kind.ENUM, repeated=True, enum=fixtures.COLOR),
        ),
    )
    m = Message(mt, e=99, es=[0, 1, 3, 42])
    back = parse(serialize(m), mt)
    assert back.e == 99 and back.es == [0, 1, 3, 42]


def test_unknown_fields_skipped() -> None:
    donor = MessageType(
        "t.D",
        (
            Field("a", 1, Kind.INT32),
            Field("x", 9, Kind.STRING),
            Field("y", 10, Kind.DOUBLE),
            Field("z", 11, Kind.INT32, repeated=True),
        ),
    )
    data = serialize(Message(donor, a=7, x="drop me", y=2.5, z=[1, 2]))
    assert parse(data, INT_MSG).a == 7


def test_nested_message_merge_semantics() -> None:
    # two occurrences of the same message field merge (public spec)
    outer = MessageType(
        "t.O", (Field("n", 1, Kind.MESSAGE, message=fixtures.NESTED),)
    )
    part1 = serialize(Message(outer, n=Message(fixtures.NESTED, nested_int=1)))
    part2 = serialize(Message(outer, n=Message(fixtures.NESTED, nested_text="x")))
    merged = parse(part1 + part2, outer)
    assert merged.n.nested_int == 1 and merged.n.nested_text == "x"


def test_full_example_roundtrip() -> None:
    mt = fixtures.EXAMPLE
    m = Message(
        mt,
        double_value=1.5,
        float_value=2.5,
        int32_value=-42,
        uint64_value=2**64 - 1,
        sint64_value=-(2**62),
        bool_value=True,
        string_value="héllo",
        bytes_value=b"\x00\x01",
        enum_value=2,
        int64_values=[1, -2, 3],
        string_values=["a", "b"],
        int32_string_map={1: "one", 2: "two"},
        message_value=Message(fixtures.NESTED, nested_int=3, nested_text="n"),
        message_values=[Message(fixtures.NESTED, nested_int=i) for i in range(3)],
    )
    back = parse(serialize(m), mt)
    assert back == m


# ---------------------------------------------------------------------------
# oneof semantics (public language-guide rules)
# ---------------------------------------------------------------------------

ONEOF_MT = MessageType(
    "t.WithOneof",
    (
        Field("id", 1, Kind.INT64),
        Field("s", 2, Kind.STRING, oneof="payload"),
        Field("n", 3, Kind.INT64, oneof="payload"),
        Field("m", 4, Kind.MESSAGE, message=fixtures.NESTED, oneof="payload"),
    ),
)


def test_oneof_set_clears_siblings() -> None:
    m = Message(ONEOF_MT, id=1, s="text")
    assert m.WhichOneof("payload") == "s"
    m.n = 42
    assert m.WhichOneof("payload") == "n"
    assert not m.HasField("s")  # oneof members always have presence
    assert m.s == ""  # cleared member reads its default
    m.m = Message(fixtures.NESTED, nested_int=7)
    assert m.WhichOneof("payload") == "m"
    assert not m.HasField("n")


def test_oneof_members_have_presence_even_scalars() -> None:
    m = Message(ONEOF_MT)
    assert m.WhichOneof("payload") is None
    m.n = 0  # default VALUE still counts as set (explicit presence)
    assert m.WhichOneof("payload") == "n"
    assert m.HasField("n")
    # and it serializes despite being the type default
    assert serialize(m) != b""


def test_oneof_wire_last_member_wins() -> None:
    # concatenating two serializations with different set members must
    # parse to the LAST one only (merge rule for oneofs)
    first = serialize(Message(ONEOF_MT, s="gone"))
    second = serialize(Message(ONEOF_MT, n=9))
    m = parse(first + second, ONEOF_MT)
    assert m.WhichOneof("payload") == "n"
    assert m.n == 9 and not m.HasField("s")


def test_oneof_roundtrip_each_member() -> None:
    for kwargs in ({"s": "x"}, {"n": -5}, {"m": Message(fixtures.NESTED, nested_int=1)}):
        m = Message(ONEOF_MT, id=3, **kwargs)
        back = parse(serialize(m), ONEOF_MT)
        assert back == m
        assert back.WhichOneof("payload") == next(iter(kwargs))


def test_oneof_unknown_group_raises() -> None:
    import pytest

    with pytest.raises(ValueError):
        Message(ONEOF_MT).WhichOneof("nope")
    with pytest.raises(ValueError):
        Field("bad", 9, Kind.INT64, repeated=True, oneof="g")


def test_truncated_length_prefix_raises() -> None:
    """A declared length overrunning the buffer must raise (real
    parsers: 'truncated message'), never silently decode a short
    slice — strict mode aborts, permissive mode nulls the row."""
    mt = MessageType(
        "trunc.T",
        (
            Field("s", 1, Kind.STRING),
            Field("b", 2, Kind.BYTES),
            Field("m", 3, Kind.MESSAGE, message=fixtures.NESTED),
            Field("p", 4, Kind.INT64, repeated=True),
        ),
    )
    msg = Message(mt, s="hello world", b=b"\x01\x02\x03", p=[1, 2, 3])
    msg.m = Message(fixtures.NESTED)
    data = serialize(msg)
    # every strict prefix that cuts into a length-delimited payload
    # must raise, not return a partially-parsed message
    for cut in range(1, len(data)):
        try:
            parse(data[:cut], mt)
        except (ValueError, IndexError, struct.error):
            continue
        # a cut landing exactly on a field boundary parses fine
        # (prefix of valid fields) — that's the merge contract
    # and specifically: a corrupted length byte claiming more than
    # the buffer holds raises ValueError from the bounds check
    bad = bytearray(data)
    # field 1 tag is the first byte, length the second
    assert bad[0] == (1 << 3) | 2
    bad[1] = 200  # declared string length >> remaining
    with pytest.raises(ValueError, match="truncated|varint"):
        parse(bytes(bad), mt)


def test_truncated_unknown_field_skip_raises() -> None:
    """_skip must bounds-check too: an unknown LEN field whose length
    overruns, or unknown fixed-width fields cut short."""
    mt = MessageType("trunc.Empty", (Field("x", 1, Kind.INT32, optional=True),))
    # unknown field 9, wire type LEN, declared length 100, 1 byte present
    with pytest.raises(ValueError, match="truncated"):
        parse(bytes([(9 << 3) | 2, 100, 0xFF]), mt)
    # unknown field 9, wire type I64, only 2 bytes present
    with pytest.raises(ValueError, match="truncated"):
        parse(bytes([(9 << 3) | 1, 0x00, 0x00]), mt)
    # unknown field 9, wire type I32, no bytes present
    with pytest.raises(ValueError, match="truncated"):
        parse(bytes([(9 << 3) | 5]), mt)


def test_truncated_varint_raises_value_error() -> None:
    """A varint cut off by the end of its buffer (a row, or a nested
    body's own slice) raises the same 'truncated message' ValueError as
    an overrunning length prefix."""
    with pytest.raises(ValueError, match="truncated"):
        parse(b"\x08\x96", INT_MSG)
    nested = MessageType(
        "trunc.Outer", (Field("m", 1, Kind.MESSAGE, message=INT_MSG), Field("n", 2, Kind.INT64))
    )
    # m's body is 08 96; the varint's continuation bit points past it
    with pytest.raises(ValueError, match="truncated"):
        parse(b"\x0a\x02\x08\x96\x10\x01", nested)


# ---------------------------------------------------------------------------
# Writer edge cases, pinned as the bytes the interpreted writer wrote
# ---------------------------------------------------------------------------

EDGE_MSG = MessageType(
    "t.Edge",
    (
        Field("f", 1, Kind.FLOAT),
        Field("d", 2, Kind.DOUBLE),
        Field("s", 3, Kind.STRING),
        Field("b", 4, Kind.BYTES),
        Field("opt", 5, Kind.INT32, optional=True),
        Field("choice_int", 6, Kind.INT64, oneof="choice"),
        Field("choice_str", 7, Kind.STRING, oneof="choice"),
        Field("rep", 8, Kind.INT32, repeated=True),
        map_field("m", 9, Kind.STRING, Kind.INT64),
        Field("msg", 10, Kind.MESSAGE, message=fixtures.NESTED),
        map_field("mm", 11, Kind.INT32, Kind.MESSAGE, value_message=fixtures.NESTED),
        Field("fs", 12, Kind.FLOAT, repeated=True),
    ),
)


@pytest.mark.parametrize(
    "values,wire_hex",
    [
        ({"f": -0.0}, "0d00000080"),  # -0.0 is not the default
        ({"d": -0.0}, "110000000000000080"),
        ({"f": 0.0, "d": 0.0, "s": "", "b": b""}, ""),
        ({"f": float("nan")}, "0d0000c07f"),
        ({"d": float("nan")}, "11000000000000f87f"),
        ({"opt": 0}, "2800"),  # presence scalar at its default
        ({"choice_int": 0}, "3000"),  # oneof members have presence
        ({"choice_str": ""}, "3a00"),
        ({"rep": [], "m": {}, "mm": {}, "fs": []}, ""),
        ({"m": {"": 0}}, "4a00"),  # entry key and value skip defaults
        ({"mm": {0: Message(fixtures.NESTED)}}, "5a021200"),
        ({"msg": Message(fixtures.NESTED)}, "5200"),  # tag plus length 0
        ({"fs": [0.0, -0.0]}, "62080000000000000080"),  # packed keeps both
    ],
)
def test_writer_edge_case_bytes_pinned(values: dict, wire_hex: str) -> None:
    assert serialize(Message(EDGE_MSG, **values)).hex() == wire_hex


@pytest.mark.parametrize(
    "kind,value,error,text",
    [
        (Kind.INT32, 2**31, ValueError,
         "INT32 value 2147483648 out of range [-2147483648, 2147483647]"),
        (Kind.INT32, -(2**31) - 1, ValueError,
         "INT32 value -2147483649 out of range [-2147483648, 2147483647]"),
        (Kind.UINT32, -1, ValueError, "UINT32 value -1 out of range [0, 4294967295]"),
        (Kind.UINT32, 2**32, ValueError,
         "UINT32 value 4294967296 out of range [0, 4294967295]"),
        (Kind.SINT32, 2**31, ValueError,
         "SINT32 value 2147483648 out of range [-2147483648, 2147483647]"),
        (Kind.UINT64, 2**64, ValueError,
         "UINT64 value 18446744073709551616 out of range [0, 18446744073709551615]"),
        (Kind.UINT64, -1, ValueError,
         "UINT64 value -1 out of range [0, 18446744073709551615]"),
        (Kind.FIXED32, 2**32, struct.error, None),
        (Kind.FIXED32, -1, struct.error, None),
    ],
)
def test_writer_rejects_out_of_range(kind: Kind, value: int, error: type, text) -> None:
    mt = MessageType("t.Range", (Field("v", 1, kind),))
    with pytest.raises(error) as info:
        serialize(Message(mt, v=value))
    if text is not None:
        assert str(info.value) == text


def test_compiled_parser_follows_fields_and_pickles() -> None:
    """The compiled parser is cached per type: reassigning ``fields``
    (how recursive types are bound) recompiles it, and a pickled type
    carries no compiled parser but parses the same."""
    import pickle

    mt = MessageType("cache.T", (Field("a", 1, Kind.INT32),))
    wire = serialize(Message(mt, a=5))
    assert parse(wire, mt).a == 5
    mt.fields = (Field("b", 1, Kind.INT32),)
    assert parse(wire, mt).b == 5 and "a" not in parse(wire, mt)._values
    msgs = [Message(fixtures.EXAMPLE, string_value="x", int32_value=3)]
    parse(serialize(msgs[0]), fixtures.EXAMPLE)
    copy = pickle.loads(pickle.dumps(fixtures.EXAMPLE))
    assert "_parse_cache" not in copy.__dict__
    assert parse(serialize(msgs[0]), copy)._values == msgs[0]._values


def test_compiled_writer_follows_fields_and_pickles() -> None:
    """The compiled writer is cached per type like the parser:
    reassigning ``fields`` recompiles it, a pickled type carries no
    compiled writer but writes the same bytes, and recursive types
    serialize (sub-message writers bind per occurrence)."""
    import pickle

    mt = MessageType("cache.W", (Field("a", 1, Kind.INT32),))
    msg = Message(mt, a=5)
    assert serialize(msg) == b"\x08\x05"
    assert mt.__dict__["_write_cache"] is not None
    mt.fields = (Field("a", 2, Kind.INT32),)
    assert serialize(msg) == b"\x10\x05"
    ex = Message(fixtures.EXAMPLE, string_value="x", int32_value=3, int64_values=[1, -2])
    wire = serialize(ex)
    copy = pickle.loads(pickle.dumps(fixtures.EXAMPLE))
    assert "_write_cache" not in copy.__dict__
    assert serialize(Message._from_values(copy, dict(ex._values))) == wire
    # the golden RecursiveSelf shape, serialized once before its fields
    # are bound, as fixtures.recursive_self_type binds them
    rs = MessageType("protarrow_spark.test.RecursiveSelf", ())
    assert serialize(Message(rs)) == b""
    rs.fields = (Field("next", 1, Kind.MESSAGE, message=rs), Field("depth", 2, Kind.INT32))
    nested = Message(rs, depth=1, next=Message(rs, depth=2, next=Message(rs)))
    assert serialize(nested).hex() == "0a040a0010021001"
    rm = fixtures.recursive_map_type()
    tree = Message(rm, name="a", children_map={"b": Message(rm, children_map={"c": Message(rm)})})
    assert serialize(tree).hex() == "0a0161120c0a0162120712050a01631200"
    rr = fixtures.recursive_repeated_type()
    items = [Message(rr), Message(rr, depth=-1, children=[Message(rr, depth=3)])]
    assert (
        serialize(Message(rr, depth=1, children=items)).hex()
        == "08011200120f08ffffffffffffffffff0112020803"
    )


def test_group_field_fails_only_when_on_the_wire() -> None:
    """A type may declare a proto2 group (the descriptor adapter maps
    them); parsing fails only on a record of that field."""
    mt = MessageType("g.T", (Field("a", 1, Kind.INT32), Field("g", 2, Kind.GROUP)))
    assert parse(b"\x08\x05", mt)._values == {"a": 5}
    with pytest.raises(TypeError, match="group"):
        parse(b"\x08\x05\x13\x14", mt)
