"""Self-contained protobuf descriptor model.

``google.protobuf`` is not installable in this environment, so the
engine carries its own minimal descriptor model implementing the
public protobuf semantics (field kinds, labels, presence, map entries,
well-known types — all from the public language guide). When the real
library IS available, ``proto/adapter.py`` converts
``google.protobuf.Descriptor`` objects into this model, giving the
same drop-in API as the reference (``protarrow/__init__.py:14-26``).

Semantics mirrored from the reference:

* presence: message fields and ``optional`` fields have presence;
  plain proto3 scalars do not (``proto_to_arrow.py:317-323``).
* maps: a map field is a repeated auto-generated entry message with
  ``key``=1 / ``value``=2 (``proto_to_arrow.py:219-233``).
* well-known types are plain messages with reserved full names
  (``proto_to_arrow.py:48-57``).
"""

from __future__ import annotations

import dataclasses
import enum
from typing import Iterable, Optional


class Kind(enum.Enum):
    DOUBLE = "double"
    FLOAT = "float"
    INT32 = "int32"
    INT64 = "int64"
    UINT32 = "uint32"
    UINT64 = "uint64"
    SINT32 = "sint32"
    SINT64 = "sint64"
    FIXED32 = "fixed32"
    FIXED64 = "fixed64"
    SFIXED32 = "sfixed32"
    SFIXED64 = "sfixed64"
    BOOL = "bool"
    STRING = "string"
    BYTES = "bytes"
    ENUM = "enum"
    MESSAGE = "message"
    # proto2 groups are unsupported, as in the reference
    # (``proto_to_arrow.py:378-383``).
    GROUP = "group"


ZIGZAG_KINDS = {Kind.SINT32, Kind.SINT64}


@dataclasses.dataclass(frozen=True)
class EnumType:
    full_name: str
    #: number -> name, in declaration order (first entry is the
    #: unknown-value fallback, ``proto_to_arrow.py:242-262``).
    values: tuple[tuple[int, str], ...]

    @property
    def by_number(self) -> dict[int, str]:
        return dict(self.values)

    @property
    def by_name(self) -> dict[str, int]:
        return {n: v for v, n in self.values}

    @property
    def fallback_name(self) -> str:
        return self.values[0][1]


@dataclasses.dataclass
class Field:
    name: str
    number: int
    kind: Kind
    repeated: bool = False
    #: explicit presence (proto3 ``optional`` / proto2 optional scalar).
    optional: bool = False
    message: Optional["MessageType"] = None
    enum: Optional[EnumType] = None
    #: real (non-synthetic) oneof group name this field belongs to, or
    #: None. Oneof members always have presence, and setting one member
    #: clears its siblings (public language-guide semantics). proto3
    #: ``optional`` is modeled via ``optional``, NOT as its synthetic
    #: oneof, mirroring how ``FieldDescriptor.has_presence`` abstracts
    #: both (the reference relies on the same abstraction,
    #: ``proto_to_arrow.py:317-323``).
    oneof: Optional[str] = None

    def __post_init__(self) -> None:
        if self.kind is Kind.MESSAGE and self.message is None:
            raise ValueError(f"message field {self.name} needs a message type")
        if self.kind is Kind.ENUM and self.enum is None:
            raise ValueError(f"enum field {self.name} needs an enum type")
        if self.oneof is not None and self.repeated:
            raise ValueError(
                f"oneof member {self.name} cannot be repeated (spec rule)"
            )

    @property
    def is_map(self) -> bool:
        return (
            self.repeated
            and self.kind is Kind.MESSAGE
            and self.message is not None
            and self.message.map_entry
        )

    @property
    def has_presence(self) -> bool:
        """Mirrors FieldDescriptor.has_presence: repeated fields never;
        message fields, optional fields, and oneof members always."""
        if self.repeated:
            return False
        return (
            self.optional
            or self.oneof is not None
            or self.kind in (Kind.MESSAGE, Kind.GROUP)
        )

    @property
    def default_value(self):
        """Proto default for a non-present non-optional field
        (``proto_to_arrow.py:428-437``)."""
        if self.repeated:
            return {} if self.is_map else []
        if self.kind is Kind.BOOL:
            return False
        if self.kind in (Kind.STRING,):
            return ""
        if self.kind is Kind.BYTES:
            return b""
        if self.kind in (Kind.DOUBLE, Kind.FLOAT):
            return 0.0
        if self.kind is Kind.ENUM:
            return 0
        if self.kind is Kind.MESSAGE:
            return None
        return 0


@dataclasses.dataclass
class MessageType:
    full_name: str
    fields: tuple[Field, ...] = ()
    map_entry: bool = False

    def __post_init__(self) -> None:
        if isinstance(self.fields, list):
            self.fields = tuple(self.fields)

    def __setattr__(self, name: str, value) -> None:
        # Reassigning `fields` (recursive types bind them after
        # construction) invalidates the caches derived from them: the
        # indexes below, on the per-message hot path of the wire codec
        # (recomputing the dicts per access dominated profiles), and
        # the compiled wire parser and writer of ``proto/message.py``.
        object.__setattr__(self, name, value)
        if name == "fields":
            object.__setattr__(self, "_idx_cache", None)
            object.__setattr__(self, "_parse_cache", None)
            object.__setattr__(self, "_write_cache", None)

    def __getstate__(self) -> dict:
        # the caches rebuild on first use; the compiled parser's and
        # writer's closures need not travel with a pickled type
        return {f.name: getattr(self, f.name) for f in dataclasses.fields(self)}

    def _indexes(self) -> tuple:
        cached = getattr(self, "_idx_cache", None)
        if cached is None:
            by_name = {f.name: f for f in self.fields}
            by_number = {f.number: f for f in self.fields}
            oo: dict[str, list[Field]] = {}
            for f in self.fields:
                if f.oneof is not None:
                    oo.setdefault(f.oneof, []).append(f)
            oneofs = {k: tuple(v) for k, v in oo.items()}
            in_order = tuple(sorted(self.fields, key=lambda f: f.number))
            cached = (by_name, by_number, oneofs, in_order)
            object.__setattr__(self, "_idx_cache", cached)
        return cached

    @property
    def name(self) -> str:
        return self.full_name.rsplit(".", 1)[-1]

    @property
    def fields_by_name(self) -> dict[str, Field]:
        return self._indexes()[0]

    @property
    def fields_by_number(self) -> dict[int, Field]:
        return self._indexes()[1]

    @property
    def oneofs(self) -> dict[str, tuple[Field, ...]]:
        """Real oneof groups: name -> member fields in declaration
        order (derived from field annotations — no separate descriptor
        object to keep in sync)."""
        return self._indexes()[2]

    @property
    def fields_number_order(self) -> tuple[Field, ...]:
        """Fields sorted by field number — the wire emission order
        (cached; serialize runs once per message)."""
        return self._indexes()[3]


def map_field(
    name: str,
    number: int,
    key_kind: Kind,
    value_kind: Kind,
    value_message: MessageType | None = None,
    value_enum: EnumType | None = None,
    entry_full_name: str | None = None,
) -> Field:
    """Build a map<k,v> field as protoc does: a repeated synthetic
    entry message with key=1 / value=2."""
    entry = MessageType(
        full_name=entry_full_name or f"{name.title()}Entry",
        fields=(
            Field("key", 1, key_kind),
            Field(
                "value",
                2,
                value_kind,
                message=value_message,
                enum=value_enum,
            ),
        ),
        map_entry=True,
    )
    return Field(name, number, Kind.MESSAGE, repeated=True, message=entry)


# ---------------------------------------------------------------------------
# Well-known types (public definitions; dispatch mirrors
# ``proto_to_arrow.py:48-57`` / ``docs/types.md:52-68``).
# ---------------------------------------------------------------------------

TIMESTAMP = MessageType(
    "google.protobuf.Timestamp",
    (Field("seconds", 1, Kind.INT64), Field("nanos", 2, Kind.INT32)),
)
DURATION = MessageType(
    "google.protobuf.Duration",
    (Field("seconds", 1, Kind.INT64), Field("nanos", 2, Kind.INT32)),
)
DATE = MessageType(
    "google.type.Date",
    (
        Field("year", 1, Kind.INT32),
        Field("month", 2, Kind.INT32),
        Field("day", 3, Kind.INT32),
    ),
)
TIME_OF_DAY = MessageType(
    "google.type.TimeOfDay",
    (
        Field("hours", 1, Kind.INT32),
        Field("minutes", 2, Kind.INT32),
        Field("seconds", 3, Kind.INT32),
        Field("nanos", 4, Kind.INT32),
    ),
)
EMPTY = MessageType("google.protobuf.Empty", ())


def _wrapper(name: str, kind: Kind) -> MessageType:
    return MessageType(f"google.protobuf.{name}", (Field("value", 1, kind),))


DOUBLE_VALUE = _wrapper("DoubleValue", Kind.DOUBLE)
FLOAT_VALUE = _wrapper("FloatValue", Kind.FLOAT)
INT64_VALUE = _wrapper("Int64Value", Kind.INT64)
UINT64_VALUE = _wrapper("UInt64Value", Kind.UINT64)
INT32_VALUE = _wrapper("Int32Value", Kind.INT32)
UINT32_VALUE = _wrapper("UInt32Value", Kind.UINT32)
BOOL_VALUE = _wrapper("BoolValue", Kind.BOOL)
STRING_VALUE = _wrapper("StringValue", Kind.STRING)
BYTES_VALUE = _wrapper("BytesValue", Kind.BYTES)

#: full_name -> (wrapped kind) for the 9 wrapper types
#: (``proto_to_arrow.py:48-57``, nullable unwrap).
WRAPPER_TYPES: dict[str, Kind] = {
    m.full_name: m.fields[0].kind
    for m in (
        DOUBLE_VALUE,
        FLOAT_VALUE,
        INT64_VALUE,
        UINT64_VALUE,
        INT32_VALUE,
        UINT32_VALUE,
        BOOL_VALUE,
        STRING_VALUE,
        BYTES_VALUE,
    )
}

WELL_KNOWN = {
    m.full_name: m
    for m in (TIMESTAMP, DURATION, DATE, TIME_OF_DAY, EMPTY)
} | {name: _wrapper(name.rsplit(".", 1)[-1], kind) for name, kind in WRAPPER_TYPES.items()}


def iter_message_types(root: MessageType) -> Iterable[MessageType]:
    """Depth-first walk over all message types reachable from root
    (cycle-safe)."""
    seen: set[str] = set()
    stack = [root]
    while stack:
        mt = stack.pop()
        if mt.full_name in seen:
            continue
        seen.add(mt.full_name)
        yield mt
        for f in mt.fields:
            if f.message is not None:
                stack.append(f.message)
