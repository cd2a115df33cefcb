"""Dynamic message runtime + protobuf wire-format codec.

``google.protobuf`` is not installable here, so the engine carries a
minimal runtime implementing the *public* protobuf semantics over the
internal descriptor model (``proto/model.py``):

* ``Message``: field access with proto3 presence rules (``HasField``
  valid only for presence fields; plain scalars read their default
  when unset), repeated fields as lists, maps as dicts.
* ``serialize`` / ``parse``: the public wire format (encoding spec at
  protobuf.dev/programming-guides/encoding): varints, zigzag sints,
  little-endian fixed32/64, length-delimited strings/bytes/messages,
  packed repeated primitives (decoder accepts packed and expanded),
  map fields as repeated key/value entry messages, unknown-field skip.
  ``parse`` and ``serialize`` run a parser and a writer compiled once
  per message type and cached on it, both over ``Message`` storage: a
  handler per field number with its kind's reader, and a writer per
  field whose tag, payload writer and default-skip test are fixed.

The distributed row codec (``conversion/distributed.py``) decodes a
``binary`` proto column on executors as ``parse`` followed by the
compiled ``row_builder`` and encodes rows with the compiled writer's
per-field writers; it is the fallback of the vectorized batch codec.
Spark's built-in ``from_protobuf`` would need the external
spark-protobuf jar + a compiled descriptor set, neither available
here.

Behavioral parity targets in the reference (not copied, re-derived
from the public spec): presence masks ``proto_to_arrow.py:604-616``,
absent-field defaults ``proto_to_arrow.py:428-437``.
"""

from __future__ import annotations

import struct
from typing import Any, Callable

from protarrow_spark.proto.model import (
    ZIGZAG_KINDS,
    Field,
    Kind,
    MessageType,
)

_U64 = 1 << 64
_I64_MAX = (1 << 63) - 1
_U32 = 1 << 32
_I32_MAX = (1 << 31) - 1


def _float32(v: float) -> float:
    """Round to float32 precision, as assigning to a proto float field does."""
    return struct.unpack("<f", struct.pack("<f", v))[0]


def _normalizer(field: Field) -> Callable[[Any], Any] | None:
    """How ``Message`` storage holds a non-None scalar of ``field``, or
    each item of a repeated ``field``: FLOAT rounded to float32, a BOOL
    scalar as ``bool``. None where the value is stored as given (every
    other kind, and map entries). ``None`` itself never reaches it: it
    means "unset" and is never stored."""
    if field.kind is Kind.FLOAT:
        return _float32
    if field.kind is Kind.BOOL and not field.repeated:
        return bool
    return None


def _oneof_siblings(mtype: MessageType, field: Field) -> tuple[str, ...]:
    """Names of the other members of ``field``'s oneof, which setting
    ``field`` clears; empty outside a oneof."""
    if field.oneof is None:
        return ()
    return tuple(f.name for f in mtype.oneofs[field.oneof] if f is not field)


class Message:
    """A dynamic message instance bound to a :class:`MessageType`.

    Mirrors the parts of the ``google.protobuf.Message`` API the
    conversion layer touches: attribute access, ``HasField``,
    ``SetField`` via plain assignment, equality with proto3 presence
    semantics.

    Storage is ``_values``, a dict from field name to the value as
    ``__setattr__`` normalizes it: no ``None`` values, scalars and
    repeated items as :func:`_normalizer` gives them, lists for repeated
    fields, dicts for maps, at most one member per oneof (see
    :func:`_oneof_siblings`). :meth:`_from_values` wraps such a dict
    without running ``__setattr__``; its caller must hand it values
    already normalized by those two rules (the compiled converters of
    ``conversion/decode.py`` and the wire parser below do).
    """

    __slots__ = ("_type", "_values")

    def __init__(self, mtype: MessageType, **values: Any) -> None:
        object.__setattr__(self, "_type", mtype)
        object.__setattr__(self, "_values", {})
        for name, value in values.items():
            setattr(self, name, value)

    @classmethod
    def _from_values(cls, mtype: MessageType, values: dict) -> "Message":
        """A message over ``values``, taken as normalized storage (see
        the class docstring); nothing is checked or copied."""
        msg = object.__new__(cls)
        object.__setattr__(msg, "_type", mtype)
        object.__setattr__(msg, "_values", values)
        return msg

    @property
    def type(self) -> MessageType:
        return self._type

    def _field(self, name: str) -> Field:
        try:
            return self._type.fields_by_name[name]
        except KeyError:
            raise AttributeError(
                f"{self._type.full_name} has no field {name!r}"
            ) from None

    def __getattr__(self, name: str) -> Any:
        if name.startswith("_"):
            raise AttributeError(name)
        field = self._field(name)
        values = self._values
        if field.is_map:
            return values.setdefault(name, {})
        if field.repeated:
            return values.setdefault(name, [])
        if name in values:
            return values[name]
        if field.kind is Kind.MESSAGE:
            # unset message field reads as a default (detached) instance
            return Message(field.message)
        return field.default_value

    def __setattr__(self, name: str, value: Any) -> None:
        field = self._field(name)
        values = self._values
        if value is None:
            values.pop(name, None)
            return
        # language-guide oneof rule: setting any member clears the
        # group's other members ("at most one set" invariant).
        for sib in _oneof_siblings(self._type, field):
            values.pop(sib, None)
        if field.is_map:
            values[name] = dict(value)
            return
        norm = _normalizer(field)
        if field.repeated:
            values[name] = list(value) if norm is None else [norm(v) for v in value]
        else:
            values[name] = value if norm is None else norm(value)

    def HasField(self, name: str) -> bool:  # noqa: N802 — protobuf API parity
        field = self._field(name)
        if not field.has_presence:
            raise ValueError(f"field {name} has no presence")
        return name in self._values

    def ClearField(self, name: str) -> None:  # noqa: N802
        self._field(name)
        self._values.pop(name, None)

    def WhichOneof(self, oneof_name: str) -> str | None:  # noqa: N802
        """Name of the set member of oneof ``oneof_name``, or None —
        protobuf API parity (at most one member can be set)."""
        members = self._type.oneofs.get(oneof_name)
        if members is None:
            raise ValueError(
                f"{self._type.full_name} has no oneof {oneof_name!r}"
            )
        for f in members:
            if f.name in self._values:
                return f.name
        return None

    def SerializeToString(self) -> bytes:  # noqa: N802
        return serialize(self)

    def _canonical(self) -> dict:
        """proto3 equality view: plain scalars fold to defaults when
        unset; presence fields keep their set/unset distinction."""
        out: dict[str, Any] = {}
        for f in self._type.fields:
            name = f.name
            if f.is_map:
                v = self._values.get(name) or {}
                out[name] = {
                    k: (x._canonical() if isinstance(x, Message) else x)
                    for k, x in v.items()
                }
            elif f.repeated:
                v = self._values.get(name) or []
                out[name] = [
                    x._canonical() if isinstance(x, Message) else x for x in v
                ]
            elif f.has_presence:
                x = self._values.get(name, _ABSENT)
                if isinstance(x, Message):
                    x = ("present", x._canonical())
                out[name] = x
            else:
                out[name] = self._values.get(name, f.default_value)
        return out

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Message):
            return NotImplemented
        return (
            self._type.full_name == other._type.full_name
            and self._canonical() == other._canonical()
        )

    def __repr__(self) -> str:
        set_fields = ", ".join(f"{k}={v!r}" for k, v in sorted(self._values.items()))
        return f"{self._type.name}({set_fields})"


_ABSENT = object()


# ---------------------------------------------------------------------------
# Wire-format encode
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


def _write_varint(out: bytearray, value: int) -> None:
    if value < 0:
        value += _U64  # two's complement, 10 bytes
    while value > 0x7F:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)


def _tag_bytes(number: int, wire_type: int) -> bytes:
    """The encoded key of one record of field ``number``."""
    out = bytearray()
    _write_varint(out, (number << 3) | wire_type)
    return bytes(out)


#: Contract bounds per varint kind: encoding a value outside its
#: declared range must RAISE (the typed protobuf API rejects the
#: assignment), never silently write an over-wide varint that decodes
#: to a different number.
_VARINT_RANGE = {
    Kind.INT32: (-(1 << 31), (1 << 31) - 1),
    Kind.SINT32: (-(1 << 31), (1 << 31) - 1),
    Kind.ENUM: (-(1 << 31), (1 << 31) - 1),
    Kind.UINT32: (0, (1 << 32) - 1),
    Kind.INT64: (-(1 << 63), (1 << 63) - 1),
    Kind.SINT64: (-(1 << 63), (1 << 63) - 1),
    Kind.UINT64: (0, (1 << 64) - 1),
}


# Payload writers: ``(out, value) -> None`` append one value without its
# tag; one per kind (``_KINDS`` below), picked when a writer is compiled.


def _varint_payload(kind: Kind) -> Callable[[bytearray, Any], None]:
    lo, hi = _VARINT_RANGE[kind]

    def write(out: bytearray, value: Any) -> None:
        v = int(value)
        if not lo <= v <= hi:
            raise ValueError(f"{kind.name} value {v} out of range [{lo}, {hi}]")
        _write_varint(out, v)

    def write_zigzag(out: bytearray, value: Any) -> None:
        v = int(value)
        if not lo <= v <= hi:
            raise ValueError(f"{kind.name} value {v} out of range [{lo}, {hi}]")
        _write_varint(out, (v << 1) ^ (v >> 63))

    return write_zigzag if kind in ZIGZAG_KINDS else write


def _write_string(out: bytearray, value: str) -> None:
    data = value.encode("utf-8")
    _write_varint(out, len(data))
    out += data


def _write_bytes(out: bytearray, value: Any) -> None:
    _write_varint(out, len(value))
    out += bytes(value)


def _write_message(out: bytearray, value: Any) -> None:
    # the body's writer is looked up per occurrence, so recursive types
    # bind late; a value that is not a Message writes an empty body
    body = _writer(value._type)(value._values) if isinstance(value, Message) else b""
    _write_varint(out, len(body))
    out += body


def _write_group(out: bytearray, value: Any) -> None:
    raise TypeError("proto2 groups are unsupported")


def _writer(mtype: MessageType) -> Callable[[dict], bytes]:
    """The compiled ``write(values) -> bytes`` of ``mtype``, which
    writes a ``Message._values`` storage dict in field-number order.
    Its ``fields`` attribute holds the ``(field name, write_field)``
    pairs it runs. Compiled on first use and cached on ``mtype`` until
    its ``fields`` are reassigned (the cache is not pickled with it)."""
    write = getattr(mtype, "_write_cache", None)
    if write is not None:
        return write
    steps = tuple(
        (f.name, _field_writer(f, emit_default=f.has_presence))
        for f in mtype.fields_number_order
    )

    def write(values: dict) -> bytes:
        out = bytearray()
        get = values.get
        for name, write_field in steps:
            v = get(name)
            if v is not None:
                write_field(out, v)
        return bytes(out)

    write.fields = steps  # type: ignore[attr-defined]
    object.__setattr__(mtype, "_write_cache", write)
    return write


def _field_writer(field: Field, emit_default: bool) -> Callable[[bytearray, Any], None]:
    """``(out, value) -> None`` for one field: appends the records of a
    non-None storage value of ``field``. Empty lists and maps write
    nothing, numeric lists pack, and a map writes one entry per item
    whose key and value skip their defaults. Unless ``emit_default``, a
    singular scalar at its default, ``-0.0`` aside, writes nothing."""
    wt, _, payload = _KINDS[field.kind]
    tag = _tag_bytes(field.number, _WT_LEN if field.repeated else wt)
    if field.is_map:
        entry = field.message
        write_key = _field_writer(entry.fields_by_number[1], emit_default=False)
        write_val = _field_writer(entry.fields_by_number[2], emit_default=False)

        def write_map(out: bytearray, value: dict) -> None:
            for k, v in value.items():
                body = bytearray()
                write_key(body, k)
                write_val(body, v)
                out += tag
                _write_varint(out, len(body))
                out += body

        return write_map

    if field.repeated:
        if wt == _WT_LEN:  # strings, bytes, messages: one record per item

            def write_items(out: bytearray, value: list) -> None:
                for item in value:
                    out += tag
                    payload(out, item)

            return write_items

        def write_packed(out: bytearray, value: list) -> None:
            if value:
                body = bytearray()
                for item in value:
                    payload(body, item)
                out += tag
                _write_varint(out, len(body))
                out += body

        return write_packed

    if emit_default or field.kind is Kind.MESSAGE:

        def write_value(out: bytearray, value: Any) -> None:
            out += tag
            payload(out, value)

        return write_value

    default = field.default_value

    def write_unless_default(out: bytearray, value: Any) -> None:
        if value != default or (isinstance(value, float) and str(value) == "-0.0"):
            out += tag
            payload(out, value)

    return write_unless_default


def serialize(msg: Message) -> bytes:
    """Message -> wire bytes, fields in field-number order (stable)."""
    return _writer(msg._type)(msg._values)


# ---------------------------------------------------------------------------
# Wire-format decode
# ---------------------------------------------------------------------------


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    try:
        b = data[pos]
        if b < 0x80:
            return b, pos + 1
        result, shift = b & 0x7F, 7
        while True:
            pos += 1
            b = data[pos]
            result |= (b & 0x7F) << shift
            if b < 0x80:
                return result & (_U64 - 1), pos + 1
            shift += 7
            if shift > 63:
                raise ValueError("varint too long")
    except IndexError:
        raise ValueError(
            f"truncated message: varint runs past byte {len(data)}"
        ) from None


def _check_bounds(data: bytes, pos: int, n: int) -> None:
    """Reject declared lengths that overrun the buffer. Python slices
    silently truncate, so without this a corrupt length prefix decodes
    to partially-wrong values instead of raising — real protobuf
    parsers fail with 'truncated message' here, and the PERMISSIVE
    dead-letter contract needs the raise to null the row."""
    if pos + n > len(data):
        raise ValueError(
            f"truncated message: need {n} bytes at {pos}, have {len(data) - pos}"
        )


def _read_len(data: bytes, pos: int) -> tuple[int, int]:
    """The bounds ``(start, end)`` of the LEN payload whose length
    prefix is at ``pos``."""
    n, pos = _read_varint(data, pos)
    _check_bounds(data, pos, n)
    return pos, pos + n


def _skip(data: bytes, pos: int, wire_type: int) -> int:
    if wire_type == _WT_VARINT:
        _, pos = _read_varint(data, pos)
        return pos
    if wire_type == _WT_I64:
        _check_bounds(data, pos, 8)
        return pos + 8
    if wire_type == _WT_I32:
        _check_bounds(data, pos, 4)
        return pos + 4
    if wire_type == _WT_LEN:
        return _read_len(data, pos)[1]
    raise ValueError(f"cannot skip wire type {wire_type} (groups unsupported)")


# Scalar readers: ``(data, pos) -> (value, pos)``. A scalar is read by
# its field's kind, whatever the record's wire type.


def _read_int64(data: bytes, pos: int) -> tuple[int, int]:
    v, pos = _read_varint(data, pos)
    return (v - _U64 if v > _I64_MAX else v), pos


def _read_int32(data: bytes, pos: int) -> tuple[int, int]:
    v, pos = _read_varint(data, pos)
    v &= _U32 - 1
    return (v - _U32 if v > _I32_MAX else v), pos


def _read_sint(data: bytes, pos: int) -> tuple[int, int]:
    v, pos = _read_varint(data, pos)
    return (v >> 1) ^ -(v & 1), pos


def _read_bool(data: bytes, pos: int) -> tuple[bool, int]:
    v, pos = _read_varint(data, pos)
    return v != 0, pos


def _read_string(data: bytes, pos: int) -> tuple[str, int]:
    start, end = _read_len(data, pos)
    return data[start:end].decode("utf-8"), end


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    start, end = _read_len(data, pos)
    return bytes(data[start:end]), end


def _fixed(fmt: str) -> tuple[int, Callable, Callable]:
    """Wire type, reader and payload writer of a fixed-width kind."""
    codec = struct.Struct(fmt)
    unpack, pack, width = codec.unpack_from, codec.pack, codec.size

    def read(data: bytes, pos: int) -> tuple[Any, int]:
        return unpack(data, pos)[0], pos + width

    wt = _WT_I64 if width == 8 else _WT_I32
    if fmt in ("<d", "<f"):
        return wt, read, lambda out, value: out.extend(pack(value))
    return wt, read, lambda out, value: out.extend(pack(int(value)))


#: kind -> (wire type, scalar reader or None, payload writer)
_KINDS = {
    Kind.INT64: (_WT_VARINT, _read_int64, _varint_payload(Kind.INT64)),
    Kind.ENUM: (_WT_VARINT, _read_int64, _varint_payload(Kind.ENUM)),
    Kind.INT32: (_WT_VARINT, _read_int32, _varint_payload(Kind.INT32)),
    Kind.UINT32: (_WT_VARINT, _read_varint, _varint_payload(Kind.UINT32)),
    Kind.UINT64: (_WT_VARINT, _read_varint, _varint_payload(Kind.UINT64)),
    Kind.SINT32: (_WT_VARINT, _read_sint, _varint_payload(Kind.SINT32)),
    Kind.SINT64: (_WT_VARINT, _read_sint, _varint_payload(Kind.SINT64)),
    Kind.BOOL: (_WT_VARINT, _read_bool, lambda out, value: out.append(1 if value else 0)),
    Kind.STRING: (_WT_LEN, _read_string, _write_string),
    Kind.BYTES: (_WT_LEN, _read_bytes, _write_bytes),
    Kind.DOUBLE: _fixed("<d"),
    Kind.FLOAT: _fixed("<f"),
    Kind.FIXED64: _fixed("<Q"),
    Kind.SFIXED64: _fixed("<q"),
    Kind.FIXED32: _fixed("<I"),
    Kind.SFIXED32: _fixed("<i"),
    Kind.MESSAGE: (_WT_LEN, None, _write_message),
    Kind.GROUP: (_WT_LEN, None, _write_group),
}


def _parser(mtype: MessageType) -> Callable[[bytes, dict], dict]:
    """The compiled ``merge(data, values) -> values`` of ``mtype``,
    which merges wire bytes into a ``Message._values`` storage dict.
    Compiled on first use and cached on ``mtype`` until its ``fields``
    are reassigned (the cache is not pickled with the type)."""
    merge = getattr(mtype, "_parse_cache", None)
    if merge is None:
        merge = _compile_parser(mtype)
        object.__setattr__(mtype, "_parse_cache", merge)
    return merge


def _compile_parser(mtype: MessageType) -> Callable[[bytes, dict], dict]:
    handlers = {f.number: _field_handler(mtype, f) for f in mtype.fields}
    handler = handlers.get

    def merge(data: bytes, values: dict) -> dict:
        pos, end = 0, len(data)
        while pos < end:
            tag, pos = _read_varint(data, pos)
            h = handler(tag >> 3)
            if h is None:
                pos = _skip(data, pos, tag & 7)
            else:
                pos = h(data, pos, tag & 7, values)
        return values

    return merge


def _field_handler(mtype: MessageType, field: Field) -> Callable:
    """``(data, pos, wire_type, values) -> pos`` for one field: reads the
    payload of one record at ``pos`` into ``values``, storing what
    ``__setattr__`` would (a value read from the wire is already
    normalized). Message values are parsed from their own slice, with
    their type's parser looked up per occurrence so recursive types
    bind late."""
    name = field.name
    sibs = _oneof_siblings(mtype, field)

    if field.is_map:
        entry = field.message
        key_f, val_f = entry.fields_by_number[1], entry.fields_by_number[2]
        key_name, key_default = key_f.name, key_f.default_value
        val_name, val_mt, val_default = val_f.name, val_f.message, val_f.default_value

        def read_entry(data, pos, wt, values):
            start, end = _read_len(data, pos)
            e = _parser(entry)(data[start:end], {})
            if val_name in e:
                v = e[val_name]
            else:  # an absent value reads as its default
                v = val_default if val_mt is None else Message._from_values(val_mt, {})
            d = values.get(name)
            if d is None:
                d = values[name] = {}
            d[e.get(key_name, key_default)] = v
            return end

        return read_entry

    if field.kind is Kind.MESSAGE:
        sub = field.message
        if field.repeated:

            def read_item(data, pos, wt, values):
                start, end = _read_len(data, pos)
                item = Message._from_values(sub, _parser(sub)(data[start:end], {}))
                items = values.get(name)
                if items is None:
                    values[name] = [item]
                else:
                    items.append(item)
                return end

            return read_item

        def read_message(data, pos, wt, values):
            start, end = _read_len(data, pos)
            held = values.get(name)
            if held is not None:  # a repeated occurrence merges
                _parser(sub)(data[start:end], held._values)
                return end
            msg = Message._from_values(sub, _parser(sub)(data[start:end], {}))
            for s in sibs:
                values.pop(s, None)
            values[name] = msg
            return end

        return read_message

    read = _KINDS[field.kind][1]
    if read is None:  # proto2 groups: a type may declare one (adapter.py)

        def read_group(data, pos, wt, values):
            raise TypeError(f"{mtype.full_name}.{name}: proto2 groups are unsupported")

        return read_group
    if field.repeated:
        if field.kind in (Kind.STRING, Kind.BYTES):

            def read_items(data, pos, wt, values):
                v, pos = read(data, pos)
                items = values.get(name)
                if items is None:
                    values[name] = [v]
                else:
                    items.append(v)
                return pos

            return read_items

        def read_packable(data, pos, wt, values):
            items = values.get(name)
            if items is None:
                items = values[name] = []
            if wt != _WT_LEN:
                v, pos = read(data, pos)
                items.append(v)
                return pos
            # packed: elements are read while the cursor is before the
            # body end, each bounded by the buffer only
            pos, stop = _read_len(data, pos)
            while pos < stop:
                v, pos = read(data, pos)
                items.append(v)
            return pos

        return read_packable

    if sibs:

        def read_member(data, pos, wt, values):
            v, pos = read(data, pos)
            for s in sibs:
                values.pop(s, None)
            values[name] = v
            return pos

        return read_member

    def read_scalar(data, pos, wt, values):
        values[name], pos = read(data, pos)
        return pos

    return read_scalar


def parse_into(msg: Message, data: bytes) -> Message:
    """Merge wire bytes into ``msg`` (public merge semantics: scalars
    last-wins, messages merge, repeated/maps append, a oneof member
    clears its siblings, unknown fields skip, packed and expanded
    repeated encodings both accepted)."""
    _parser(msg._type)(data, msg._values)
    return msg


def parse(data: bytes, mtype: MessageType) -> Message:
    """Wire bytes -> a fresh :class:`Message` of ``mtype``."""
    return Message._from_values(mtype, _parser(mtype)(data, {}))
