"""A small protobuf wire reader for the flat ``Event`` shape.

It shares no code with the program's codecs, so decoding the
program's output with it is an independent check of the encoder.

    Event { int64 event_id = 1; int64 user_id = 2; string event_type = 3;
            double value = 4; google.protobuf.Timestamp ts = 5; }
"""

from __future__ import annotations

import struct


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    out = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, pos
        shift += 7


def _int64(u: int) -> int:
    return u - (1 << 64) if u >= 1 << 63 else u


def _fields(buf: bytes):
    """Yield ``(field_number, wire_type, value)``; LEN values are bytes."""
    pos, end = 0, len(buf)
    while pos < end:
        key, pos = _varint(buf, pos)
        num, wt = key >> 3, key & 7
        if wt == 0:
            val, pos = _varint(buf, pos)
        elif wt == 1:
            val, pos = buf[pos : pos + 8], pos + 8
        elif wt == 2:
            n, pos = _varint(buf, pos)
            val, pos = buf[pos : pos + n], pos + n
        elif wt == 5:
            val, pos = buf[pos : pos + 4], pos + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield num, wt, val


def read_event(buf: bytes) -> tuple:
    """One Event message -> ``(event_id, user_id, event_type, value, ts_us)``
    with proto3 defaults for absent scalars and None for an absent ts."""
    event_id = user_id = 0
    event_type, value, ts_us = "", 0.0, None
    for num, wt, val in _fields(buf):
        if num == 1 and wt == 0:
            event_id = _int64(val)
        elif num == 2 and wt == 0:
            user_id = _int64(val)
        elif num == 3 and wt == 2:
            event_type = val.decode("utf-8")
        elif num == 4 and wt == 1:
            value = struct.unpack("<d", val)[0]
        elif num == 5 and wt == 2:
            seconds = nanos = 0
            for n2, w2, v2 in _fields(val):
                if n2 == 1 and w2 == 0:
                    seconds = _int64(v2)
                elif n2 == 2 and w2 == 0:
                    nanos = _int64(v2)
            ts_us = seconds * 1_000_000 + nanos // 1000
        else:
            raise ValueError(f"unexpected field {num} (wire type {wt})")
    return event_id, user_id, event_type, value, ts_us


def event_rows(table) -> list[tuple]:
    """The same tuples taken straight from a pyarrow ``events`` table."""
    cols = [table.column(c).to_pylist() for c in ("event_id", "user_id", "event_type", "value")]
    ts = table.column("ts").cast("int64").to_pylist()
    return list(zip(*cols, ts))
