"""Seeded input generators.

Every input the benchmark feeds the program is made here from the
``--seed`` argument: the same seed gives byte-identical tables and
messages. The tables follow the column names, types and value ranges
of the engine's star schema (``protarrow_spark.sources.tables``). The
message generator is the benchmark's own rather than
``tests/random_messages.py``, so that a change to a test helper cannot
change the benchmark's inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * 86_400_000_000


def _dates(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """The ``events`` fact table: increasing timestamps from 2024-01-01
    with exponential gaps (mean ~4 min), 150 users, 5 event types."""
    gaps = rng.exponential(259e6, n).astype(np.int64) + 1
    ts = _us(dt.date(2024, 1, 1)) + np.cumsum(gaps)
    value = np.round(np.minimum(rng.exponential(50.0, n), 490.0), 2) + 0.01
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(value, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about one in twenty is an earlier
    document with two words changed and `` dup`` appended, so the
    dedup queries have near-duplicates to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(words) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, 30, k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit float32 vectors around ten label centroids."""
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0.0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def star_tables(seed: int) -> dict[str, pa.Table]:
    """All ten star-schema tables at the sf0.001 row counts (6,000
    lineitems, 1,000 events, 500 documents)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_ev = 1500, 6000, 1000
    n_doc = n_emb = 500
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": _dates(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            }
        ),
        "events": events_table(rng, n_ev),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return tables


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Full type-matrix messages (fixtures.EXAMPLE)
# ---------------------------------------------------------------------------

_STRINGS = ["", "alpha", "béta", "Ω", "spark row", "x" * 40]


def _scalar(r: random.Random, kind) -> object:
    from protarrow_spark.proto.model import Kind

    if kind is Kind.DOUBLE:
        return r.choice([0.0, -2.5, r.uniform(-1e9, 1e9)])
    if kind is Kind.FLOAT:
        # float32-exact values: the message holds what the wire carries
        return float(np.float32(r.choice([0.0, 1.5, r.uniform(-1e5, 1e5)])))
    if kind in (Kind.INT32, Kind.SINT32, Kind.SFIXED32):
        return r.randint(-(2**31), 2**31 - 1)
    if kind in (Kind.INT64, Kind.SINT64, Kind.SFIXED64):
        return r.randint(-(2**63), 2**63 - 1)
    if kind in (Kind.UINT32, Kind.FIXED32):
        return r.randint(0, 2**32 - 1)
    if kind in (Kind.UINT64, Kind.FIXED64):
        return r.randint(0, 2**64 - 1)
    if kind is Kind.BOOL:
        return r.random() < 0.5
    if kind is Kind.STRING:
        return r.choice(_STRINGS)
    if kind is Kind.BYTES:
        return bytes(r.randrange(256) for _ in range(r.randrange(6)))
    raise TypeError(kind)


def _wkt(r: random.Random, mt):
    from protarrow_spark.proto.message import Message
    from protarrow_spark.proto import model as M

    name = mt.full_name
    if name == M.TIMESTAMP.full_name:
        # whole microseconds: the default config stores µs timestamps
        return Message(mt, seconds=r.randint(-2_000_000_000, 4_000_000_000),
                       nanos=r.randrange(1_000_000) * 1000)
    if name == M.DURATION.full_name:
        s = r.randint(-10**9, 10**9)
        ns = r.randrange(1_000_000) * 1000
        return Message(mt, seconds=s, nanos=-ns if s < 0 else ns)
    if name == M.DATE.full_name:
        return Message(mt, year=r.randint(1, 9999), month=r.randint(1, 12), day=r.randint(1, 28))
    if name == M.TIME_OF_DAY.full_name:
        return Message(mt, hours=r.randrange(24), minutes=r.randrange(60),
                       seconds=r.randrange(60), nanos=r.randrange(1_000_000_000))
    if name == M.EMPTY.full_name:
        return Message(mt)
    return Message(mt, value=_scalar(r, M.WRAPPER_TYPES[name]))


def _value(r: random.Random, field, depth: int):
    from protarrow_spark.proto.model import Kind, WRAPPER_TYPES

    if field.kind is Kind.ENUM:
        return r.choice([n for n, _ in field.enum.values])
    if field.kind is Kind.MESSAGE:
        mt = field.message
        if mt.full_name in WRAPPER_TYPES or mt.full_name.startswith("google."):
            return _wkt(r, mt)
        return _message(r, mt, depth + 1)
    return _scalar(r, field.kind)


def _message(r: random.Random, mt, depth: int = 0):
    from protarrow_spark.proto.message import Message

    msg = Message(mt)
    pick = {g: (r.choice(m).name if r.random() < 0.8 else None) for g, m in mt.oneofs.items()}
    for f in mt.fields:
        if f.oneof is not None:
            if pick[f.oneof] == f.name:
                setattr(msg, f.name, _value(r, f, depth))
        elif f.is_map:
            key_f, val_f = f.message.fields_by_number[1], f.message.fields_by_number[2]
            n = r.choice([0, 1, 2, 3])
            if n:
                setattr(msg, f.name, {_scalar(r, key_f.kind): _value(r, val_f, depth) for _ in range(n)})
        elif f.repeated:
            n = r.choice([0, 1, 2, 3])
            if n:
                setattr(msg, f.name, [_value(r, f, depth) for _ in range(n)])
        elif r.random() < 0.8:
            setattr(msg, f.name, _value(r, f, depth))
    return msg


def example_messages(seed: int, n: int) -> list:
    """``n`` random ``fixtures.EXAMPLE`` messages covering presence,
    empty and filled repeated fields, maps, oneofs and every WKT."""
    from protarrow_spark.proto.fixtures import EXAMPLE

    r = random.Random(seed)
    return [_message(r, EXAMPLE) for _ in range(n)]
