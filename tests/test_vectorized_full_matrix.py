"""The reference's full-coverage benchmark message (EXAMPLE — every
proto kind, repeated, maps, WKTs, nested; ``protos/bench.proto:24-173``
equivalent, fixtures.py) through BOTH vectorized codec halves: with
the r10 scope complete, the whole message compiles and runs columnar
in every config mode, byte-identical (encode) and value-identical
(decode) to the compiled row paths over the random-message matrix."""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd
import pytest

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion.distributed import (
    compile_row_to_wire,
    compile_wire_to_row,
)
from protarrow_spark.conversion.encode import messages_to_rows
from protarrow_spark.conversion.vectorized import compile_batch_to_wire
from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch
from protarrow_spark.proto import fixtures
from protarrow_spark.proto.message import serialize

CONFIGS = [
    ProtarrowSparkConfig(),
    ProtarrowSparkConfig(enum_type="string", uint64_type="long"),
    ProtarrowSparkConfig(
        timestamp_type="long_nanos",
        duration_type="long_nanos",
        map_as_list=True,
    ),
]


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


@pytest.mark.parametrize("cfg", CONFIGS, ids=["default", "str-long", "nanos-maplist"])
@pytest.mark.parametrize("shape", ["EXAMPLE", "NESTED_EXAMPLE"])
def test_full_matrix_compiles_and_encodes_identically(shape, cfg):
    from tests.random_messages import random_messages

    mtype = getattr(fixtures, shape)
    msgs = random_messages(mtype, 40, seed=7)
    rows = messages_to_rows(msgs, mtype, cfg)
    be = compile_batch_to_wire(mtype, cfg)
    assert be is not None, "full-coverage shape must compile vectorized"
    re_ = compile_row_to_wire(mtype, cfg)
    cols = [
        pd.Series([r[j] for r in rows], dtype=object)
        for j in range(len(mtype.fields))
    ]
    fast = be(cols)
    slow = [re_(r) for r in rows]
    bad = [i for i, (a, b) in enumerate(zip(fast, slow)) if a != b]
    assert not bad, f"{len(bad)} byte mismatches, first row {bad[0]}"


@pytest.mark.parametrize("cfg", CONFIGS, ids=["default", "str-long", "nanos-maplist"])
@pytest.mark.parametrize("shape", ["EXAMPLE", "NESTED_EXAMPLE"])
def test_full_matrix_spark_shaped_cells_encode_identically(shape, cfg):
    """The same rows in the cell forms a Spark worker hands the
    encoder: one Arrow batch of the rows, read back as
    ``distributed._pandas_columns`` reads it (ndarray list cells,
    ``(k, v)`` tuple maps or key/value dict entries, dict structs)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from protarrow_spark.conversion.distributed import _pandas_columns
    from protarrow_spark.schema import message_type_to_schema
    from tests.random_messages import random_messages

    mtype = getattr(fixtures, shape)
    rows = messages_to_rows(random_messages(mtype, 40, seed=7), mtype, cfg)
    arrow_schema = to_arrow_schema(message_type_to_schema(mtype, cfg))
    batch = pa.RecordBatch.from_struct_array(
        pa.array(rows, type=pa.struct(list(arrow_schema)))
    )
    cols = _pandas_columns(batch, [f.name for f in mtype.fields])
    assert any(
        isinstance(c, np.ndarray) for col in cols for c in col
    ), "list cells must arrive as ndarrays"
    fast = compile_batch_to_wire(mtype, cfg)(cols)
    re_ = compile_row_to_wire(mtype, cfg)
    slow = [re_(r) for r in rows]
    bad = [i for i, (a, b) in enumerate(zip(fast, slow)) if a != b]
    assert not bad, f"{len(bad)} byte mismatches, first row {bad[0]}"


@pytest.mark.parametrize("cfg", CONFIGS, ids=["default", "str-long", "nanos-maplist"])
@pytest.mark.parametrize("shape", ["EXAMPLE", "NESTED_EXAMPLE"])
def test_full_matrix_spark_shaped_cells_row_encode_identically(shape, cfg):
    """The row-path twin of the test above: the row encoder is the
    fallback for a batch the kernel refuses, so it must read the same
    worker cells (``datetime64``/``timedelta64`` items of repeated
    Timestamp and Duration ndarrays included) to the batch bytes."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from protarrow_spark.conversion.distributed import _pandas_columns
    from protarrow_spark.schema import message_type_to_schema
    from tests.random_messages import random_messages

    mtype = getattr(fixtures, shape)
    rows = messages_to_rows(random_messages(mtype, 40, seed=7), mtype, cfg)
    arrow_schema = to_arrow_schema(message_type_to_schema(mtype, cfg))
    batch = pa.RecordBatch.from_struct_array(
        pa.array(rows, type=pa.struct(list(arrow_schema)))
    )
    cols = _pandas_columns(batch, [f.name for f in mtype.fields])
    fast = compile_batch_to_wire(mtype, cfg)(cols)
    re_ = compile_row_to_wire(mtype, cfg)
    slow = [re_(r) for r in zip(*cols)]
    bad = [i for i, (a, b) in enumerate(zip(fast, slow)) if a != b]
    assert not bad, f"{len(bad)} byte mismatches, first row {bad[0]}"


def test_row_codec_reads_numpy_temporal_items_in_microseconds():
    from protarrow_spark.conversion.decode import _duration_decoder, _timestamp_us

    us = np.datetime64("2020-01-01T00:00:00.000001", "us")
    assert _timestamp_us(us) == 1_577_836_800_000_001
    assert _timestamp_us(us.astype("datetime64[ns]")) == 1_577_836_800_000_001
    duration = _duration_decoder(ProtarrowSparkConfig())
    for v in (np.timedelta64(3_000_001, "us"), np.timedelta64(3_000_001_000, "ns")):
        assert duration(v)._values == {"seconds": 3, "nanos": 1_000}


@pytest.mark.parametrize("cfg", CONFIGS, ids=["default", "str-long", "nanos-maplist"])
@pytest.mark.parametrize("shape", ["EXAMPLE", "NESTED_EXAMPLE"])
def test_full_matrix_decodes_identically(shape, cfg):
    from tests.random_messages import random_messages

    mtype = getattr(fixtures, shape)
    msgs = random_messages(mtype, 40, seed=11)
    wires = [serialize(m) for m in msgs] + [b""]
    db = compile_wire_to_batch(mtype, cfg)
    assert db is not None, "full-coverage shape must compile vectorized"
    dr = compile_wire_to_row(mtype, cfg)
    cols, bad = db(wires)
    assert bad is None
    for i, w in enumerate(wires):
        slow = dr(w)
        for j, f in enumerate(mtype.fields):
            a = _cell(cols[j], i)
            assert _eq(a, slow[j]), (
                f"{shape} row {i} field {f.name}: {a!r} != {slow[j]!r}"
            )


@pytest.mark.parametrize("seed", [870, 871])
def test_full_matrix_corrupt_permissive_parity(seed):
    import struct

    from protarrow_spark.conversion.vectorized import Unvectorizable
    from tests.random_messages import random_messages

    cfg = ProtarrowSparkConfig()
    mtype = fixtures.EXAMPLE
    msgs = random_messages(mtype, 120, seed=seed)
    rng = np.random.default_rng(seed)
    wires = []
    for i, m in enumerate(msgs):
        b = bytearray(serialize(m))
        k = i % 4
        if k == 0 and b:
            b[int(rng.integers(0, len(b)))] ^= int(rng.integers(1, 256))
        elif k == 1 and b:
            b = b[: int(rng.integers(0, len(b)))]
        wires.append(bytes(b))
    dr = compile_wire_to_row(mtype, cfg)
    db = compile_wire_to_batch(mtype, cfg, permissive=True)
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
        assert not bad[i], f"row {i}: batch nulled, row path decoded"
        for j, f in enumerate(mtype.fields):
            assert _eq(_cell(cols[j], i), s[j]), f"row {i} field {f.name}"
