"""Round-trip property harness: random messages x config matrix.

The reference's backbone test (``tests/test_conversion.py:53-134``:
3 message types x 36 configs x random data, equality modulo the
truncation model). Here:

* the FULL 32-config matrix runs through the rows-level round-trip
  (no JVM, fast, covers all converter code);
* a reduced matrix runs through real Spark DataFrames
  (createDataFrame -> collect);
* one config runs the fully distributed executor-side round-trip
  (wire bytes via mapInArrow).
"""

from __future__ import annotations

import itertools

import pytest

from protarrow_spark.config import ProtarrowSparkConfig
from protarrow_spark.conversion import (
    dataframe_to_messages,
    messages_to_dataframe,
    messages_to_rows,
    rows_to_messages,
)
from protarrow_spark.conversion.distributed import proto_roundtrip
from protarrow_spark.proto import fixtures
from protarrow_spark.proto.model import Field, Kind, MessageType
from tests.random_messages import expected_roundtrip, random_messages

SHAPES = {
    "example": fixtures.EXAMPLE,
    "nested_example": fixtures.NESTED_EXAMPLE,
    "simple_nested": MessageType(
        "t.SimpleNested",
        (
            Field("id", 1, Kind.INT64),
            Field("inner", 2, Kind.MESSAGE, message=fixtures.NESTED),
            Field("inners", 3, Kind.MESSAGE, repeated=True, message=fixtures.NESTED),
        ),
    ),
}

FULL_MATRIX = [
    ProtarrowSparkConfig(
        enum_type=e, uint64_type=u, timestamp_type=t, duration_type=d, map_as_list=m
    )
    for e, u, t, d, m in itertools.product(
        ["int", "string"],
        ["decimal", "long"],
        ["timestamp", "long_nanos"],
        ["interval", "long_nanos"],
        [False, True],
    )
]

SPARK_MATRIX = [
    ProtarrowSparkConfig(),
    ProtarrowSparkConfig(enum_type="string", uint64_type="long"),
    ProtarrowSparkConfig(
        timestamp_type="long_nanos", duration_type="long_nanos", map_as_list=True
    ),
    ProtarrowSparkConfig(
        list_nullable=True, map_nullable=True,
        list_value_nullable=True, map_value_nullable=True,
    ),
]


def _cfg_id(cfg: ProtarrowSparkConfig) -> str:
    return (
        f"{cfg.enum_type}-{cfg.uint64_type}-{cfg.timestamp_type}"
        f"-{cfg.duration_type}-{'mal' if cfg.map_as_list else 'map'}"
    )


@pytest.mark.parametrize("shape", list(SHAPES), ids=str)
@pytest.mark.parametrize("cfg", FULL_MATRIX, ids=_cfg_id)
def test_rows_roundtrip_full_matrix(shape: str, cfg: ProtarrowSparkConfig) -> None:
    mtype = SHAPES[shape]
    msgs = random_messages(mtype, 20, seed=hash((shape, _cfg_id(cfg))) % 10_000)
    rows = messages_to_rows(msgs, mtype, cfg)
    back = rows_to_messages(rows, mtype, cfg)
    expected = [expected_roundtrip(m, cfg) for m in msgs]
    assert back == expected


@pytest.mark.parametrize("shape", list(SHAPES), ids=str)
@pytest.mark.parametrize("cfg", SPARK_MATRIX, ids=_cfg_id)
def test_dataframe_roundtrip(spark, shape: str, cfg: ProtarrowSparkConfig) -> None:
    mtype = SHAPES[shape]
    msgs = random_messages(mtype, 10, seed=42)
    df = messages_to_dataframe(spark, msgs, mtype, cfg)
    back = dataframe_to_messages(df, mtype, cfg)
    assert back == [expected_roundtrip(m, cfg) for m in msgs]


def test_distributed_wire_roundtrip(spark) -> None:
    cfg = ProtarrowSparkConfig()
    mtype = SHAPES["simple_nested"]
    msgs = random_messages(mtype, 50, seed=7)
    for i, m in enumerate(msgs):
        m.id = i  # unique sort key (plain int64 can randomly collide at 0)
    df = messages_to_dataframe(spark, msgs, mtype, cfg).repartition(4)
    out = proto_roundtrip(df, mtype, cfg)
    back = sorted(dataframe_to_messages(out, mtype, cfg), key=lambda m: m.id)
    assert back == sorted(
        (expected_roundtrip(m, cfg) for m in msgs), key=lambda m: m.id
    )
