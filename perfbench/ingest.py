"""The conversion operations of ``spark_mix``: the conversion layer on Spark.

The kernels of ``codec_kernel`` run here behind the ``mapInPandas``
Arrow boundary and task scheduling, with writes beside reads. A pass:

1. ``decode_proto_bytes`` over a Kafka-shaped parquet source
   (``offset`` + binary ``value``) of 100,000 ``Event`` records;
2. ``encode_proto_bytes`` of the same events (flat shape);

``encode_proto_bytes`` of the nested EXAMPLE shape is left out: on
Spark it loses int64 precision (see the README), so no run of it
could pass the byte check.
3. ``cast_dataframe`` of a misshapen events source (wrong order and
   types, an unknown column, ``ts`` missing);
4. ``messages_to_dataframe`` -> ``dataframe_to_messages`` of 300
   ``fixtures.EXAMPLE`` messages (the nested shape);
5. a keyed proto sink, ``encode_proto_bytes(..., keep_cols=["event_id"])``
   over 1,000 events, whose kept key is also a message field. It fails
   on every run (``KeyError: 'event_id'`` in the Python worker) and is
   counted in ``failed``; it is small and last so that, once it works,
   its time is a small part of ``pass_s``. Its time includes a one-row
   ``mapInPandas`` job per slot after it, which starts again the Python
   workers the failure takes down.

Every DataFrame is run to Spark's ``noop`` sink, so the timed work is
the conversion itself, not a collect.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from cells import ts_micros
from passes import Op
from spans import per_pass, warm_median

N_FLAT = 50_000
N_MESSAGES = 100
N_KEYED = 1_000
FILES = 4
EXPECTED_FAILURES = ("keyed_sink",)


def _write_split(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i}.parquet"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(ctx: dict) -> list[Op]:
    import pyspark.sql.functions as F

    from protarrow_spark.conversion import (
        cast_dataframe,
        dataframe_to_messages,
        decode_proto_bytes,
        encode_proto_bytes,
        messages_to_dataframe,
    )
    from protarrow_spark.conversion.vectorized import compile_batch_to_wire
    from protarrow_spark.proto.fixtures import EXAMPLE
    from protarrow_spark.queries.conversion import EVENT_MT
    from protarrow_spark.schema import message_type_to_schema

    spark, tracer, seed, work = ctx["spark"], ctx["tracer"], ctx["seed"], ctx["work"]
    names = [f.name for f in EVENT_MT.fields]
    events = gen.events_table(np.random.default_rng(seed), N_FLAT)
    events = events.append_column("offset", pa.array(np.arange(N_FLAT, dtype=np.int64)))
    _write_split(events, os.path.join(work, "ingest", "events"))
    pdf = events.select(names).to_pandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    value = compile_batch_to_wire(EVENT_MT)([pdf[c] for c in names])
    kafka = pa.table({"offset": events.column("offset"), "value": pa.array(value, pa.binary())})
    _write_split(kafka, os.path.join(work, "ingest", "kafka"))

    messages = gen.example_messages(seed, N_MESSAGES)
    ev_df = spark.read.parquet(os.path.join(work, "ingest", "events"))
    kafka_df = spark.read.parquet(os.path.join(work, "ingest", "kafka"))
    misshapen = ev_df.select(
        F.col("value").cast("string").alias("value"),
        F.col("user_id").cast("int").alias("user_id"),
        F.lit("junk").alias("extra"),
        F.col("event_id").cast("string").alias("event_id"),
        "event_type",
    )
    keyed_src = ev_df.where(F.col("offset") < N_KEYED).select(*names)
    ctx.update(
        events=events, kafka=kafka, messages=messages,
        ev_df=ev_df, kafka_df=kafka_df, misshapen=misshapen,
    )

    def decode():
        with tracer.span("distributed.decode_build"):
            df = decode_proto_bytes(kafka_df, "value", EVENT_MT, keep_cols=["offset"])
        with tracer.span("distributed.decode_exec"):
            _noop(df)

    flat_src = ev_df.select(*names)

    def encode():
        with tracer.span("distributed.encode_build"):
            df = encode_proto_bytes(flat_src, EVENT_MT)
        with tracer.span("distributed.encode_exec"):
            _noop(df)

    def cast():
        with tracer.span("schema.derive"):
            message_type_to_schema(EVENT_MT)
            message_type_to_schema(EXAMPLE)
        with tracer.span("cast.build"):
            df = cast_dataframe(misshapen, EVENT_MT)
        with tracer.span("cast.exec"):
            _noop(df)

    def roundtrip():
        with tracer.span("encode.messages_to_dataframe"):
            df = messages_to_dataframe(spark, ctx["messages"], EXAMPLE)
        with tracer.span("decode.dataframe_to_messages"):
            return dataframe_to_messages(df, EXAMPLE)

    restart_src = spark.range(0, ctx["slots"], 1, ctx["slots"])

    def keyed_sink():
        try:
            with tracer.span("distributed.keyed_sink_build"):
                df = encode_proto_bytes(keyed_src, EVENT_MT, keep_cols=["event_id"])
            with tracer.span("distributed.keyed_sink_exec"):
                return df.toPandas()
        finally:
            # The failed task takes the Python workers down; start them
            # again here, so the sink pays for that and not whichever
            # Python operation of the next pass comes first.
            with tracer.span("distributed.keyed_sink_restart"):
                _noop(restart_src.mapInPandas(lambda it: it, "id long"))

    return [
        Op("decode", decode, N_FLAT, ("decode",)),
        Op("encode", encode, N_FLAT, ("encode",)),
        Op("cast", cast, N_FLAT),
        Op("roundtrip", roundtrip, N_MESSAGES, ("roundtrip",)),
        Op("keyed_sink", keyed_sink, N_KEYED),
    ]


def _event_tuples(pdf, id_col="event_id") -> list[tuple]:
    return list(zip(
        pdf[id_col].tolist(), pdf["user_id"].tolist(), pdf["event_type"].tolist(),
        pdf["value"].tolist(), ts_micros(pdf["ts"]) if "ts" in pdf else [None] * len(pdf),
    ))


def check(ctx: dict, res: dict) -> list[str]:
    """Outputs of the cold pass's operations, collected apart from the
    timed runs and compared with values computed without the program."""
    from protarrow_spark.conversion import cast_dataframe, decode_proto_bytes, encode_proto_bytes
    from protarrow_spark.queries.conversion import EVENT_MT

    import pandas as pd

    problems = []
    events = ctx["events"].to_pandas()
    want = _event_tuples(events)
    names = [f.name for f in EVENT_MT.fields]

    got = decode_proto_bytes(ctx["kafka_df"], "value", EVENT_MT, keep_cols=["offset"]).toPandas()
    got = got.sort_values("offset").reset_index(drop=True)
    bad = sum(1 for g, w in zip(_event_tuples(got), want) if g != w)
    if bad or len(got) != len(want):
        problems.append(f"decode_proto_bytes: {bad} of {len(got)} records differ from the source")

    got = encode_proto_bytes(
        ctx["ev_df"].select("offset", *names), EVENT_MT, keep_cols=["offset"]
    ).toPandas().sort_values("offset")
    kernel = ctx["kafka"].column("value").to_pylist()
    if [bytes(b) for b in got["proto"]] != kernel:
        problems.append("encode_proto_bytes (flat): Spark bytes differ from the kernel's bytes")

    got = cast_dataframe(ctx["misshapen"], EVENT_MT).toPandas()
    if list(got.columns) != names:
        problems.append(f"cast_dataframe: columns {list(got.columns)}, want {names}")
    else:
        got = got.sort_values("event_id").reset_index(drop=True)
        exp = [w[:4] + (None,) for w in want]
        gt = list(zip(got["event_id"].tolist(), got["user_id"].tolist(), got["event_type"].tolist(),
                      got["value"].tolist(), [None if pd.isna(v) else v for v in got["ts"]]))
        bad = sum(1 for g, w in zip(gt, exp) if g != w)
        if bad or len(gt) != len(exp):
            problems.append(f"cast_dataframe: {bad} rows differ from the source")

    _, back, err = res["roundtrip"]
    if err is None and back != ctx["messages"]:
        problems.append("messages_to_dataframe -> dataframe_to_messages changed the messages")

    _, keyed, err = res["keyed_sink"]
    if err is None:
        keyed = keyed.sort_values("event_id")
        if [bytes(b) for b in keyed["proto"]] != kernel[:N_KEYED]:
            problems.append("keyed sink: bytes differ from the kernel's bytes")
    return problems


def check_repeat(ctx: dict, res: dict) -> list[str]:
    _, back, err = res["roundtrip"]
    if err is None and back != ctx["messages"]:
        return ["roundtrip: a warm pass changed the messages"]
    return []


def layer_metrics(ctx: dict, tracer, passes: list[int]) -> dict:
    """Per-layer metrics over the warm passes ``passes``."""
    t, jobs, tasks = per_pass(tracer), per_pass(tracer, "n_jobs"), per_pass(tracer, "tasks")
    m = {}
    for name in ("distributed.decode_build", "distributed.decode_exec",
                 "distributed.encode_build", "distributed.encode_exec",
                 "encode.messages_to_dataframe", "decode.dataframe_to_messages",
                 "cast.build", "cast.exec", "schema.derive"):
        m[f"{name}_s"] = warm_median(t, name, passes)
    dist = ("distributed.decode_build", "distributed.decode_exec",
            "distributed.encode_build", "distributed.encode_exec")
    m["distributed.jobs"] = sum(warm_median(jobs, n, passes) for n in dist)
    m["distributed.tasks"] = sum(warm_median(tasks, n, passes) for n in dist)
    return m
