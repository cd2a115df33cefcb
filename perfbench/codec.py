"""``codec_kernel``: the numpy batch codec and the row codec, no Spark.

The operations run in one forked worker process per task slot, each on
its own copy of the inputs, as Spark's Python workers run the codec.
An operation's time is the mean of its workers' times: the host's
cores change speed under other tenants' load, so one process alone is
a noisy sample, and the slowest of several is noisier still. Each pass
encodes and then decodes two shapes with the columnar kernels
(``compile_batch_to_wire`` / ``compile_wire_to_batch``), in batches of
10,000 rows as a Spark Python worker receives them:

* ``flat``: 40,000 ``Event`` records (``queries.conversion.EVENT_MT``)
  built from a seeded ``events`` parquet file;
* ``example``: 400 ``fixtures.EXAMPLE`` messages, the full type
  matrix (every scalar kind, repeated, maps, oneof, wrappers, WKTs).

A slice of both shapes also goes through the row codec
(``compile_row_to_wire`` / ``compile_wire_to_row``), and 300 EXAMPLE
messages go through ``messages_to_rows`` and back through
``rows_to_messages``.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import wire
from cells import cells_equal, ts_micros
from passes import Op, Timed
from spans import per_pass, warm_median

N_FLAT = 40_000
N_EXAMPLE = 400
BATCH = 10_000
ROW_FLAT = 2_000
ROW_EXAMPLE = 100
N_MESSAGES = 300
#: Cold passes, each in freshly forked workers; ``cold_pass_s`` is their
#: median, since one pass of about a second is a single noisy sample.
COLD_PASSES = 3
#: Set-ups, the run's own and the rest each in a fresh interpreter;
#: ``setup_s`` is their median, as one set-up of under two seconds
#: read from 1.3 to 2.1 s between runs.
SETUP_RUNS = 3


def _batches(cols: list, n: int) -> list[list]:
    return [
        [c.iloc[i : i + BATCH].reset_index(drop=True) for c in cols]
        for i in range(0, n, BATCH)
    ]


def encode_batches(tracer, shape, mtype, batches):
    """Compile once, then encode batch by batch; a batch the kernel
    refuses (``Unvectorizable``) takes the row path, as in a worker.
    Returns ``(bytes per row, fallback batch count)``."""
    from protarrow_spark.conversion.distributed import compile_row_to_wire
    from protarrow_spark.conversion.vectorized import Unvectorizable, compile_batch_to_wire

    with tracer.span(f"vectorized.compile.{shape}"):
        enc = compile_batch_to_wire(mtype)
    out, fallback, row = [], 0, None
    for cols in batches:
        with tracer.span(f"vectorized.encode.{shape}"):
            try:
                if enc is None:
                    raise Unvectorizable(mtype.full_name)
                out.extend(enc(cols))
                continue
            except Unvectorizable:
                fallback += 1
        row = row or compile_row_to_wire(mtype)
        with tracer.span("distributed.row_encode"):
            out.extend(row(rec) for rec in zip(*cols))
    return out, fallback


def decode_batches(tracer, shape, mtype, wire_rows):
    """Compile once, then decode batch by batch (the row path when the
    kernel declines the shape). Returns one list of columns per batch."""
    from protarrow_spark.conversion.distributed import compile_wire_to_row
    from protarrow_spark.conversion.vectorized_decode import compile_wire_to_batch

    with tracer.span(f"vectorized_decode.compile.{shape}"):
        dec = compile_wire_to_batch(mtype)
    row = compile_wire_to_row(mtype) if dec is None else None
    out = []
    for i in range(0, len(wire_rows), BATCH):
        chunk = wire_rows[i : i + BATCH]
        if dec is not None:
            with tracer.span(f"vectorized_decode.decode.{shape}"):
                out.append(dec(chunk)[0])
        else:
            with tracer.span("distributed.row_decode"):
                out.append(list(zip(*(row(b) for b in chunk))))
    return out


def _columns(batches: list) -> list[list]:
    """Per-batch columns -> one list per field."""
    return [[v for cols in batches for v in cols[j]] for j in range(len(batches[0]))]


def setup(ctx: dict) -> list[Op]:
    from protarrow_spark.conversion.encode import messages_to_rows
    from protarrow_spark.proto.fixtures import EXAMPLE
    from protarrow_spark.queries.conversion import EVENT_MT

    tracer, seed = ctx["tracer"], ctx["seed"]
    path = os.path.join(ctx["work"], "events_flat.parquet")
    pq.write_table(gen.events_table(np.random.default_rng(seed), N_FLAT), path)
    src = pq.read_table(path)
    df = src.to_pandas()
    # Spark hands a Python worker nanosecond pandas timestamps.
    df["ts"] = df["ts"].astype("datetime64[ns]")
    flat_cols = [df[f.name] for f in EVENT_MT.fields]
    messages = gen.example_messages(seed, N_EXAMPLE)
    ex_rows = messages_to_rows(messages, EXAMPLE)
    ex_cols = [
        pd.Series([r[j] for r in ex_rows], dtype=object) for j in range(len(EXAMPLE.fields))
    ]
    flat_rows = [tuple(r) for r in df.iloc[:ROW_FLAT][[f.name for f in EVENT_MT.fields]]
                 .astype(object).itertuples(index=False)]
    flat_rows = [r[:4] + (r[4].to_pydatetime(),) for r in flat_rows]
    ctx.update(
        source=src,
        flat_rows=flat_rows,
        ex_rows=ex_rows,
        messages=messages[:N_MESSAGES],
        fallbacks={"flat": [], "example": []},
        digest={},
        wire_bytes={},
    )
    flat_b, ex_b = _batches(flat_cols, N_FLAT), _batches(ex_cols, N_EXAMPLE)
    state: dict = {}

    def row_encode():
        from protarrow_spark.conversion.distributed import compile_row_to_wire

        with tracer.span("distributed.row_encode"):
            ef, ee = compile_row_to_wire(EVENT_MT), compile_row_to_wire(EXAMPLE)
            return [ef(r) for r in flat_rows], [ee(r) for r in ex_rows[:ROW_EXAMPLE]]

    def row_decode():
        from protarrow_spark.conversion.distributed import compile_wire_to_row

        with tracer.span("distributed.row_decode"):
            df_, de = compile_wire_to_row(EVENT_MT), compile_wire_to_row(EXAMPLE)
            return ([df_(b) for b in state["flat"][0][:ROW_FLAT]],
                    [de(b) for b in state["example"][0][:ROW_EXAMPLE]])

    def message_roundtrip():
        from protarrow_spark.conversion.decode import rows_to_messages

        with tracer.span("encode.messages_to_rows"):
            rows = messages_to_rows(ctx["messages"], EXAMPLE)
        with tracer.span("decode.rows_to_messages"):
            return rows_to_messages(rows, EXAMPLE)

    def encode(shape, mtype, batches):
        def fn():
            state[shape] = encode_batches(tracer, shape, mtype, batches)
            return state[shape]
        return fn

    local = {
        "flat.encode": encode("flat", EVENT_MT, flat_b),
        "flat.decode": lambda: decode_batches(tracer, "flat", EVENT_MT, state["flat"][0]),
        "example.encode": encode("example", EXAMPLE, ex_b),
        "example.decode": lambda: decode_batches(tracer, "example", EXAMPLE, state["example"][0]),
        "row.encode": row_encode,
        "row.decode": row_decode,
        "messages.roundtrip": message_roundtrip,
    }
    # Message objects do not pickle: worker 0 reports the cold pass's
    # message round trip as the result of comparing it with the input.
    portable = {"messages.roundtrip": lambda back: back == ctx["messages"]}
    if ctx.get("pool") is not None:
        ctx["pool"].close()
    pool = ctx["pool"] = WorkerPool(local, portable, ctx["slots"], tracer)

    def remote(name):
        def fn():
            res = pool.run(name)
            if name in ("flat.encode", "example.encode"):
                ctx["fallbacks"][name.split(".")[0]].append(res.value[0][1])
            return res
        return fn

    n = ctx["slots"]
    records = {
        "flat.encode": (N_FLAT, ("encode",)),
        "flat.decode": (N_FLAT, ("decode",)),
        "example.encode": (N_EXAMPLE, ("encode",)),
        "example.decode": (N_EXAMPLE, ("decode",)),
        "row.encode": (ROW_FLAT + ROW_EXAMPLE, ()),
        "row.decode": (ROW_FLAT + ROW_EXAMPLE, ()),
        "messages.roundtrip": (N_MESSAGES, ("roundtrip",)),
    }
    return [Op(name, remote(name), r * n, kinds) for name, (r, kinds) in records.items()]


def _summary(name: str, out):
    """What a warm pass sends back: the digest and fallback count of an
    encode's bytes, nothing for the other operations."""
    return (_digest(out[0]), out[1]) if name.endswith(".encode") else None


def _serve(conn, local: dict, portable: dict, idx: int, tracer) -> None:
    """Worker loop: time the named operation on this process's copy of
    the inputs and send back ``(ok, seconds, output)``: the whole output
    from worker 0 on the cold pass, a summary otherwise. At the end send
    back the spans (worker 0) and the peak resident memory."""
    while True:
        msg = conn.recv()
        if msg is None:
            with open("/proc/self/status") as fh:
                hwm = next((int(x.split()[1]) / 1024.0 for x in fh if x.startswith("VmHWM:")), 0.0)
            conn.send((tracer.spans if idx == 0 else [], hwm))
            return
        name, pass_no = msg
        tracer.pass_no = pass_no
        try:
            a = time.perf_counter()
            out = local[name]()
            t = time.perf_counter() - a
            if pass_no == 0 and idx == 0:
                conn.send((True, t, portable.get(name, lambda o: o)(out)))
            else:
                conn.send((True, t, _summary(name, out)))
        except Exception as exc:
            conn.send((False, 0.0, f"{type(exc).__name__}: {exc}"))


class WorkerPool:
    """One forked process per task slot, each holding a copy of the
    inputs, all running the same operation at once. Each worker
    times the operation itself, so neither the fork on the first call
    nor the transfer of outputs counts in an operation's time."""

    def __init__(self, local: dict, portable: dict, n: int, tracer):
        self.local, self.portable, self.n, self.tracer = local, portable, n, tracer
        self.conns: list = []
        self.procs: list = []
        self.spans: list = []
        self.hwm_mb = 0.0

    def run(self, name: str) -> Timed:
        """Run ``name`` in every worker at once; its time is the mean of
        the workers' times, its value the list of the workers' replies."""
        import multiprocessing as mp

        if not self.procs:
            fork = mp.get_context("fork")
            for i in range(self.n):
                a, b = fork.Pipe()
                p = fork.Process(
                    target=_serve, args=(b, self.local, self.portable, i, self.tracer), daemon=True
                )
                p.start()
                self.conns.append(a)
                self.procs.append(p)
        for c in self.conns:
            c.send((name, self.tracer.pass_no))
        replies = [c.recv() for c in self.conns]
        for ok, _, val in replies:
            if not ok:
                raise RuntimeError(val)
        return Timed([val for _, _, val in replies], sum(t for _, t, _ in replies) / self.n)

    def close(self) -> None:
        """Collect worker 0's spans and the workers' peak memory, then
        wait for every worker to exit."""
        for c in self.conns:
            try:
                c.send(None)
                reply = c.recv()
                while len(reply) != 2:  # an operation's reply left unread
                    reply = c.recv()
                self.spans += reply[0]
                self.hwm_mb = max(self.hwm_mb, reply[1])
            except (OSError, EOFError):
                pass
        for p in self.procs:
            p.join(timeout=5)
            if p.is_alive():
                p.kill()
                p.join()
        self.conns, self.procs = [], []


def restart(ctx: dict) -> None:
    """End the workers; the next pass forks fresh ones, which pay codec
    compilation and first touches again."""
    ctx["pool"].close()


def finish(ctx: dict) -> None:
    pool = ctx["pool"]
    pool.close()
    ctx["tracer"].spans += pool.spans
    ctx["worker_hwm_mb"] = pool.hwm_mb


def close(ctx: dict) -> None:
    if ctx.get("pool") is not None:
        ctx["pool"].close()


def check(ctx: dict, res: dict) -> list[str]:
    """Independent checks on the cold pass's outputs."""
    problems = []
    # worker 0 sends its whole output on the cold pass, the others a summary
    out = {k: r[0] for k, (_, r, e) in res.items() if e is None}
    for shape in ("flat", "example"):
        if f"{shape}.encode" in out:
            wire_rows = out[f"{shape}.encode"][0]
            ctx["digest"][shape] = _digest(wire_rows)
            ctx["wire_bytes"][shape] = sum(len(b) for b in wire_rows)
    problems += _same_bytes(ctx, {k: r[1:] for k, (_, r, e) in res.items() if e is None})
    src_rows = wire.event_rows(ctx["source"])
    if "flat.encode" in out:
        flat_wire = out["flat.encode"][0]
        bad = sum(1 for b, s in zip(flat_wire, src_rows) if wire.read_event(b) != s)
        if bad or len(flat_wire) != len(src_rows):
            problems.append(f"flat encode: {bad} records differ from the parquet source")
    if "flat.decode" in out:
        ev_id, user, etype, value, ts = _columns(out["flat.decode"])
        got = list(zip(
            np.asarray(ev_id).tolist(), np.asarray(user).tolist(), list(etype),
            np.asarray(value).tolist(), ts_micros(ts),
        ))
        bad = sum(1 for g, s in zip(got, src_rows) if g != s)
        if bad or len(got) != len(src_rows):
            problems.append(f"flat decode: {bad} records differ from the parquet source")
    if "example.decode" in out:
        rows = ctx["ex_rows"]
        cols = _columns(out["example.decode"])
        bad = sum(
            1 for j, col in enumerate(cols) for i in range(len(rows))
            if not cells_equal(col[i], rows[i][j])
        )
        if bad:
            problems.append(f"example: decode(encode(rows)) differs in {bad} cells")
    if "row.encode" in out and "flat.encode" in out and "example.encode" in out:
        f, e = out["row.encode"]
        if f != out["flat.encode"][0][:ROW_FLAT] or e != out["example.encode"][0][:ROW_EXAMPLE]:
            problems.append("row codec bytes differ from the batch kernel's bytes")
    if "row.decode" in out:
        f, e = out["row.decode"]
        want = ctx["flat_rows"] + ctx["ex_rows"][:ROW_EXAMPLE]
        bad = sum(1 for g, w in zip(f + e, want) if not cells_equal(list(g), list(w)))
        if bad:
            problems.append(f"row decode: {bad} rows differ from the input rows")
    if out.get("messages.roundtrip") is False:
        problems.append("messages_to_rows -> rows_to_messages changed the messages")
    return problems


def _digest(rows: list) -> bytes:
    h = hashlib.blake2b()
    for b in rows:
        h.update(len(b).to_bytes(4, "little"))
        h.update(b)
    return h.digest()


def _same_bytes(ctx: dict, summaries: dict) -> list[str]:
    """``summaries``: op name -> per-worker ``(digest, fallbacks)``."""
    return [
        f"{shape}.encode: a worker's bytes differ from the cold pass"
        for shape, want in ctx["digest"].items()
        if any(d != want for d, _ in summaries.get(f"{shape}.encode", ()))
    ]


def check_repeat(ctx: dict, res: dict) -> list[str]:
    """Every worker, on every warm pass, must write the cold pass's bytes."""
    return _same_bytes(ctx, {k: r for k, (_, r, e) in res.items() if e is None})


def layer_metrics(ctx: dict, tracer, passes: list[int]) -> dict:
    """Per-layer metrics over the warm passes ``passes``."""
    import statistics

    t = per_pass(tracer)
    m = {}
    for shape in ("flat", "example"):
        m[f"vectorized.compile_s.{shape}"] = warm_median(t, f"vectorized.compile.{shape}", passes)
        m[f"vectorized.encode_s.{shape}"] = warm_median(t, f"vectorized.encode.{shape}", passes)
        m[f"vectorized_decode.compile_s.{shape}"] = warm_median(t, f"vectorized_decode.compile.{shape}", passes)
        m[f"vectorized_decode.decode_s.{shape}"] = warm_median(t, f"vectorized_decode.decode.{shape}", passes)
        # one entry per pass, indexed by pass number
        warm_fallbacks = [ctx["fallbacks"][shape][p] for p in passes]
        m[f"vectorized.fallback_batches.{shape}"] = statistics.median(warm_fallbacks) if warm_fallbacks else 0
        m[f"wire.bytes.{shape}"] = ctx["wire_bytes"].get(shape, 0)
    for name in ("distributed.row_encode", "distributed.row_decode",
                 "encode.messages_to_rows", "decode.rows_to_messages"):
        m[f"{name}_s"] = warm_median(t, name, passes)
    return m
