"""Benchmark command: run one named workload in this process and print
its metrics as one JSON object on the last line of standard output.

    python3 perfbench/run.py --workload codec_kernel --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. It builds every input from
``--seed`` under ``.perfbench_runs/`` in the checkout, times the cold
pass (a workload may ask for several, each restarted, and gets their
median) and then whole warm passes until ``--seconds`` have gone (two at
least), checks the program's outputs against values computed apart
from the program, and removes its scratch files. With ``--trace 1`` it records spans
around each call into a layer and prints the per-layer metrics
instead of the end-to-end ones; the spans go to
``.perfbench_runs/trace_<workload>_s<seed>.json``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("codec_kernel", "spark_mix")
SPARK_WORKLOADS = ("spark_mix",)
#: Driver heap for local[N]; the program's own default pins 16g.
DRIVER_MEM_MB = 1024
#: Task slots: half the cores, so that the JVM's compiler and collector
#: threads and the driver do not contend with the tasks for them.
MAX_SLOTS = 2
#: Warm passes a run makes even when the first already fills --seconds,
#: so that no run's warm figures rest on one pass.
MIN_WARM = 2


def _process_age() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22),
    so interpreter start-up counts towards set-up time."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - T_START


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def _vm_hwm_mb() -> float:
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def prepare_env(work: str, spark: bool) -> dict:
    """Environment for the program and, on Spark workloads, its JVM and
    Python workers. Everything it writes stays under ``work``."""
    slots = max(1, min(len(os.sched_getaffinity(0)) // 2, MAX_SLOTS))
    mem_mb = min(DRIVER_MEM_MB, _mem_total_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    if spark:
        # The driver JVM compiles with C1 only (TieredStopAtLevel=1). With
        # C2, compilation took about 95 s of CPU in a 75 s run, on the
        # cores the tasks use, and passes kept getting faster for as many
        # passes as a run held, so a run's figures moved with how far its
        # compiler got. C1 spent about 15 s and was steady from the first
        # warm pass.
        conf = os.path.join(work, "conf")
        os.makedirs(conf, exist_ok=True)
        local = os.path.join(work, "spark-local")
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
            fh.write(
                f"spark.local.dir {local}\n"
                f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1\n"
                f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n"
                "spark.ui.showConsoleProgress false\n"
            )
        with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
            fh.write(
                "rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
            )
        env.update(
            SPARK_CONF_DIR=conf,
            SPARK_LOCAL_DIRS=local,
            SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
            SPARK_GRAFT_CPUS=str(slots),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
        )
    os.environ.update(env)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"slots": slots, "driver_mem_mb": mem_mb if spark else None, **env}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    runs = os.path.join(os.getcwd(), ".perfbench_runs")
    work = os.path.join(runs, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = ctx = None
    try:
        info = prepare_env(work, args.workload in SPARK_WORKLOADS)
        import protarrow_spark  # noqa: F401  (fails outside a checkout)

        from passes import rate, run_pass
        from spans import Tracer

        tracer = Tracer(bool(args.trace), args.workload)
        if args.workload == "codec_kernel":
            import codec as wl
        else:
            import sparkmix as wl
        if args.workload in SPARK_WORKLOADS:
            from protarrow_spark.session import get_spark

            a = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark("perfbench", int(os.environ["SPARK_GRAFT_CPUS"]))
            session_s = time.perf_counter() - a
            tracer.sc = spark.sparkContext
            info["spark"] = spark.version
        ctx = {
            "seed": args.seed,
            "work": work,
            "spark": spark,
            "tracer": tracer,
            "slots": info["slots"],
        }
        ops = wl.setup(ctx)
        setup_s = _process_age()
        if getattr(wl, "SETUP_RUNS", 1) > 1:
            ages = [setup_s] + [_fresh_setup(args.workload, args.seed)
                                for _ in range(wl.SETUP_RUNS - 1)]
            setup_s = statistics.median(ages)
        print("perfbench env: " + json.dumps(info, sort_keys=True), flush=True)

        # The inputs live for the whole run: move them out of the
        # collector's reach, so its pauses scale with the operations'
        # own garbage and not with the size of the inputs.
        gc.collect()
        gc.freeze()
        passes = []
        n_cold = getattr(wl, "COLD_PASSES", 1)
        problems = []
        t_check = t_warm = 0.0
        while True:
            if 0 < len(passes) < n_cold:
                wl.restart(ctx)
            tracer.pass_no = len(passes)
            wall, res = run_pass(ops)
            tracer.resolve_tasks()
            if passes:
                problems += wl.check_repeat(ctx, res)
            else:
                t_check = time.perf_counter()
                problems += wl.check(ctx, res)
                t_check = time.perf_counter() - t_check
            passes.append((wall, _times_only(res)))
            del res
            if len(passes) == n_cold:
                t_warm = time.perf_counter()
            elif len(passes) >= n_cold + MIN_WARM and time.perf_counter() - t_warm >= args.seconds:
                break
        cold_s = statistics.median(p for p, _ in passes[:n_cold])
        warm = passes[n_cold:]
        t_end = time.perf_counter()
        if hasattr(wl, "finish"):
            wl.finish(ctx)
        jvm_mb = _jvm_peak_mb(spark) if spark is not None else 0.0
        if spark is not None:
            mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
            info["jvm_gc_s"] = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3
            info["jvm_jit_s"] = mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

        attempted = len(ops) * len(passes)
        failed = sum(1 for _, res in passes for t, r, e in res.values() if e is not None)
        expected_fail = set(getattr(wl, "EXPECTED_FAILURES", ()))
        for _, res in passes:
            for name, (_, _, err) in res.items():
                if err is not None and name not in expected_fail:
                    problems.append(f"{name} failed: {type(err).__name__}: {err}"[:300])

        pass_s = statistics.median(p for p, _ in warm)
        if args.trace:
            values = wl.layer_metrics(ctx, tracer, list(range(n_cold, len(passes))))
            values["session.start_s"] = session_s if spark is not None else 0.0
            values["trace.pass_s"] = pass_s
            values["trace.spans"] = len(tracer.spans) / len(passes)
            metrics = fill_layers(values)
        else:
            per_op = {}
            for name in getattr(wl, "QUERIES", [op.name for op in ops]):
                times = [res[name][0] for _, res in warm if res[name][2] is None]
                if times:
                    per_op[name] = statistics.median(times)
            geo = math.exp(sum(math.log(t) for t in per_op.values()) / len(per_op))
            mem = _vm_hwm_mb() + ctx.get("worker_hwm_mb", 0.0) + jvm_mb
            metrics = {
                "setup_s": (setup_s, "s"),
                "cold_pass_s": (cold_s, "s"),
                "pass_s": (pass_s, "s"),
                "decode_records_per_s": (statistics.median(rate(ops, r, "decode") for _, r in warm), "1/s"),
                "encode_records_per_s": (statistics.median(rate(ops, r, "encode") for _, r in warm), "1/s"),
                "message_roundtrip_records_per_s": (
                    statistics.median(rate(ops, r, "roundtrip") for _, r in warm), "1/s"),
                "query_geomean_s": (geo, "s"),
                "peak_mem_mb": (mem, "MB"),
            }
        for p in problems[:20]:
            print("CHECK FAILED: " + p, file=sys.stderr)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "passes": len(passes),
            "cold_passes": n_cold,
            "pass_times_s": [p for p, _ in passes],
            "op_median_s": {k: statistics.median(res[k][0] for _, res in warm) for k in warm[0][1]},
            "env": info,
        }
        if args.trace:
            tracer.dump(os.path.join(runs, f"trace_{args.workload}_s{args.seed}.json"), summary)
        with open(os.path.join(runs, f"result_{args.workload}_s{args.seed}_t{args.trace}.json"), "w") as fh:
            json.dump({**summary, "metrics": {k: v for k, (v, _) in metrics.items()}}, fh)
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            if ctx is not None and hasattr(wl, "close"):
                wl.close(ctx)
            if spark is not None:
                spark.stop()
                _stop_gateway()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(
        f"perfbench phases: setup {setup_s:.1f} s, cold {cold_s:.1f} s, checks "
        f"{t_check:.1f} s, warm {t_end - t_warm:.1f} s, "
        f"teardown {time.perf_counter() - t_end:.1f} s",
        file=sys.stderr,
    )
    print(json.dumps(result), flush=True)
    return 0


def _fresh_setup(workload: str, seed: int) -> float:
    """The set-up of a workload without Spark, again in a fresh
    interpreter: its process age when the set-up is done, so that
    interpreter start, imports and first calls count as in the run's
    own set-up."""
    import subprocess

    code = f"import sys; sys.path.insert(0, {HERE!r}); import run; run.setup_only({workload!r}, {seed})"
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True)
    return float(out.stdout.split()[-1])


def setup_only(workload: str, seed: int) -> None:
    """Child of :func:`_fresh_setup`: set up, print the process age, clean up."""
    work = os.path.join(os.getcwd(), ".perfbench_runs", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        info = prepare_env(work, False)
        from spans import Tracer

        wl = __import__({"codec_kernel": "codec"}[workload])
        ctx = {"seed": seed, "work": work, "spark": None,
               "tracer": Tracer(False, workload), "slots": info["slots"]}
        wl.setup(ctx)
        print(_process_age(), flush=True)
        wl.close(ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _times_only(res: dict) -> dict:
    """A pass's results without the outputs, once they are checked."""
    return {k: (t, None, e) for k, (t, _, e) in res.items()}


def _jvm_peak_mb(spark) -> float:
    """Memory the JVM used at its peak: the peak use of each of its
    memory pools (heap generations, metaspace, code cache), plus the
    direct and mapped buffers in use. Unlike the JVM's resident size,
    this does not read the heap size the JVM was given."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    used = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans())
    bufs = mf.getPlatformMXBeans(
        spark.sparkContext._jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    used += sum(b.getMemoryUsed() for b in bufs)
    return used / 2**20


def _stop_gateway() -> None:
    """Shut the JVM down and wait for it, so no process outlives the run.
    The SparkContext is already stopped; a JVM still running its shutdown
    hooks after a second is killed (they only delete scratch files, which
    the run removes itself)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        if gw is not None:
            gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=1)
        except Exception:
            proc.kill()
            proc.wait()


def fill_layers(values: dict) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric of
    BENCHMARK.json, 0 where the workload does not reach that layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        layers = json.load(fh)["per_layer"]
    return {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in layers}


if __name__ == "__main__":
    sys.exit(main())
