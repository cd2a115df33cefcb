"""Spans around calls into the program's layers.

With tracing off, :meth:`Tracer.span` does nothing but yield, so the
untraced run times the same calls without the bookkeeping. With
tracing on, each span records its name, start, end, parent span,
workload and pass, and, when a SparkContext is attached, runs under a
job group of its own so the Spark job ids it started can be read back
from ``statusTracker``. Spans stay in memory until :meth:`dump`.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.pass_no: int | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self._stages_seen: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent,
            "workload": self.workload,
            "pass": self.pass_no,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{os.getpid()}-{sid}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec["job_ids"] = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
                rec["n_jobs"] = len(rec["job_ids"])
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{os.getpid()}-{parent}", self.spans[parent]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_tasks(self) -> None:
        """Fill ``tasks``: completed tasks of the stages the span's own
        jobs ran. A stage a later job reuses (skipped) counts once, for
        the job that ran it. Called between passes, after waiting for
        the listener bus to mark the jobs finished."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        pending = [s for s in self.spans if "job_ids" in s and "tasks" not in s]
        for _ in range(50):
            infos = {j: st.getJobInfo(j) for s in pending for j in s["job_ids"]}
            if all(i is None or i.status != "RUNNING" for i in infos.values()):
                break
            time.sleep(0.05)
        for s in pending:
            n = 0
            for j in s["job_ids"]:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    if sid not in self._stages_seen:
                        self._stages_seen.add(sid)
                        si = st.getStageInfo(sid)
                        n += si.numCompletedTasks if si else 0
            s["tasks"] = n

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover
    (children run sequentially on the driver thread, so they do not
    overlap one another)."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def per_pass(tracer: Tracer, field: str | None = None) -> dict[str, dict[int, float]]:
    """``{span name: {pass: total}}`` of durations (``field`` None) or of
    a numeric span field such as ``tasks``, over every traced pass."""
    out: dict[str, dict[int, float]] = {}
    for s in tracer.spans:
        if s["pass"] is None:
            continue
        v = s["end"] - s["start"] if field is None else s.get(field, 0)
        d = out.setdefault(s["name"], {})
        d[s["pass"]] = d.get(s["pass"], 0.0) + v
    return out


def warm_median(table: dict[str, dict[int, float]], name: str, warm: list[int]) -> float:
    """Median over the warm passes of one span name's per-pass total
    (0 for a pass in which the span did not occur)."""
    import statistics

    d = table.get(name, {})
    return statistics.median(d.get(p, 0.0) for p in warm) if warm else 0.0
