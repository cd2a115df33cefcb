"""Operations and passes: the unit the benchmark times."""

from __future__ import annotations

import time
from typing import Any, NamedTuple


class Op:
    """One timed operation of a pass.

    ``fn`` returns the operation's output; ``records`` is how many
    records it carries; ``kinds`` names the rate metrics it feeds
    (``encode``, ``decode``, ``roundtrip``)."""

    def __init__(self, name: str, fn, records: int = 0, kinds: tuple = ()):
        self.name, self.fn, self.records, self.kinds = name, fn, records, kinds


class Timed(NamedTuple):
    """An operation's output with its time as measured where it ran."""

    value: Any
    seconds: float


def run_pass(ops: list[Op]) -> tuple[float, dict]:
    """Run every operation once. Returns the pass time (the sum of the
    operation times) and ``{name: (seconds, output, error)}``."""
    out = {}
    for op in ops:
        a = time.perf_counter()
        try:
            res, err = op.fn(), None
        except Exception as exc:  # counted as a failed operation
            res, err = None, exc
        t = time.perf_counter() - a
        if isinstance(res, Timed):
            res, t = res.value, res.seconds
        out[op.name] = (t, res, err)
    return sum(t for t, _, _ in out.values()), out


def rate(ops: list[Op], res: dict, kind: str) -> float:
    recs = secs = 0.0
    for op in ops:
        t, _, err = res[op.name]
        if kind in op.kinds and err is None:
            recs += op.records
            secs += t
    return recs / secs if secs else 0.0
