"""Operation recording for the closed-loop benchmark.

One client thread runs operations back to back.  An operation is a few
timed calls into the package (``Op.timed``) plus output checks that run
untimed; its latency is the sum of its timed calls.  Every timed call
runs under its own Spark job group ``<prefix>/<op index>/<layer>``, so the
traced run can attribute jobs, stages and tasks from the event log to
the operation and layer that launched them.  Checks and bookkeeping run
under the ``pb/untimed`` group, and per-layer probes outside the
operation's latency under ``pb-side/...``; neither is attributed.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

UNTIMED_GROUP = "pb/untimed"
SIDE_PREFIX = "pb-side"


class Op:
    def __init__(self, recorder: "Recorder", index: int, kind: str) -> None:
        self._rec = recorder
        self.index = index
        self.kind = kind
        self.latency_s = 0.0
        self.layers: dict[str, float] = defaultdict(float)
        self.windows_ms: list[tuple[int, int]] = []
        self.catalyst_ms: dict[str, float] = defaultdict(float)
        self.extra: dict[str, float] = {}
        self.problems: list[str] = []

    def group(self, layer: str) -> str:
        return f"{self._rec.prefix}/{self.index}/{layer}"

    @contextmanager
    def timed(self, layer: str, in_latency: bool = True):
        """Time one call into the package as ``layer``.  With
        ``in_latency=False`` the call is recorded for its layer only
        (a per-layer probe that the operation itself does not need), and
        its jobs are left out of the operation's Spark counters."""
        sc = self._rec.sc
        group = self.group(layer) if in_latency else f"{SIDE_PREFIX}/{self.index}/{layer}"
        sc.setJobGroup(group, self.kind)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            wall1 = time.time()
            sc.setJobGroup(UNTIMED_GROUP, "untimed")
            self.layers[layer] += dt
            if in_latency:
                self.latency_s += dt
                self.windows_ms.append((int(wall0 * 1000), int(wall1 * 1000) + 1))

    def catalyst(self, df) -> None:
        """Add the Catalyst phase times of ``df``'s last action (traced
        runs only: it is three extra JVM round trips)."""
        if not self._rec.trace:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                self.catalyst_ms[name] += float(opt.get().durationMs())

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


class Recorder:
    def __init__(self, spark, trace: bool, prefix: str = "pb") -> None:
        self.sc = spark.sparkContext
        self.trace = trace
        self.prefix = prefix
        self.ops: list[Op] = []

    def run(self, kind: str, body) -> Op:
        """Run ``body(op)``; an exception or a failed check fails the op."""
        op = Op(self, len(self.ops), kind)
        try:
            body(op)
        except Exception:  # one failed operation must not end the run
            op.problems.append("exception:\n" + traceback.format_exc())
        finally:
            self.sc.setJobGroup(UNTIMED_GROUP, "untimed")
        if op.problems:
            print(f"perfbench: op {op.index} ({kind}) failed: "
                  + "; ".join(op.problems), file=sys.stderr)
        self.ops.append(op)
        return op

    @property
    def failed(self) -> int:
        return sum(1 for op in self.ops if op.problems)

    def by_kind(self, kind: str) -> list[Op]:
        return [op for op in self.ops if op.kind == kind]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def kind_medians(ops: list[Op], weights: dict[str, int]) -> dict[str, float]:
    """Median latency of each kind in the workload's declared mix."""
    out = {}
    for kind in weights:
        lat = [op.latency_s for op in ops if op.kind == kind]
        if not lat:
            raise RuntimeError(f"no {kind} operation completed in the window")
        out[kind] = median(lat)
    return out


def mix_throughput(ops: list[Op], weights: dict[str, int]) -> float:
    """Operations per second of one closed-loop client running the
    workload's declared mix: sum(weights) / sum(weight * median latency
    of that kind).  Per-kind medians keep the figure independent of
    where the time window happened to cut the mix."""
    med = kind_medians(ops, weights)
    return sum(weights.values()) / sum(w * med[k] for k, w in weights.items())


def mix_median(ops: list[Op], weights: dict[str, int]) -> float:
    """Median operation latency of the declared mix: the median of the
    per-kind medians, each counted by its integer weight.  Unlike the
    median of the raw latencies it does not jump between two kinds as
    the window adds one more sample of either."""
    med = kind_medians(ops, weights)
    return statistics.median([med[k] for k, w in weights.items() for _ in range(w)])
