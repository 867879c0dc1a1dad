"""Shared pieces of the benchmark: op records, latency statistics, the
per-layer tracer and the Spark session lifecycle."""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Op:
    """One timed, closed-loop operation of a workload."""

    kind: str
    seconds: float
    ok: bool
    role: str  # "read", "write" (a commit) or "copy" (an export + import)
    read_seconds: float | None = None  # the read half of a composite op
    export_seconds: float | None = None  # the write half of a composite op
    rows: int = 0


@dataclass
class Ctx:
    """What a workload gets from the runner."""

    seed: int
    seconds: float
    sf: float
    tmp: str
    tracer: "Tracer"
    t_start: float  # perf_counter() at process start
    inject_fault: bool = False
    spark: object = None

    @staticmethod
    def fail(what: str) -> None:
        """Report a wrong result; the caller marks its op failed."""
        print(f"# FAILED: {what}", file=sys.stderr, flush=True)


def end_to_end(ops: list[Op], setup_s: float, timed_s: float) -> dict[str, float]:
    lat = [o.seconds for o in ops]
    reads = [o.seconds for o in ops if o.role == "read"]
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / timed_s,
        "op_p50_s": statistics.median(lat),
        "read_p50_s": statistics.median(reads),
    }


class Tracer:
    """Spans around layer calls plus per-op Spark job accounting.

    Disabled, every method is a no-op, so the untraced run pays only a
    function call per span. Enabled, spans (name, start, end, parent,
    op) stay in memory until :meth:`dump`, and each op runs under its
    own Spark job group; jobs and tasks per group are read from the
    status tracker once the run is over (the listener bus has caught up
    by then, and the lookups stay out of the timed loop)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.op_groups: dict[str, str] = {}  # op id -> op kind
        self.overhead_s = 0.0
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(idx)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            rec["start"], rec["end"] = t1, t2
            self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    @contextmanager
    def paused(self):
        """Untimed warm-up: no spans, no job groups."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def begin_op(self, op_id: str, kind: str) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.op = op_id
        self.op_groups[op_id] = kind
        self._sc.setJobGroup(op_id, kind)
        self.overhead_s += time.perf_counter() - t0

    def end_op(self) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.op = None
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0

    # -- read-out ---------------------------------------------------------
    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def mean_s(self, name: str) -> float:
        d = self.durations(name)
        return sum(d) / len(d) if d else 0.0

    def jobs_tasks(self, kinds: set[str]) -> tuple[float, float]:
        """Mean Spark jobs and completed tasks per op of these kinds."""
        tracker = self._sc.statusTracker()
        groups = [g for g, k in self.op_groups.items() if k in kinds]
        jobs = tasks = 0
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    st = tracker.getStageInfo(sid)
                    tasks += st.numCompletedTasks if st else 0
        n = max(len(groups), 1)
        return jobs / n, tasks / n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def build_spark(ctx: Ctx):
    """The engine's own session builder, sized by the env the runner set."""
    from pg_datalake_spark.session import build_session

    with ctx.tracer.span("session.build"):
        spark = build_session("perfbench")
    ctx.spark = spark
    ctx.tracer.attach(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
