"""Tracing from outside the program: spans around the engine's stage entry
points, py4j command counts, Spark job groups and the Spark event log.

Nothing here edits the package. Stage spans come from replacing the stage
functions that ``engine.pipeline.run_pipeline`` looks up by module attribute;
py4j traffic from wrapping ``GatewayClient.send_command``; execution numbers
from the event log that the benchmark enables through ``PYSPARK_SUBMIT_ARGS``.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.java_gateway import GatewayClient

STAGES = ("validate", "hierarchy", "classify", "crm", "re_split", "sa", "irb", "aggregate")

# (module, attribute, stage): the names run_pipeline resolves at call time.
_STAGE_POINTS = (
    ("rwa_calculator_spark.engine.stages.validate", "run_validation", "validate"),
    ("rwa_calculator_spark.engine.pipeline", "run_hierarchy", "hierarchy"),
    ("rwa_calculator_spark.engine.pipeline", "run_classify", "classify"),
    ("rwa_calculator_spark.engine.pipeline", "run_crm", "crm"),
    ("rwa_calculator_spark.engine.stages.re_split", "run_re_split", "re_split"),
    ("rwa_calculator_spark.engine.pipeline", "run_sa", "sa"),
    ("rwa_calculator_spark.engine.pipeline", "run_irb", "irb"),
    ("rwa_calculator_spark.engine.pipeline", "run_aggregate", "aggregate"),
)

# py4j protocol command letters: c call, r reflection, i constructor are the
# plan-building round trips; m is a GC delete sent by py4j's finalizer
# thread; a is an array command.
BUILD_KINDS = ("c", "r", "i")


class Py4jCounter:
    """Counts py4j commands by protocol letter, and calls by method name."""

    def __init__(self) -> None:
        self.kinds: Counter[str] = Counter()
        self.methods: Counter[str] = Counter()
        self._lock = threading.Lock()
        self._paused = threading.local()

    def install(self) -> None:
        original = GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            if not getattr(counter._paused, "on", False):
                counter._record(command)
            return original(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    def _record(self, command: str) -> None:
        kind = command[:1]
        method = command.split("\n", 3)[2] if kind == "c" else None
        with self._lock:
            self.kinds[kind] += 1
            if method is not None:
                self.methods[method] += 1

    @contextmanager
    def paused(self):
        """Leave the benchmark's own commands (job groups, plan probes) out."""
        self._paused.on = True
        try:
            yield
        finally:
            self._paused.on = False

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            snap = {f"kind.{k}": v for k, v in self.kinds.items()}
            snap["schema"] = self.methods["schema"]
        return snap


def diff(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
    return {k: v - before.get(k, 0) for k, v in after.items()}


def build_calls(counts: dict[str, int]) -> int:
    return sum(counts.get(f"kind.{k}", 0) for k in BUILD_KINDS)


@dataclass
class Span:
    name: str
    start: float
    end: float
    py4j: dict[str, int] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and counts for one traced call at a time.

    ``enabled`` switches the wrappers to pass-through, so the same process
    can time a call with and without tracing."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.py4j = Py4jCounter()
        self.enabled = False
        self.spans: list[Span] = []
        self.barriers = 0
        self.barrier_mb = 0.0
        self._depth = 0

    def install(self) -> None:
        self.py4j.install()
        for module, attr, stage in _STAGE_POINTS:
            self._patch(importlib.import_module(module), attr, self._stage_wrapper(stage))
        from pyspark.sql.classic.dataframe import DataFrame

        for attr in ("localCheckpoint", "checkpoint"):
            self._patch(DataFrame, attr, self._barrier_wrapper)

    @staticmethod
    def _patch(owner, attr: str, make) -> None:
        setattr(owner, attr, make(getattr(owner, attr)))

    def set_job_group(self, group: str) -> None:
        with self.py4j.paused():
            self.sc.setJobGroup(group, group)

    def _stage_wrapper(self, stage: str):
        def make(fn):
            def wrapped(*args, **kwargs):
                if not self.enabled or self._depth:
                    return fn(*args, **kwargs)
                self.set_job_group(f"build.{stage}")
                before = self.py4j.snapshot()
                self._depth += 1
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    t1 = time.perf_counter()
                    self._depth -= 1
                    self.spans.append(
                        Span(f"build.{stage}", t0, t1, diff(self.py4j.snapshot(), before))
                    )
                    self.set_job_group("")

            return wrapped

        return make

    def _barrier_wrapper(self, fn):
        def wrapped(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            self.barriers += 1
            if self._depth:  # inside a stage: its jobs belong to the stage
                return fn(*args, **kwargs)
            with self.span("barrier", job_group="barrier"):
                return fn(*args, **kwargs)

        return wrapped

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        if job_group is not None:
            self.set_job_group(job_group)
        before = self.py4j.snapshot()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append(Span(name, t0, t1, diff(self.py4j.snapshot(), before)))
            if job_group is not None:
                self.set_job_group("")

    def next_rdd_id(self) -> int:
        with self.py4j.paused():
            return self.sc._jsc.sc().newRddId()

    def cached_mb_since(self, first_rdd_id: int) -> float:
        """Stored bytes of the RDDs created since ``first_rdd_id`` (the
        call's localCheckpoint and persist barriers)."""
        total = 0
        with self.py4j.paused():
            for info in self.sc._jsc.sc().getRDDStorageInfo():
                if info.id() >= first_rdd_id:
                    total += info.memSize() + info.diskSize()
        return total / 1e6


def catalyst_phases(df, py4j: Py4jCounter) -> dict[str, float]:
    """Force the frame's optimized and physical plans; read the phase
    durations Spark's QueryPlanningTracker recorded, and the plan size."""
    with py4j.paused():
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    nodes = exchanges = 0
    for line in plan.splitlines():
        token = line.lstrip(" :+-").split(" ", 1)[0]
        if not token or token.startswith("("):
            continue
        nodes += 1
        if token.endswith("Exchange"):
            exchanges += 1
    out["plan.nodes"] = nodes
    out["plan.exchanges"] = exchanges
    return out


# --- Spark event log --------------------------------------------------------

EXEC_FIELDS = ("wall_s", "task_s", "tasks", "skew", "shuffle_mb", "spill_mb", "gc_s")


@dataclass
class _Group:
    intervals: list[tuple[int, int]] = field(default_factory=list)
    jobs: int = 0
    task_ms: list[int] = field(default_factory=list)
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def read_event_log(log_dir: str, t0_ms: float, t1_ms: float) -> dict[str, _Group]:
    """Per job group, the jobs submitted and tasks launched in [t0, t1]
    (epoch milliseconds). The group is the ``spark.jobGroup.id`` property
    the job and its stages carry; jobs without one are grouped as
    ``other``."""
    # Spark 4 writes a rolling log: one directory of events_<n>_* files
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "*", "events_*")) if not p.endswith(".crc")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    groups: dict[str, _Group] = {}
    job_start: dict[int, tuple[str, int]] = {}
    stage_group: dict[int, str] = {}

    def group_of(props: dict | None) -> str:
        g = (props or {}).get("spark.jobGroup.id") or "other"
        return g if not g.startswith("edge:") else "seal." + g[len("edge:"):]

    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = group_of(ev.get("Properties"))
            job_start[ev["Job ID"]] = (g, ev["Submission Time"])
        elif kind == "SparkListenerJobEnd":
            g, t = job_start.pop(ev["Job ID"], (None, None))
            if g is not None and t0_ms <= t <= t1_ms:
                grp = groups.setdefault(g, _Group())
                grp.jobs += 1
                grp.intervals.append((t, ev["Completion Time"]))
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = group_of(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not t0_ms <= info["Launch Time"] <= t1_ms:
                continue
            grp = groups.setdefault(stage_group.get(ev["Stage ID"], "other"), _Group())
            grp.task_ms.append(info["Finish Time"] - info["Launch Time"])
            m = ev.get("Task Metrics") or {}
            grp.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            grp.spill_bytes += m.get("Disk Bytes Spilled", 0)
            grp.gc_ms += m.get("JVM GC Time", 0)
    return groups


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def merge(groups) -> _Group | None:
    """One group holding the jobs and tasks of several (None entries skipped)."""
    out = None
    for g in groups:
        if g is None:
            continue
        out = out or _Group()
        out.intervals += g.intervals
        out.jobs += g.jobs
        out.task_ms += g.task_ms
        out.shuffle_bytes += g.shuffle_bytes
        out.spill_bytes += g.spill_bytes
        out.gc_ms += g.gc_ms
    return out


def exec_metrics(group: _Group | None) -> dict[str, float]:
    if group is None:
        return dict.fromkeys(EXEC_FIELDS, 0.0)
    tasks = group.task_ms
    median = statistics.median(tasks) if tasks else 0
    return {
        "wall_s": _union_ms(group.intervals) / 1e3,
        "task_s": sum(tasks) / 1e3,
        "tasks": len(tasks),
        "skew": (max(tasks) / median) if median > 0 else 0.0,
        "shuffle_mb": group.shuffle_bytes / 1e6,
        "spill_mb": group.spill_bytes / 1e6,
        "gc_s": group.gc_ms / 1e3,
    }
