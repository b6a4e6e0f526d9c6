"""Spans around layer calls, and per-layer numbers from Spark's event log.

A span is opened by the benchmark around each call into a layer's public
function (and, for ``genstore``, around every call that reaches the
module's public attributes, which ``dedup`` and ``annindex`` call
through). Each span gets its own Spark job group, so every job, stage
and task in the local event log maps back to exactly one span: the
innermost one open when the job was submitted. Spans stay in memory;
``layer_metrics`` folds them with the parsed event log after the session
has stopped and the log is complete.

Definitions (per layer, summed over its spans):

* ``self_s``        span time minus the part covered by its child spans;
* ``driver_gap_s``  self time covered by no Spark job (driver-side work:
                    planning, listing, py4j round trips, Python);
* ``executor_run_s`` summed task run time of the span's own jobs;
* counts            jobs, stages that ran (skipped stages excluded),
                    tasks, shuffle bytes/records written, bytes spilled
                    to disk.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE_GROUP = "pb-idle"

LAYERS = ("objectstore", "warehouse", "dedup", "annindex", "genstore")
LAYER_FIELDS = (
    ("calls", "count"),
    ("self_s", "s"),
    ("driver_gap_s", "s"),
    ("executor_run_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("shuffle_bytes", "bytes"),
    ("shuffle_records", "count"),
    ("spill_bytes", "bytes"),
    ("failed", "count"),
)


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    group: str
    t0: float
    t1: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one
    attribute test per call and sets no job group."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(sid, parent.sid if parent else None, layer, name, f"pb-{sid}", 0.0)
        self.spans.append(sp)
        if parent:
            parent.children.append(sid)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, f"{layer}.{name}")
        sp.t0 = time.time()
        try:
            yield
        finally:
            sp.t1 = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, f"{parent.layer}.{parent.name}")
            else:
                self.sc.setJobGroup(IDLE_GROUP, "idle")

    def wrap_module(self, module, layer: str) -> None:
        """Replace each public function of ``module`` (its ``__all__``)
        by a span-opening wrapper. Callers that look the function up on
        the module at call time, as ``dedup`` and ``annindex`` do with
        ``genstore.<fn>``, go through the wrapper."""
        for name in module.__all__:
            fn = getattr(module, name)
            if callable(fn):
                setattr(module, name, self._wrapped(fn, layer, name))

    def _wrapped(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return call


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclass
class StageRecord:
    group: str | None
    ran: bool = False
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, dict]  # job id -> {"group", "t0", "t1"}
    stages: dict[int, StageRecord]


def parse_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark JSON event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, StageRecord] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, StageRecord(props.get("spark.jobGroup.id")))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                stages.setdefault(sid, StageRecord(None)).ran = True
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], StageRecord(None))
                m = ev.get("Task Metrics") or {}
                st.tasks += 1
                st.run_s += m.get("Executor Run Time", 0) / 1000.0
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_records += sw.get("Shuffle Records Written", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                im = m.get("Input Metrics") or {}
                st.input_bytes += im.get("Bytes Read", 0)
                st.input_records += im.get("Records Read", 0)
                st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return EventLog(jobs, stages)


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _minus(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``base`` minus ``cut``; both sorted and disjoint."""
    out: list[tuple[float, float]] = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


def _length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in intervals)


def layer_metrics(spans: list[Span], log: EventLog) -> dict[str, dict[str, float]]:
    """Per-layer sums over ``spans`` (see module docstring), plus the
    extra counters ``input_bytes``, ``output_bytes`` and ``cpu_s`` used
    by the layer-specific and engine-wide metrics."""
    by_group: dict[str, dict] = {}
    for job in log.jobs.values():
        if job["group"] is not None:
            by_group.setdefault(job["group"], {"jobs": [], "stages": []})["jobs"].append(job)
    for st in log.stages.values():
        if st.group is not None and st.ran:
            by_group.setdefault(st.group, {"jobs": [], "stages": []})["stages"].append(st)
    job_cover = _union(
        [(j["t0"], j["t1"]) for j in log.jobs.values() if j["t1"] is not None]
    )

    keys = [f for f, _ in LAYER_FIELDS] + ["input_bytes", "output_bytes", "cpu_s"]
    out = {layer: dict.fromkeys(keys, 0.0) for layer in LAYERS}
    for sp in spans:
        acc = out.setdefault(sp.layer, dict.fromkeys(keys, 0.0))
        kids = _union([(spans[c].t0, spans[c].t1) for c in sp.children])
        own = _minus([(sp.t0, sp.t1)], kids)
        acc["calls"] += 1
        acc["self_s"] += _length(own)
        acc["driver_gap_s"] += _length(_minus(own, job_cover))
        g = by_group.get(sp.group, {"jobs": [], "stages": []})
        acc["jobs"] += len(g["jobs"])
        acc["stages"] += len(g["stages"])
        for st in g["stages"]:
            acc["tasks"] += st.tasks
            acc["executor_run_s"] += st.run_s
            acc["cpu_s"] += st.cpu_s
            acc["shuffle_bytes"] += st.shuffle_bytes
            acc["shuffle_records"] += st.shuffle_records
            acc["spill_bytes"] += st.spill_bytes
            acc["input_bytes"] += st.input_bytes
            acc["output_bytes"] += st.output_bytes
    return out


def records_read(spans: list[Span], log: EventLog, name: str) -> int:
    """Input records read by the jobs of the spans called ``name``."""
    groups = {sp.group for sp in spans if sp.name == name}
    return sum(st.input_records for st in log.stages.values() if st.ran and st.group in groups)


def job_count_mismatches(spans: list[Span], log: EventLog, tracker_jobs: dict[str, int]) -> list[str]:
    """Spans whose event-log job count differs from the count Spark's
    status tracker reports for the span's job group."""
    counted: dict[str, int] = {}
    for job in log.jobs.values():
        if job["group"] is not None:
            counted[job["group"]] = counted.get(job["group"], 0) + 1
    return [
        f"{sp.layer}.{sp.name} ({sp.group}): event log {counted.get(sp.group, 0)}, "
        f"status tracker {tracker_jobs.get(sp.group, 0)}"
        for sp in spans
        if counted.get(sp.group, 0) != tracker_jobs.get(sp.group, 0)
    ]
