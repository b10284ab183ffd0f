"""Spans around the benchmark's calls into the engine, and the Spark event
log read back as child spans of those calls.

A traced call runs under its own Spark job group, so every stage in the
event log names the span that caused it. A layer's self time is its wall
time minus the part of it covered by its stages: for a call into the engine
that is the driver and scheduling gap. Nothing here imports Spark.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-"

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

STAGE_CLASSES = ("kernel", "pack", "halo", "window", "other")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


class Tracer:
    """Records spans in memory. When ``sc`` is given, each span also puts
    the jobs it starts under the job group ``perfbench-<span id>``; when it
    is None the tracer records nothing and sets nothing (untraced runs)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0, parent.sid if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part its children cover."""
    return (end - start) - covered(children, start, end)


@dataclass
class Stage:
    stage_id: int
    attempt: int
    group: str | None
    start: float
    end: float
    tasks: int
    nodes: list[tuple[str, str]]
    metrics: dict[str, float]

    @property
    def cls(self) -> str:
        return classify(self.nodes)


def classify(nodes: list[tuple[str, str]]) -> str:
    """Stage class from the (node name, plan string) pairs that ran in it.

    kernel: the cogroup pandas UDF. window: a window sort (escalation merge,
    geodesic ranking). halo: a row-replicating explode (not the posexplode
    that turns ranked arrays into rows). pack: a collect_list aggregate.
    The order matters: a stage holding a kernel and a pack is a kernel
    stage, one that finishes a pack and explodes the halo is a halo stage.
    """
    names = {n for n, _ in nodes}
    if "FlatMapCoGroupsInPandas" in names:
        return "kernel"
    if names & {"Window", "WindowGroupLimit"}:
        return "window"
    if any(n == "Generate" and "posexplode" not in s for n, s in nodes):
        return "halo"
    if any(
        n in ("ObjectHashAggregate", "SortAggregate") and "collect_list" in s
        for n, s in nodes
    ):
        return "pack"
    return "other"


def read_events(log_dir: str) -> list[dict]:
    """Every event of every (uncompressed) event log file under log_dir."""
    events = []
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[int(m["accumulatorId"])] = (plan["nodeName"], plan.get("simpleString", ""))
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(events: list[dict]) -> tuple[list[Stage], dict[str, int]]:
    """(completed stages, jobs started per job group)."""
    acc_node: dict[int, tuple[str, str]] = {}
    for e in events:
        if e["Event"] in (SQL_START, SQL_AQE_UPDATE):
            _plan_metrics(e["sparkPlanInfo"], acc_node)
    groups: dict[tuple[int, int], str | None] = {}
    jobs: dict[str, int] = {}
    stages: list[Stage] = []
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is not None:
                jobs[g] = jobs.get(g, 0) + 1
        elif ev == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            groups[(si["Stage ID"], si["Stage Attempt ID"])] = (
                e.get("Properties") or {}
            ).get("spark.jobGroup.id")
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            metrics: dict[str, float] = {}
            nodes: list[tuple[str, str]] = []
            for a in si.get("Accumulables", []):
                name = a.get("Name", "")
                metrics[name] = metrics.get(name, 0.0) + _num(a.get("Value"))
                node = acc_node.get(int(a["ID"]))
                if node is not None and node not in nodes:
                    nodes.append(node)
            stages.append(
                Stage(
                    stage_id=key[0],
                    attempt=key[1],
                    group=groups.get(key),
                    start=si["Submission Time"] / 1000.0,
                    end=si["Completion Time"] / 1000.0,
                    tasks=int(si.get("Number of Tasks", 0)),
                    nodes=nodes,
                    metrics=metrics,
                )
            )
    return stages, jobs


MB = float(1 << 20)


def layer_metrics(span: Span, stages: list[Stage], jobs: dict[str, int]) -> dict[str, float]:
    """One traced layer span: wall, self (driver gap) time, time per stage
    class, and the shuffle, spill, GC, CPU and Python-boundary totals of its
    stages."""
    own = [s for s in stages if s.group == span.group]
    m: dict[str, float] = {
        "wall_s": span.end - span.start,
        "driver_gap_s": self_time(span.start, span.end, [(s.start, s.end) for s in own]),
        "jobs": float(jobs.get(span.group, 0)),
        "tasks": float(sum(s.tasks for s in own)),
    }
    for c in STAGE_CLASSES:
        m[f"{c}_stage_s"] = sum(s.end - s.start for s in own if s.cls == c)

    def tot(name: str) -> float:
        return sum(s.metrics.get(name, 0.0) for s in own)

    m["executor_cpu_s"] = tot("internal.metrics.executorCpuTime") / 1e9
    m["gc_s"] = tot("internal.metrics.jvmGCTime") / 1e3
    m["shuffle_write_mb"] = tot("internal.metrics.shuffle.write.bytesWritten") / MB
    m["shuffle_read_mb"] = (
        tot("internal.metrics.shuffle.read.localBytesRead")
        + tot("internal.metrics.shuffle.read.remoteBytesRead")
    ) / MB
    m["spill_mb"] = tot("internal.metrics.diskBytesSpilled") / MB
    m["python_run_s"] = tot("time to run Python workers") / 1e3
    m["python_in_mb"] = tot("data sent to Python workers") / MB
    m["python_out_mb"] = tot("data returned from Python workers") / MB
    return m


def sum_layers(tables: list[dict[str, float]]) -> dict[str, float]:
    out: dict[str, float] = {}
    for t in tables:
        for k, v in t.items():
            out[k] = out.get(k, 0.0) + v
    return out


def span_records(spans: list[Span], stages: list[Stage]) -> list[dict]:
    """Spans plus one child span per stage, for writing out at the end."""
    by_group = {s.group: s.sid for s in spans}
    out = [asdict(s) for s in spans]
    next_id = len(spans)
    for st in stages:
        parent = by_group.get(st.group)
        if parent is None:
            continue
        out.append(
            {
                "sid": next_id,
                "name": f"stage {st.stage_id}.{st.attempt} [{st.cls}]",
                "start": st.start,
                "end": st.end,
                "parent": parent,
                "tasks": st.tasks,
                "nodes": sorted({n for n, _ in st.nodes}),
            }
        )
        next_id += 1
    return out
