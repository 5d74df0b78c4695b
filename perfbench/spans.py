"""Span recorder, layer patching, Spark event-log parsing and plan-node
counting for the traced benchmark run.

Everything here lives beside the benchmark: the package is wrapped from
the outside (module attributes and class methods are swapped for timing
wrappers and restored afterwards), so the traced code is the shipped code.
"""

from __future__ import annotations

import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

PACKAGE = "bigdatapipelinepysparksqlserver_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span stack. ``set_group`` (optional) is called with the
    Spark job group of the innermost open span on every enter and exit,
    so each Spark job is tagged ``<layer>:<span id>``."""

    def __init__(self, set_group: Callable[[str | None], None] | None = None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._set_group = set_group

    @staticmethod
    def group_of(span: Span) -> str:
        return f"{span.name}:{span.id}"

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self._set_group:
            self._set_group(self.group_of(s))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._set_group:
                self._set_group(self.group_of(self._stack[-1]) if self._stack else None)

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover.
    Children of one span never overlap (the recorder is a single stack)."""
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            covered[s.parent] += s.wall
    return {s.id: s.wall - covered[s.id] for s in spans}


def descendants(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span under it (spans are recorded in start order,
    so one forward sweep sees each parent before its children)."""
    inside = {root}
    out = []
    for s in spans:
        if s.id == root or s.parent in inside:
            inside.add(s.id)
            out.append(s)
    return out


def layer_self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time summed by span name over the subtree of ``root``."""
    sub = descendants(spans, root)
    st = self_times(sub)
    out: dict[str, float] = defaultdict(float)
    for s in sub:
        out[s.name] += st[s.id]
    return dict(out)


class Patcher:
    """Swap callables for wrapped versions and put the originals back.

    Functions are replaced in every loaded package module that bound them
    by name (``from .x import f`` copies the reference), methods on their
    class or on one instance."""

    def __init__(self):
        self._undo: list[tuple[object, str, object, bool]] = []

    def _set(self, owner, attr: str, value) -> None:
        had = attr in vars(owner)
        self._undo.append((owner, attr, getattr(owner, attr, None), had))
        setattr(owner, attr, value)

    def function(self, original: Callable, wrapper: Callable) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._set(mod, attr, wrapper)

    def method(self, owner, attr: str, wrapper_for: Callable[[Callable], Callable]) -> None:
        self._set(owner, attr, wrapper_for(getattr(owner, attr)))

    def restore(self) -> None:
        for owner, attr, old, had in reversed(self._undo):
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)
        self._undo.clear()


# ---------------------------------------------------------------- event log
TASK_FIELDS = ("tasks", "run_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes", "output_bytes", "output_records")


def parse_event_log(lines) -> tuple[dict[str, dict], dict[str, int], dict[str, int]]:
    """Task metrics per job group from Spark event-log JSON lines.

    Returns ``(metrics, jobs, stages)``: per group the summed
    :data:`TASK_FIELDS`, the number of jobs, and the number of stages that
    ran tasks. A stage listed by several jobs (a reused shuffle) is charged
    to the first job that listed it, which is the one that ran it."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str, int] = defaultdict(int)
    ran: dict[str, set] = defaultdict(set)
    metrics: dict[str, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics") or {}
            m = metrics[group]
            ran[group].add(ev.get("Stage ID"))
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            out = tm.get("Output Metrics") or {}
            m["tasks"] += 1
            m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["output_bytes"] += out.get("Bytes Written", 0)
            m["output_records"] += out.get("Records Written", 0)
    return dict(metrics), dict(jobs), {g: len(s) for g, s in ran.items()}


# --------------------------------------------------------------- plan nodes
PLAN_KINDS = ("exchange", "smj", "bhj", "window", "python_eval", "in_memory_scan", "scan")


def plan_kind(class_name: str) -> str | None:
    if class_name in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
        return "exchange"
    if class_name == "SortMergeJoinExec":
        return "smj"
    if class_name == "BroadcastHashJoinExec":
        return "bhj"
    if class_name == "WindowExec":
        return "window"
    if "Python" in class_name or "InPandas" in class_name or "InArrow" in class_name:
        return "python_eval"
    if class_name == "InMemoryTableScanExec":
        return "in_memory_scan"
    if class_name in ("FileSourceScanExec", "BatchScanExec"):
        return "scan"
    return None


def count_plan_nodes(java_plan) -> dict[str, int]:
    """Walk a final executed plan (Py4J ``SparkPlan``) and count node kinds.

    Descends through adaptive wrappers, query stages and subqueries; a
    reused exchange is a reference to a node already counted and a cached
    relation's scan is a leaf here, so neither is entered."""
    counts = dict.fromkeys(PLAN_KINDS, 0)

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    stack = [java_plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        kind = plan_kind(cls)
        if kind:
            counts[kind] += 1
        if cls != "InMemoryTableScanExec":
            stack.extend(seq(node.children()))
        stack.extend(seq(node.subqueries()))
    return counts
