"""Spans around the program's public calls, and Spark event-log attribution.

A :class:`Tracer` records spans (layer, name, start, end, parent) in memory
and tags every Spark job submitted inside a span with the span's job group.
After the session stops, :func:`layer_metrics` parses the event log and
charges each job's stages and tasks to the span whose group it carries,
then folds spans into per-layer figures.

:class:`NullTracer` has the same interface and records nothing; timed runs
use it so that end-to-end figures are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

from entity_resolution_pipeline_spark.operators import clustering
from entity_resolution_pipeline_spark.sources.tableio import TableIO

LAYERS = [
    "functions.normalize", "operators.blocking", "operators.pairs",
    "operators.scoring", "operators.clustering", "sources.tableio",
    "plans.pipeline", "streaming.incremental",
]
SPARK_FIELDS = ["wait_s", "jobs", "tasks", "failed_tasks", "shuffle_write_mb",
                "shuffle_read_mb", "spill_mb", "gc_s"]
LAYER_FIELDS = ["busy_s", "self_s", *SPARK_FIELDS]
# run_pipeline's stage tables -> the layer whose lazily built plan the
# stage write executes
STAGE_LAYER = {
    "extract": "functions.normalize", "blocks": "operators.blocking",
    "pairs": "operators.pairs", "attrs": "operators.scoring",
    "scored": "operators.scoring", "clusters": "operators.clustering",
}
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    # time outside any child, clocked at each child's entry and exit
    # rather than derived from the durations
    self_s: float = 0.0
    resumed: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one context-manager entry, nothing else."""

    enabled = False

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        yield None

    def table_io(self, spark, root: str) -> TableIO:
        return TableIO(spark, root)

    @contextlib.contextmanager
    def recording(self):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on = False

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self._on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        now = time.perf_counter()
        s = Span(len(self.spans), parent.id if parent else None, layer, name, now,
                 resumed=now)
        self.spans.append(s)
        if parent:
            parent.children.append(s.id)
            parent.self_s += now - parent.resumed
        self._stack.append(s)
        self.sc.setJobGroup(f"span-{s.id}", f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.self_s += s.end - s.resumed
            self._stack.pop()
            if parent:
                parent.resumed = s.end
                self.sc.setJobGroup(f"span-{parent.id}",
                                    f"{parent.layer}:{parent.name}")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def table_io(self, spark, root: str) -> TableIO:
        return TracedTableIO(spark, root, self)

    @contextlib.contextmanager
    def recording(self):
        """Record spans only inside this block (the measured window); also
        route every ``connected_components`` call through a span."""
        inner = clustering.connected_components

        def traced_cc(*args, **kwargs):
            with self.span("operators.clustering", "connected_components"):
                return inner(*args, **kwargs)

        clustering.connected_components = traced_cc
        self._on = True
        try:
            yield
        finally:
            self._on = False
            clustering.connected_components = inner


class TracedTableIO(TableIO):
    """TableIO whose calls open spans: a stage write is charged to the
    layer whose plan it executes, everything else to ``sources.tableio``."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.bytes_written: dict[str, int] = defaultdict(int)

    def write(self, name, df, *args, **kwargs):
        with self.tracer.span(STAGE_LAYER.get(name, "sources.tableio"), f"write:{name}"):
            super().write(name, df, *args, **kwargs)
        self.bytes_written[name] += dir_bytes(self.path(name))

    def read(self, name):
        with self.tracer.span("sources.tableio", f"read:{name}"):
            return super().read(name)

    def is_committed(self, name):
        with self.tracer.span("sources.tableio", f"is_committed:{name}"):
            return super().is_committed(name)

    def uncommit(self, name):
        with self.tracer.span("sources.tableio", f"uncommit:{name}"):
            super().uncommit(name)

    def append_audit(self, rows):
        with self.tracer.span("sources.tableio", "append_audit"):
            super().append_audit(rows)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _group_stats(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, failed tasks, core wait, shuffle, spill
    and GC, summed from the event log."""
    def order(path: str) -> tuple:
        # rolling logs: events_<n>_<app>; order by n, not by string
        name = os.path.basename(path)
        n = name.split("_")[1] if name.startswith("events_") else "0"
        return int(n) if n.isdigit() else 0, path

    events = []
    paths = glob.glob(os.path.join(event_log_dir, "**", "*"), recursive=True)
    for path in sorted((p for p in paths if os.path.isfile(p)), key=order):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.startswith("{"))
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for e in events:
        kind = e.get("Event")
        props = e.get("Properties") or {}
        group = props.get("spark.jobGroup.id")
        if kind == "SparkListenerJobStart" and group:
            out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_submit[key] = info.get("Submission Time") or 0
            if group:
                stage_group[key] = group
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            group = stage_group.get(key)
            if group is None:
                continue
            g = out[group]
            info = e["Task Info"]
            g["tasks"] += 1
            g["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
            g["wait_s"] += max(info["Launch Time"] - stage_submit.get(key, info["Launch Time"]), 0) / 1000
            m = e.get("Task Metrics") or {}
            g["gc_s"] += m.get("JVM GC Time", 0) / 1000
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            rd = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                     + rd.get("Local Bytes Read", 0)) / MB
            g["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}) \
                .get("Shuffle Bytes Written", 0) / MB
    return out


def span_check_error(s: Span, by_id: dict[int, Span], wall_s: float) -> float:
    """|children's durations + self time - wall_s| for span ``s``."""
    return abs(sum(by_id[c].duration for c in s.children) + s.self_s - wall_s)


def layer_metrics(spans: list[Span], event_log_dir: str) -> tuple[dict[str, float], float]:
    """Fold spans and their jobs into ``{layer}.{field}`` figures.

    busy_s counts a layer's outermost spans only (a clustering write that
    contains a connected_components span is counted once); self_s is each
    span's clocked time outside its children. Returns the figures and the
    largest violation of "children's durations + parent's self time ==
    parent's duration" over all spans.
    """
    groups = _group_stats(event_log_dir)
    by_id = {s.id: s for s in spans}
    vals = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    worst = 0.0
    for s in spans:
        worst = max(worst, span_check_error(s, by_id, s.duration))
        vals[f"{s.layer}.self_s"] += s.self_s
        anc, outermost = s.parent, True
        while anc is not None:
            if by_id[anc].layer == s.layer:
                outermost = False
                break
            anc = by_id[anc].parent
        if outermost:
            vals[f"{s.layer}.busy_s"] += s.duration
        for f, v in groups.get(f"span-{s.id}", {}).items():
            vals[f"{s.layer}.{f}"] += v
    return vals, worst
