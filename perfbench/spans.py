"""In-memory spans around calls into the engine's layers, plus the Spark
counters attached to them.

A span is (name, layer, start, end, parent, run id). The benchmark opens one
root span per operation and one child span around each call into a layer's
public function, including the action that forces the DataFrame the call
returned. With a Spark session attached, every span runs its jobs under its
own job group, and when a layer span closes the tracer reads, from outside
the package:

* ``SparkContext.statusTracker()``: jobs, stages, tasks and failed tasks of
  the span's job group;
* the SQL status store: the executed plan of every SQL execution that ran
  during the span, with its SQL metrics (Python UDF time and bytes, shuffle
  bytes, files and rows scanned, join output rows).

That reading happens in its own span of layer ``trace`` so that it is
charged to the tracer, not to the layer. Without a session the tracer only
records start and end times, which is what the untraced runs use.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SQL metric display names (Spark 4.x) -> counter names used by the benchmark
_SQL_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "data sent to Python workers": "python_data_sent_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "number of written files": "files_written",
}
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython")
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_TOTAL = re.compile(r"^(.*) total \(min, med, max \(stageId: taskId\)\)$")
_NODE = re.compile(r'\[id="node\d+" labelType="html" label="(.*?)"(?: tooltip=|\];)')


def parse_value(text: str) -> float:
    """'1,234' -> 1234; '12 ms' -> 0.012 (seconds); '3.5 MiB' -> bytes."""
    parts = text.strip().split(" ")
    number = float(parts[0].replace(",", ""))
    return number * _UNITS[parts[1]] if len(parts) > 1 else number


def parse_plan_metrics(dot: str) -> list[tuple[str, str, float]]:
    """(node name, metric name, value) for every node metric of a plan graph
    rendered by ``SparkPlanGraph.makeDotFile``."""
    out = []
    for label in _NODE.findall(dot):
        label = label.replace('\\"', '"')
        head, _, body = label.partition("</b>")
        node = head.rsplit("<b>", 1)[-1].strip()
        parts = [p for p in body.split("<br>") if p]
        i = 0
        while i < len(parts):
            total = _TOTAL.match(parts[i])
            if total and i + 1 < len(parts):
                name, value = total.group(1), parts[i + 1].split(" (")[0]
                i += 2
            else:
                name, _, value = parts[i].partition(": ")
                i += 1
            try:
                out.append((node, name, parse_value(value)))
            except (ValueError, KeyError, IndexError):
                continue
    return out


def summarize_plan(metrics: list[tuple[str, str, float]]) -> dict[str, float]:
    """Fold one execution's node metrics into the benchmark's counters."""
    acc: dict[str, float] = defaultdict(float)
    for node, name, value in metrics:
        if name in _SQL_METRICS:
            acc[_SQL_METRICS[name]] += value
        if name == "number of output rows":
            if node.startswith("Scan "):
                acc["scan_rows"] += value
            elif node in _PYTHON_NODES:
                acc["python_rows"] += value
            elif "Join" in node:
                acc["join_rows"] += value
        if name == "number of files read":
            acc["files_read"] += value
    return dict(acc)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its child
    spans cover (children may overlap each other; each instant counts once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children[s.id], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Layer -> summed self time of its spans."""
    layer = {s.id: s.layer for s in spans}
    acc: dict[str, float] = defaultdict(float)
    for sid, t in self_times(spans).items():
        acc[layer[sid]] += t
    return dict(acc)


class Tracer:
    """Records spans; with ``spark`` set it also attaches Spark counters."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list = []

    @property
    def collecting(self) -> bool:
        return self.spark is not None

    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(sid, name, layer, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(span)
        if self.collecting:
            store = self.spark._jsparkSession.sharedState().statusStore()
            first_exec = store.executionsCount()
            self.spark.sparkContext.setJobGroup(self._group(sid), name)
        self._stack.append(sid)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.perf_counter()
            if self.collecting:
                if parent is not None:
                    self.spark.sparkContext.setJobGroup(self._group(parent), self.spans[parent].name)
                with self._own_span(parent):
                    span.counts.update(self._counts(self._group(sid), store, first_exec))
                    for note in self._pending:
                        span.counts.update(note())
                    self._pending.clear()

    def _group(self, sid: int) -> str:
        return f"{self.run_id}/{sid}"

    def note(self, thunk) -> None:
        """Attach ``thunk()`` (a dict) to the next closing span, evaluated
        only when collecting and charged to the tracer."""
        if self.collecting:
            self._pending.append(thunk)

    @contextmanager
    def _own_span(self, parent):
        sid = len(self.spans)
        s = Span(sid, "trace.collect", "trace", time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()

    def _counts(self, group: str, store, first_exec: int) -> dict:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        counts: dict[str, float] = defaultdict(float)
        jobs = tracker.getJobIdsForGroup(group)
        for job in jobs:
            counts["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage_id in info.stageIds if info else []:
                stage = tracker.getStageInfo(stage_id)
                if stage and stage.numCompletedTasks:
                    counts["stages"] += 1
                    counts["tasks"] += stage.numCompletedTasks
                    counts["failed_tasks"] += stage.numFailedTasks
        n_exec = store.executionsCount()
        if n_exec > first_exec:
            execs = store.executionsList(first_exec, n_exec - first_exec)
            for i in range(execs.size()):
                execution = execs.apply(i)
                # an execution belongs to the span whose job group ran its
                # jobs, so a parent span does not count its children's plans
                if not any(execution.jobs().contains(j) for j in jobs):
                    continue
                eid = execution.executionId()
                dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
                for k, v in summarize_plan(parse_plan_metrics(dot)).items():
                    counts[k] += v
        return dict(counts)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
