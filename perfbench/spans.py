"""Spans around the package's public calls, and Spark's event log.

A span is (id, name, parent, run, thread, start, end). ``run`` is the id
of the top-level span a span belongs to, so every span of one crawl
round or one query shares it. Spans stay in memory until the run ends,
when ``run.py`` prints them.

Each span sets the Spark job description ``pb:<span id>:<name>`` in the
thread that opened it. Spark copies the description onto the SQL
execution and onto every job and stage of that execution, including the
jobs AQE submits from its own threads, so the event log maps each stage
back to the innermost span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

_DESC = re.compile(r"^pb:(\d+):")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int
    thread: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``sc`` (a SparkContext) receives job descriptions."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stacks: dict[int, list[Span]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        with self._lock:
            return self._stacks.setdefault(threading.get_ident(), [])

    def _set_description(self, top: Span | None) -> None:
        self.sc.setJobDescription(f"pb:{top.id}:{top.name}" if top else None)

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and threading.get_ident() != self._main:
            main = self._stacks.get(self._main) or []
            parent = main[-1] if main else None
        with self._lock:
            sid = len(self.spans)
            s = Span(sid, name, parent.id if parent else None,
                     parent.run if parent else sid, threading.get_ident(),
                     time.time(), attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        self._set_description(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_description(stack[-1] if stack else None)

    def wrap(self, owner: object, attr: str, name_of) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``name_of(*args, **kwargs)``; ``unwrap`` restores it."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return original(*args, **kwargs)

        self._undo.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def descendants(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], list(kids.get(root.id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def records(self) -> list[dict]:
        return [dict(s.__dict__) for s in self.spans]


def attribute(root: Span, spans: list[Span], phase_of) -> dict[str, float]:
    """Split ``root``'s wall time among its descendant ``spans``.

    At each instant the innermost open span of the root's own thread
    gets the time; when that thread is in no descendant span (it waits
    on a background write, say), the innermost open span of another
    thread gets it; time in no descendant span at all is ``idle``. The
    parts add up to the root's wall time exactly. ``phase_of`` maps a
    span to its phase."""
    inside = [s for s in spans if s is not root and s.end > root.start and s.start < root.end]
    cuts = sorted({root.start, root.end} | {
        t for s in inside for t in (s.start, s.end) if root.start < t < root.end})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        open_ = [s for s in inside if s.start <= mid < s.end]
        own = [s for s in open_ if s.thread == root.thread]
        pick = max(own or open_, key=lambda s: s.start, default=None)
        out[phase_of(pick) if pick else "idle"] += b - a
    return dict(out)


# --------------------------------------------------------------- event log

# SQL metric names (as the plan nodes report them) → our key and unit scale.
# Spark 4.1.2 reports Python worker start-up in two parts, the time to
# start (fork) a worker and the time to initialize it; py_init_s is both.
_SQL_METRICS = {
    "scan time": ("scan_s", 1e-3),
    "time to start Python workers": ("py_init_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_bytes_in", 1),
    "data returned from Python workers": ("py_bytes_out", 1),
}


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the run, in order across rolled files
    (``events_<n>_<app>``, numbered from 1)."""
    def order(path: str) -> list:
        return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", path)]

    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True), key=order):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith(".") and "appstatus" not in name:
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _span_of(desc: str | None) -> int | None:
    m = _DESC.match(desc or "")
    return int(m.group(1)) if m else None


class SparkLog:
    """Per-span sums of Spark's own instruments.

    ``per_span[span_id]`` is a Counter of: ``execs``, ``jobs``,
    ``tasks``, ``task_failures``, ``gc_s``, ``shuffle_write_s``,
    ``fetch_wait_s``, ``shuffle_bytes``, the SQL metrics in
    ``_SQL_METRICS`` and ``exec_s`` (wall time of the span's SQL
    executions)."""

    def __init__(self, events: list[dict]):
        self.per_span: dict[int | None, Counter] = defaultdict(Counter)
        self.unattributed_execs = 0
        exec_span: dict[int, int | None] = {}
        exec_start: dict[int, float] = {}
        acc_def: dict[int, str] = {}  # SQL metric accumulator → metric name
        stage_span: dict[int, int | None] = {}

        def walk(plan: dict) -> None:
            for m in plan.get("metrics", []):
                acc_def[m["accumulatorId"]] = m["name"]
            for child in plan.get("children", []):
                walk(child)

        def add_sql(span, acc_id, value) -> None:
            if acc_def.get(acc_id) in _SQL_METRICS:
                key, scale = _SQL_METRICS[acc_def[acc_id]]
                self.per_span[span][key] += value * scale

        for e in events:
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerSQLExecutionStart":
                eid = e["executionId"]
                root = e.get("rootExecutionId", eid)
                span = _span_of(e.get("description"))
                if span is None and root in exec_span:
                    span = exec_span[root]
                exec_span[eid] = span
                exec_start[eid] = e["time"]
                walk(e["sparkPlanInfo"])
                self.per_span[span]["execs"] += 1
                if span is None:
                    self.unattributed_execs += 1
            elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                walk(e["sparkPlanInfo"])
            elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
                # metrics of re-planned nested plans (a cached relation
                # such as the crawl's fetched articles) arrive here only
                for m in e["sqlPlanMetrics"]:
                    acc_def[m["accumulatorId"]] = m["name"]
            elif kind == "SparkListenerSQLExecutionEnd":
                eid = e["executionId"]
                if eid in exec_start:
                    span = exec_span.get(eid)
                    self.per_span[span]["exec_s"] += (e["time"] - exec_start[eid]) / 1e3
            elif kind == "SparkListenerDriverAccumUpdates":
                span = exec_span.get(e["executionId"])
                for acc_id, value in e["accumUpdates"]:
                    add_sql(span, acc_id, value)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = self._prop_span(props, exec_span)
                self.per_span[span]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_span[e["Stage Info"]["Stage ID"]] = self._prop_span(props, exec_span)
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(e["Stage ID"])
                c = self.per_span[span]
                c["tasks"] += 1
                if e.get("Task End Reason", {}).get("Reason") != "Success":
                    c["task_failures"] += 1
                tm = e.get("Task Metrics") or {}
                c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics", {})
                c["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
                c["fetch_wait_s"] += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
                for acc in e.get("Task Info", {}).get("Accumulables", []):
                    if acc_def.get(acc.get("ID")) in _SQL_METRICS and "Update" in acc:
                        add_sql(span, acc["ID"], float(acc["Update"]))

    @staticmethod
    def _prop_span(props: dict, exec_span: dict) -> int | None:
        for key in ("spark.sql.execution.id", "spark.sql.execution.root.id"):
            if key in props and int(props[key]) in exec_span:
                span = exec_span[int(props[key])]
                if span is not None:
                    return span
        return _span_of(props.get("spark.job.description"))

    def total(self, span_ids) -> Counter:
        out: Counter = Counter()
        for sid in span_ids:
            out.update(self.per_span.get(sid, Counter()))
        return out
