"""Spans around calls into the engine's layers, and the traced-run census.

A span records name, start, end and parent. While a span is open the
Spark local properties ``spark.jobGroup.id`` and ``perfbench.span``
carry its path (``outer/inner``), so every job lands in the event log
under the innermost span that issued it. A streaming drain runs its
micro-batches on the query's own thread, which sets its job group to
the query's run id but inherits ``perfbench.span``; the census maps
those groups back through that property.

Lazy layers (``clean_transactions``, ``incremental_extract``, plan
builders) only build plans: their spans measure build time, and the
jobs their frames later run land in the span of whoever issues the
action.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROP = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    path: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when given a SparkContext; a no-op otherwise."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def on(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        path = f"{parent.path}/{name}" if parent else name
        rec = Span(len(self.spans), name, path, parent.id if parent else None, time.perf_counter())
        self.spans.append(rec)
        self._stack.append(rec)
        self._set(path)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._set(parent.path if parent else None)

    def _set(self, path: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", path)
        self.sc.setLocalProperty(SPAN_PROP, path)

    def wrap(self, name: str, fn):
        """``fn`` with every call inside a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self, window: tuple[float, float] | None = None) -> dict[str, float]:
        """Self time per span name: duration minus the part covered by
        child spans, summed over spans that start inside ``window``."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            if window and not (window[0] <= s.start < window[1]):
                continue
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(s.id, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _import_perf_probe(root: str):
    """``tools/perf_probe.py`` is a script, not a package module."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import perf_probe

    return perf_probe


def event_census(root: str, log_dir: str) -> dict[str, dict]:
    """Per span path: perf_probe's job/task/CPU/shuffle sums, plus GC
    time, shuffle fetch wait, scheduler delay and files read, which this
    module reads from the same event log."""
    probe = _import_perf_probe(root)
    base = probe.parse_event_log(log_dir)
    group_span: dict[str, str] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    file_metric_ids: set[int] = set()
    extra: dict[str, dict] = {}
    accum: list[tuple[int, int, int]] = []
    # plain logs sit in log_dir, rolling (v2) logs in one dir per app
    paths = glob.glob(os.path.join(log_dir, "*")) + glob.glob(os.path.join(log_dir, "*", "events_*"))
    for path in sorted(p for p in paths if not os.path.isdir(p) and "appstatus" not in os.path.basename(p)):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROP)
                    if not span:
                        continue
                    grp = props.get("spark.jobGroup.id")
                    if grp and grp != span:
                        group_span[grp] = span
                    for st in ev.get("Stage Infos", []):
                        stage_span[st["Stage ID"]] = span
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_span[int(eid)] = span
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev.get("Stage ID"))
                    if not span:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    d = extra.setdefault(span, {"gc_s": 0.0, "fetch_wait_s": 0.0, "sched_delay_s": 0.0})
                    d["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    d["fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                    busy = (
                        tm.get("Executor Run Time", 0)
                        + tm.get("Executor Deserialize Time", 0)
                        + tm.get("Result Serialization Time", 0)
                        + ti.get("Getting Result Time", 0)
                    )
                    d["sched_delay_s"] += max(0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0) - busy) / 1e3
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _file_metric_ids(ev.get("sparkPlanInfo") or {}, file_metric_ids)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    accum.extend((ev.get("executionId"), a, int(v)) for a, v in ev.get("accumUpdates", []))
    out: dict[str, dict] = {}
    for grp, m in base.items():
        span = group_span.get(grp, grp)
        cur = out.setdefault(span, {})
        for k, v in m.items():
            cur[k] = cur.get(k, 0) + v
    for span, m in extra.items():
        out.setdefault(span, {}).update(m)
    for eid, acc_id, n in accum:
        span = exec_span.get(eid)
        if span and acc_id in file_metric_ids:
            cur = out.setdefault(span, {})
            cur["files_read"] = cur.get("files_read", 0) + n
    return out


def _file_metric_ids(node: dict, acc: set[int]) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of files read":
            acc.add(m["accumulatorId"])
    for c in node.get("children", []):
        _file_metric_ids(c, acc)


def dir_census(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under ``path``, read from disk."""
    files = nbytes = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, n))
    return files, nbytes


def leaf_dirs(path: str) -> int:
    """Directories under ``path`` that directly hold parquet files."""
    return sum(1 for d, _, names in os.walk(path) if any(n.endswith(".parquet") for n in names))
