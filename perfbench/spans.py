"""Span recorder and Spark event-log parser for the traced run.

Spans are recorded from the benchmark's own files, around the calls it
makes into the program (and, by patching attributes for the duration of
a traced run, around ``StageRunner.run_stage``, ``DataFrameWriter``
saves and ``imagedup.scene_dedup_keep_best``, which the jobs call). They
are kept in memory and written at the end.

Spark's event log (``spark.eventLog.enabled``, set as benchmark conf) is
parsed into *facts*: (time, metric, value, tag). Each fact belongs to the
innermost span open at its time: task facts at the task's launch, job
facts at submission, driver-side SQL metric updates at the last event
time before them. The benchmark drives Spark from one thread, so the
innermost span open at a time is the one that caused the work.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time
from collections import defaultdict
from pathlib import Path


class NullRecorder:
    """Recorder used when tracing is off: spans cost nothing."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class SpanRecorder:
    """Spans kept in memory, written out with ``write`` when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span named ``name``; its parent is the innermost span open
        when it starts, on any thread (stream batches call back on another
        thread while the driver thread waits inside the drain span)."""
        with self._lock:
            sid = next(self._ids)
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            with self._lock:
                self._stack.remove(sid)
                self.spans.append(
                    dict(id=sid, parent=parent, name=name,
                         start_ms=start * 1000.0, end_ms=end * 1000.0,
                         attrs=dict(attrs))
                )

    def patch(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Wrap ``owner.attr`` in a span until ``unpatch``; ``attrs_of``
        maps the call's arguments to span attributes."""
        orig = getattr(owner, attr)
        rec = self

        def wrapper(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with rec.span(name, **attrs):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: Path, facts_by_span: dict[int, dict] | None = None) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start_ms"]):
                row = dict(s)
                if facts_by_span is not None:
                    row["metrics"] = facts_by_span.get(s["id"], {})
                f.write(json.dumps(row) + "\n")


# --- event log -----------------------------------------------------------------

_PY_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "number of output rows": "python.rows_received",
}
_SCAN_METRICS = {
    "number of output rows": "scan.rows",
    "scan time": "scan.ms",
    "size of files read": "scan.bytes",
}
_WRITE_METRICS = {
    "number of output rows": "write.rows",
    "number of written files": "write.files",
    "written output": "write.bytes",
    "task commit time": "write.commit_ms",
    "job commit time": "write.commit_ms",
}
_LOCATION = re.compile(r"Location: \w+\(\d+ paths?\)\[([^\]]+)\]")
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


def _node_kind(node: dict) -> tuple[dict | None, str]:
    names = {m["name"] for m in node["metrics"]}
    simple = node.get("simpleString", "")
    if "data sent to Python workers" in names:
        return _PY_METRICS, ""
    if "InsertIntoHadoopFsRelationCommand" in node["nodeName"]:
        m = _WRITE_PATH.search(simple)
        return _WRITE_METRICS, m.group(1) if m else ""
    if node["nodeName"].startswith("Scan"):
        m = _LOCATION.search(simple)
        return _SCAN_METRICS, m.group(1) if m else ""
    return None, ""


def _register_plan(node: dict, acc: dict[int, tuple[str, str]]) -> None:
    table, tag = _node_kind(node)
    if table is not None:
        for m in node["metrics"]:
            if m["name"] in table:
                acc[m["accumulatorId"]] = (table[m["name"]], tag)
    for child in node["children"]:
        _register_plan(child, acc)


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse_event_log(path: Path) -> list[tuple[float, str, float, str]]:
    """Facts ``(t_ms, metric, value, tag)`` from one uncompressed,
    non-rolling Spark event log. ``tag`` is the path of the scanned or
    written table for scan/write facts, else ''."""
    acc: dict[int, tuple[str, str]] = {}
    facts: list[tuple[float, str, float, str]] = []
    last_t = 0.0
    with open(path) as f:
        events = [json.loads(line) for line in f if line.strip()]
    # plans first: AQE re-plans register new accumulators for nodes whose
    # task updates can precede the update event in the log
    for e in events:
        if "sparkPlanInfo" in e:
            _register_plan(e["sparkPlanInfo"], acc)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            last_t = float(e["Submission Time"])
            facts.append((last_t, "spark.jobs", 1, ""))
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            t = float(info["Launch Time"])
            last_t = max(last_t, float(info["Finish Time"]))
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            im = tm.get("Input Metrics", {})
            for metric, value in (
                ("spark.tasks", 1),
                ("task.run_ms", tm.get("Executor Run Time", 0)),
                ("task.cpu_ns", tm.get("Executor CPU Time", 0)),
                ("jvm.gc_ms", tm.get("JVM GC Time", 0)),
                ("input.bytes", im.get("Bytes Read", 0)),
                ("input.records", im.get("Records Read", 0)),
                ("shuffle.write_bytes", sw.get("Shuffle Bytes Written", 0)),
                ("shuffle.read_bytes",
                 sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
                ("shuffle.spill_bytes",
                 tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)),
            ):
                facts.append((t, metric, value, ""))
            py_seen = False
            for a in info.get("Accumulables", []):
                hit = acc.get(a.get("ID"))
                if hit is None:
                    continue
                metric, tag = hit
                facts.append((t, metric, _as_int(a.get("Update")), tag))
                py_seen |= metric == "python.total_ms"
            if py_seen:
                facts.append((t, "python.crossings", 1, ""))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                hit = acc.get(acc_id)
                if hit is not None:
                    facts.append((last_t, hit[0], _as_int(value), hit[1]))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            last_t = float(e["time"])
        elif kind == "SparkListenerJobEnd":
            last_t = float(e["Completion Time"])
    return facts


def event_log_file(log_dir: Path) -> Path:
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


class Attribution:
    """Facts grouped by the innermost span open at their time."""

    def __init__(self, spans: list[dict], facts: list[tuple[float, str, float, str]]):
        self.spans = {s["id"]: s for s in spans}
        self.children: dict[int | None, list[int]] = defaultdict(list)
        for s in spans:
            self.children[s["parent"]].append(s["id"])
        depth: dict[int, int] = {}
        for sid in self.spans:
            d, p = 0, self.spans[sid]["parent"]
            while p is not None:
                d, p = d + 1, self.spans[p]["parent"]
            depth[sid] = d
        self.by_span: dict[int | None, list[tuple[str, float, str]]] = defaultdict(list)
        ordered = sorted(spans, key=lambda s: (-depth[s["id"]], -s["start_ms"]))
        for t, metric, value, tag in facts:
            owner = next(
                (s["id"] for s in ordered if s["start_ms"] - 1 <= t <= s["end_ms"] + 1),
                None,
            )
            self.by_span[owner].append((metric, value, tag))

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def facts(self, sid: int) -> list[tuple[str, float, str]]:
        return [f for s in self.subtree(sid) for f in self.by_span.get(s, [])]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans.values() if s["name"] == name]

    def summary(self, sid: int) -> dict[str, float]:
        """Per-metric sums over the span's own facts (not its children)."""
        out: dict[str, float] = defaultdict(float)
        for metric, value, _ in self.by_span.get(sid, []):
            out[metric] += value
        return dict(out)


def total(facts, metric: str, tag_pred=None) -> float:
    return float(
        sum(v for m, v, tag in facts if m == metric and (tag_pred is None or tag_pred(tag)))
    )


def values(facts, metric: str, tag_pred=None) -> list[float]:
    return [v for m, v, tag in facts if m == metric and (tag_pred is None or tag_pred(tag))]
