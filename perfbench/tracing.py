"""Spans around the benchmark's calls into the library, and the Spark event
log parsed back into per-span work.

Each span sets the Spark job group of the calling thread, so every job
started inside it carries the span's id; jobs belong to the innermost open
span.  Nothing inside ``neontology_spark`` is instrumented.  After the
SparkContext stops, ``parse_event_log`` attributes jobs, tasks, task
metrics and SQL metrics to spans, and ``rollup`` sums them over subtrees.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced runs: spans cost nothing and set no job group."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span{len(self.spans)}", name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent.id, parent.name)

    def children(self, span_id: str) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_seconds(self, s: Span) -> float:
        """Span duration minus the time its child spans cover."""
        return s.seconds - sum(c.seconds for c in self.children(s.id))

    def subtree(self, span_id: str) -> list[str]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(sid)
            todo.extend(c.id for c in self.children(sid))
        return out


@dataclass
class Work:
    """Work Spark did for one span (its own jobs only)."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    python_rows_in: int = 0
    python_bytes_sent: int = 0
    python_run_s: float = 0.0
    # rows read by parquet scans whose read schema is exactly one column
    key_scan_rows: dict = field(default_factory=dict)

    def add(self, other: "Work") -> None:
        for k in ("jobs", "tasks", "executor_run_s", "input_bytes", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "python_rows_in",
                  "python_bytes_sent", "python_run_s"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for col, n in other.key_scan_rows.items():
            self.key_scan_rows[col] = self.key_scan_rows.get(col, 0) + n


_SINGLE_COL = re.compile(r"^struct<`?([A-Za-z_][A-Za-z0-9_]*)`?:[^,<>]+>$")


def _index_plan(node: dict, roles: dict[int, tuple]) -> None:
    """Record the SQL metric accumulators the per-layer metrics need:
    Python-worker metrics of MapInArrow nodes, the row count feeding each
    MapInArrow, and row counts of single-column parquet scans."""
    name = node["nodeName"]
    metrics = {m["name"]: m for m in node["metrics"]}
    if name == "MapInArrow":
        if "data sent to Python workers" in metrics:
            roles[metrics["data sent to Python workers"]["accumulatorId"]] = ("py_bytes", None)
        if "time to run Python workers" in metrics:
            m = metrics["time to run Python workers"]
            roles[m["accumulatorId"]] = ("py_run", m["metricType"])
        feeder = _first_row_count(node["children"])
        if feeder is not None:
            roles[feeder] = ("py_rows", None)
    elif name.startswith("Scan parquet"):
        schema = node.get("metadata", {}).get("ReadSchema", "")
        m = _SINGLE_COL.match(schema)
        if m and "number of output rows" in metrics:
            roles.setdefault(metrics["number of output rows"]["accumulatorId"], ("key_scan", m.group(1)))
    for child in node["children"]:
        _index_plan(child, roles)


def _first_row_count(children: list[dict]) -> int | None:
    """Accumulator of the nearest descendant that counts its output rows.
    Projections keep the row count; so does ColumnarToRow, which is skipped
    because the executed plan adds it above a scan whose own counter the
    initial plan already names (counting both would count each row twice)."""
    for child in children:
        for m in child["metrics"]:
            if m["name"] == "number of output rows" and child["nodeName"] != "ColumnarToRow":
                return m["accumulatorId"]
        found = _first_row_count(child["children"])
        if found is not None:
            return found
    return None


def find_event_log(log_dir: str, app_id: str) -> list[str]:
    """Event files of one application (Spark 4 rolls them into
    ``eventlog_v2_<app>/events_<n>_<app>``), in order."""
    paths = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    return sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1]))


def parse_event_log(paths: list[str]) -> dict[str, Work]:
    """Work per job group (span id) read from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    roles: dict[int, tuple] = {}
    work: dict[str, Work] = {}
    tasks = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                # most lines are task and plan events; skip the rest unparsed
                if '"SparkListenerJobStart"' in line[:60]:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    work.setdefault(group, Work()).jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line[:60]:
                    tasks.append(line)
                elif "SQLExecutionStart" in line[:120] or "SQLAdaptiveExecutionUpdate" in line[:120]:
                    _index_plan(json.loads(line)["sparkPlanInfo"], roles)
    for line in tasks:
        e = json.loads(line)
        group = stage_group.get(e["Stage ID"])
        if group is None:
            continue
        w = work[group]
        w.tasks += 1
        m = e.get("Task Metrics") or {}
        w.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
        w.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        w.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        w.spill_bytes += m.get("Disk Bytes Spilled", 0)
        for acc in e["Task Info"].get("Accumulables", ()):
            role = roles.get(acc["ID"])
            if role is None:
                continue
            value = int(acc["Update"])
            kind, arg = role
            if kind == "py_rows":
                w.python_rows_in += value
            elif kind == "py_bytes":
                w.python_bytes_sent += value
            elif kind == "py_run":
                w.python_run_s += value / (1e9 if arg == "nsTiming" else 1e3)
            elif kind == "key_scan":
                w.key_scan_rows[arg] = w.key_scan_rows.get(arg, 0) + value
    return work


def rollup(tracer: Tracer, work: dict[str, Work], span_ids) -> Work:
    """Work of the given spans and everything beneath them."""
    total = Work()
    for sid in span_ids:
        for sub in tracer.subtree(sid):
            if sub in work:
                total.add(work[sub])
    return total
