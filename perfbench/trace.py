"""Spans around the benchmark's calls into the engine, attributed to
Spark's own task metrics through the JSON event log.

Every span runs its Spark work under its own job group, so each stage
in the event log names the innermost span that submitted it. The log
is read with stdlib ``json`` after the session stops.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from opentsdb_rollup_rust_spark.sources.store import ManifestStore

#: SQL metrics of the Python-worker boundary (bytes each way).
PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")
FILES_READ_METRIC = "number of files read"


class Tracer:
    """Records spans (name, start, end, parent, attributes). Disabled
    tracers keep no spans and touch no job group."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name, interruptOnCancel=False)
        sp["start"], sp["epoch_start"] = time.monotonic(), time.time()
        try:
            yield attrs
        finally:
            sp["end"], sp["epoch_end"] = time.monotonic(), time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"], interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def _append_kind(table: str) -> str:
    if table.startswith("rollup_"):
        return "rollup"
    if table.startswith("chunks_"):
        return "chunks"
    if table in ("lineage", "metrics"):
        return "report"
    return table


def table_files(root: str, table: str) -> tuple[int, int]:
    """(parquet files, bytes) under one table directory."""
    files = size = 0
    for d, _, names in os.walk(os.path.join(root, table)):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class TracedStore(ManifestStore):
    """ManifestStore whose appends are spans named
    ``store.append.<sequences|rollup|chunks|report|other table>``;
    each span records the files and bytes its commit wrote."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def append(self, table, df, summary=None):
        with self.tracer.span(f"store.append.{_append_kind(table)}", table=table) as a:
            f0, b0 = table_files(self.root, table)
            snap = super().append(table, df, summary=summary)
            f1, b1 = table_files(self.root, table)
            a.update(files=f1 - f0, bytes=b1 - b0)
        return snap


def _zero():
    return {"cpu_s": 0.0, "gc_s": 0.0, "run_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "python_mb": 0.0, "records_read": 0,
            "files_read": 0, "tasks": 0}


def parse_event_log(path: str, spans: list[dict]) -> dict[str, dict]:
    """Task metrics per span from one uncompressed event log.

    A stage belongs to the job group it was submitted under. Work Spark
    submits from its own threads (cache materialization under adaptive
    execution) carries no job group; it goes to the innermost span open
    at its submission time."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    exec_time: dict[int, float] = {}

    def at(epoch_ms):
        inner = None
        for sp in spans:  # spans open in nesting order: the last match is innermost
            if sp["epoch_start"] * 1e3 <= epoch_ms <= sp["epoch_end"] * 1e3:
                inner = sp["id"]
        return inner

    acc_names: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []
    out: dict[str, dict] = defaultdict(_zero)

    def plan_metrics(info):
        for m in info.get("metrics", []):
            acc_names[m["accumulatorId"]] = m["name"]
        for c in info.get("children", []):
            plan_metrics(c)

    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                info = e["Stage Info"]
                stage_group[info["Stage ID"]] = props.get("spark.jobGroup.id") or at(
                    info.get("Submission Time") or 0)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                if ex is not None and props.get("spark.jobGroup.id"):
                    exec_group.setdefault(int(ex), props["spark.jobGroup.id"])
            elif ev == "SparkListenerTaskEnd":
                tasks.append(e)
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plan_metrics(e.get("sparkPlanInfo") or {})
                if "time" in e:
                    exec_time[e["executionId"]] = e["time"]
            elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in e.get("sqlPlanMetrics", []):
                    acc_names[m["accumulatorId"]] = m["name"]
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in e.get("accumUpdates", []):
                    driver_updates.append((e["executionId"], acc, val))

    for e in tasks:
        g = stage_group.get(e["Stage ID"])
        if g is None:
            continue
        m = e.get("Task Metrics") or {}
        o = out[g]
        o["tasks"] += 1
        o["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        o["run_s"] += m.get("Executor Run Time", 0) / 1e3
        o["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        o["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
        o["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) / 1e6
        o["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") in PYTHON_METRICS:
                o["python_mb"] += float(acc.get("Update") or 0) / 1e6
    for ex, acc, val in driver_updates:
        g = exec_group.get(ex) or at(exec_time.get(ex, 0))
        if g is not None and acc_names.get(acc) == FILES_READ_METRIC:
            out[g]["files_read"] += int(val)
    return dict(out)


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")
            and not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {logs}")
    return os.path.join(log_dir, logs[0])


class SpanIndex:
    """Self and inclusive Spark metrics per span."""

    def __init__(self, spans: list[dict], by_group: dict[str, dict]):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children: dict[str, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"]:
                self.children[s["parent"]].append(s)
        self.self_metrics = {s["id"]: by_group.get(s["id"], _zero()) for s in spans}

    def wall(self, s: dict) -> float:
        return s["end"] - s["start"]

    def inclusive(self, s: dict) -> dict:
        tot = dict(self.self_metrics[s["id"]])
        for c in self.children[s["id"]]:
            for k, v in self.inclusive(c).items():
                tot[k] += v
        return tot

    def descendants(self, s: dict, name: str | None = None) -> list[dict]:
        out = []
        for c in self.children[s["id"]]:
            if name is None or c["name"] == name:
                out.append(c)
            out.extend(self.descendants(c, name))
        return out

    def coverage(self, s: dict) -> float:
        """Share of a span's wall covered by its direct children."""
        kids = sum(self.wall(c) for c in self.children[s["id"]])
        return kids / self.wall(s) if self.wall(s) > 0 else 0.0
