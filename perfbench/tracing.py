"""Tracing for the traced run: in-memory spans, counters, wrappers
around the library's public calls, and a stdlib-json reader of Spark's
uncompressed event log.

Nothing here patches the library's source. Wrappers replace module or
instance attributes for the life of one benchmark process, and only
when tracing is on; with tracing off every helper is a no-op, so the
untraced run measures the program as shipped.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, request id) and counters.

    A span may carry a Spark job group: jobs started inside it are
    tagged with the group, and the event log attributes executor work
    to the layer call that caused it."""

    def __init__(self, enabled: bool, spark):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        # epoch-second (start, end) of each traced operation: the event
        # log's jobs are attributed to the traced run through these
        self.windows: list[tuple[float, float]] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, req=None, group: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, req])
        self._stack.append(idx)
        sc = self.spark.sparkContext if group else None
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def busy(self, name: str) -> float:
        """Total duration of spans called ``name`` (nested repeats of
        the same name count once)."""
        total = 0.0
        for i, (n, t0, t1, parent, _) in enumerate(self.spans):
            if n != name or t1 is None:
                continue
            p = parent
            while p is not None and self.spans[p][0] != name:
                p = self.spans[p][3]
            if p is None:
                total += t1 - t0
        return total

    def wrap(self, owner, attr: str, name: str, count: str | None = None):
        """Replace ``owner.attr`` with a spanned version. Calls nested
        inside another call of the same wrapper count once; calls made
        while the tracer is disabled pass straight through."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled or (
                tracer._stack and tracer.spans[tracer._stack[-1]][0] == name
            ):
                return fn(*args, **kwargs)
            tracer.add(count or f"{name}.calls")
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, req in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "req": req}) + "\n")


# the public helpers; the serving table's private _rename_or_raise
# reaches the wrapped ``rename`` through the module namespace
FS_CALLS = (
    "exists", "is_dir", "list_names", "rename", "delete", "mkdirs",
    "write_text", "write_text_atomic", "rename_numbered", "read_text",
)


def wrap_fs(tracer: Tracer) -> None:
    """Time every call into ``platypus_ingestion_plugins_spark.fs``
    (the serving table's Hadoop FileSystem hop) as one layer."""
    from platypus_ingestion_plugins_spark import fs

    for attr in FS_CALLS:
        tracer.wrap(fs, attr, "serving.table.fs", count="serving.table.fs.ops")


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _walk_plan(node, out: dict):
    """accumulator id -> (node name, metric name) over a plan tree."""
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


class EventLog:
    """Per-job totals from one application's event log.

    ``jobs[id]`` holds the job's group (``spark.jobGroup.id``), submit
    and completion time (epoch seconds), stage and task counts,
    executor run/CPU/GC time, peak execution memory, shuffle and spill
    bytes, Python-worker bytes and rows output by scans.
    ``sql[group]`` holds the scans' driver-side metrics (files and
    partitions read) of the SQL executions whose jobs carry ``group``."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.sql: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        stage_job: dict[int, int] = {}
        exec_group: dict[int, str] = {}
        accum_names: dict[int, tuple[str, str]] = {}
        driver_accums: list[tuple[int, int, float]] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    jid = ev["Job ID"]
                    job = defaultdict(float)
                    job["group"] = g
                    job["submit"] = ev["Submission Time"] / 1000.0
                    job["end"] = job["submit"]
                    self.jobs[jid] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        self.jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is not None:
                        self._task(self.jobs[jid], ev, accum_names)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev["sparkPlanInfo"], accum_names)
                elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                    for m in ev.get("sqlPlanMetrics", []):
                        accum_names.setdefault(m["accumulatorId"], ("", m["name"]))
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in ev.get("accumUpdates", []):
                        driver_accums.append((ev["executionId"], acc_id, float(value)))
        for eid, acc_id, value in driver_accums:
            node, metric = accum_names.get(acc_id, ("", ""))
            if not node.startswith("Scan"):
                continue
            g = exec_group.get(eid, "")
            if metric == "number of files read":
                self.sql[g]["files_read"] += value
            elif metric == "number of partitions read":
                self.sql[g]["partitions_read"] += value

    @staticmethod
    def _task(acc: dict, ev: dict, accum_names: dict) -> None:
        acc["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        acc["run_s"] += m.get("Executor Run Time", 0) / 1000.0
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        acc["peak_mem_bytes"] = max(acc["peak_mem_bytes"], m.get("Peak Execution Memory", 0))
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = a.get("Name", "")
            try:
                v = float(a.get("Update"))
            except (TypeError, ValueError):
                continue
            if name == "data sent to Python workers":
                acc["python_bytes_sent"] += v
            elif name == "data returned from Python workers":
                acc["python_bytes_received"] += v
            elif name == "number of output rows" and accum_names.get(a.get("ID"), ("",))[0].startswith("Scan"):
                acc["scan_rows"] += v

    def total(self, keep) -> dict[str, float]:
        """Sums over the jobs for which ``keep(job)`` is true (peak
        memory: the maximum), plus their job count."""
        out: dict[str, float] = defaultdict(float)
        for job in self.jobs.values():
            if not keep(job):
                continue
            out["jobs"] += 1
            for k, v in job.items():
                if k in ("group", "submit", "end"):
                    continue
                out[k] = max(out[k], v) if k == "peak_mem_bytes" else out[k] + v
        return out

    def busy_union_s(self, t0: float, t1: float) -> float:
        """Wall seconds in [t0, t1] covered by at least one job."""
        spans = sorted(
            (max(j["submit"], t0), min(j["end"], t1))
            for j in self.jobs.values()
            if j["end"] > t0 and j["submit"] < t1
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return covered


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
