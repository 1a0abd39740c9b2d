"""Per-layer accounting for a traced run, read from Spark's own books.

Spans come from the benchmark's side of each layer boundary: every build
call and every action runs under a Spark local property naming its
(pass, op, phase), which every job it starts carries, including jobs of
streaming queries it starts. After the session stops, the event log gives
each job's stages and tasks (task metrics and SQL metrics); a Python
``StreamingQueryListener`` gives each micro-batch's durations and state
sizes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
from collections import defaultdict
from datetime import datetime

SPAN_KEY = "perfbench.span"

PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("catalyst.jobs", "count"),
    ("catalyst.stages", "count"),
    ("catalyst.tasks", "count"),
    ("operators.exec_s", "s"),
    ("operators.executor_run_s", "s"),
    ("operators.executor_cpu_s", "s"),
    ("operators.gc_s", "s"),
    ("operators.shuffle_write_bytes", "bytes"),
    ("operators.shuffle_read_bytes", "bytes"),
    ("operators.shuffle_fetch_wait_s", "s"),
    ("operators.spill_bytes", "bytes"),
    ("operators.peak_exec_memory_bytes", "bytes"),
    ("sources.read_bytes", "bytes"),
    ("sources.read_rows", "count"),
    ("sources.write_bytes", "bytes"),
    ("sources.write_s", "s"),
    ("python.total_s", "s"),
    ("python.boot_s", "s"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_received", "bytes"),
    ("python.rows_received", "count"),
    ("multimodal.decodes_per_tile", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("trace.run_s", "s"),
    ("trace.overhead_s", "s"),
)

# PythonSQLMetrics display names (Spark 4.1) -> our keys. Stateful
# streaming operators declare these metrics too, so they are read only on
# Python-worker nodes.
_PY_METRICS = {
    "time to run Python workers": "py_total_s",
    "time to start Python workers": "py_boot_s",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "number of output rows": "py_rows",
}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def span(pass_id: str, op: str, phase: str) -> str:
    return f"{pass_id}|{op}|{phase}"


class ProgressLog:
    """Streaming progress events, collected by a listener on the Spark
    listener bus (delivered asynchronously, hence the lock)."""

    def __init__(self):
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def add(self, progress: dict) -> None:
        with self._lock:
            self.events.append(progress)

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _python_accums(plan: dict, out: dict) -> None:
    """Map accumulator id -> key for the metrics of Python-worker nodes
    (MapInPandas, MapInArrow, ArrowEvalPython, ...) in a plan tree."""
    if _PY_NODE.search(plan.get("nodeName", "")):
        for m in plan.get("metrics", []):
            if m["name"] in _PY_METRICS:
                out[m["accumulatorId"]] = _PY_METRICS[m["name"]]
    for child in plan.get("children", []):
        _python_accums(child, out)


def read_event_log(log_dir: str) -> dict:
    """Per-span sums of task and SQL metrics from a finished event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_span = {}
    py_accums = {}
    acc = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                tag = (e.get("Properties") or {}).get(SPAN_KEY)
                if tag:
                    acc[tag]["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_span.setdefault(sid, tag)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_accums(e["sparkPlanInfo"], py_accums)
            elif kind == "SparkListenerStageCompleted":
                tag = stage_span.get(e["Stage Info"]["Stage ID"])
                if tag:
                    acc[tag]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                tag = stage_span.get(e["Stage ID"])
                if tag:
                    _add_task(acc[tag], e, py_accums)
    return acc


def _add_task(a: dict, e: dict, py_accums: dict) -> None:
    m = e.get("Task Metrics") or {}
    a["tasks"] += 1
    a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    a["peak_exec_memory_bytes"] = max(
        a["peak_exec_memory_bytes"], m.get("Peak Execution Memory", 0)
    )
    sr = m.get("Shuffle Read Metrics") or {}
    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    a["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    a["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    im = m.get("Input Metrics") or {}
    a["read_bytes"] += im.get("Bytes Read", 0)
    a["read_rows"] += im.get("Records Read", 0)
    a["write_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for u in (e.get("Task Info") or {}).get("Accumulables", []):
        key = py_accums.get(u.get("ID"))
        if key and u.get("Update") is not None:
            scale = 1e3 if key.endswith("_s") else 1
            a[key] += float(u["Update"]) / scale


def _streaming(progress: list[dict], windows: list[tuple]) -> dict:
    """Micro-batch totals for the progress events whose trigger started
    inside one of ``windows`` [(start, end), ...] (epoch seconds)."""
    out = defaultdict(float)
    last_state = {}
    for p in progress:
        t = _epoch_s(p["timestamp"])
        if not any(lo <= t <= hi for lo, hi in windows):
            continue
        d = p.get("durationMs", {})
        out["batches"] += 1
        out["add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
        ops = p.get("stateOperators") or []
        last_state[p["runId"]] = (
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )
    out["state_rows"] = sum(r for r, _ in last_state.values())
    out["state_memory_bytes"] = sum(m for _, m in last_state.values())
    return out


def per_layer(passes: list[dict], acc: dict, progress: list[dict], session_start_s: float,
              tile_ops: set, tiles: int, untraced_run_s: float) -> dict:
    """Median over traced passes of each per-layer metric.

    ``passes`` holds one record per traced pass (``worker.run_pass``);
    ``tile_ops`` names the ops that read the ``tiles`` raster tiles."""
    rows = []
    for p in passes:
        pid = p["id"]
        tags = [t for t in acc if t.startswith(pid + "|")]
        s = defaultdict(float)
        for t in tags:
            for k, v in acc[t].items():
                if k == "peak_exec_memory_bytes":
                    s[k] = max(s[k], v)
                else:
                    s[k] += v
        build_jobs = sum(acc[t]["jobs"] for t in tags if t.endswith("|build"))
        tile_rows = sum(
            acc[t]["read_rows"] for t in tags if t.split("|")[1] in tile_ops
        )
        st = _streaming(progress, p["windows"])
        rows.append({
            "session.start_s": session_start_s,
            "registry.build_s": p["build_s"],
            "registry.build_jobs": build_jobs,
            "catalyst.plan_s": p["plan_s"],
            "catalyst.jobs": s["jobs"],
            "catalyst.stages": s["stages"],
            "catalyst.tasks": s["tasks"],
            "operators.exec_s": p["exec_s"],
            "operators.executor_run_s": s["executor_run_s"],
            "operators.executor_cpu_s": s["executor_cpu_s"],
            "operators.gc_s": s["gc_s"],
            "operators.shuffle_write_bytes": s["shuffle_write_bytes"],
            "operators.shuffle_read_bytes": s["shuffle_read_bytes"],
            "operators.shuffle_fetch_wait_s": s["shuffle_fetch_wait_s"],
            "operators.spill_bytes": s["spill_bytes"],
            "operators.peak_exec_memory_bytes": s["peak_exec_memory_bytes"],
            "sources.read_bytes": s["read_bytes"],
            "sources.read_rows": s["read_rows"],
            "sources.write_bytes": s["write_bytes"],
            "sources.write_s": p["sink_s"] + st["commit_s"],
            "python.total_s": s["py_total_s"],
            "python.boot_s": s["py_boot_s"],
            "python.bytes_sent": s["py_sent"],
            "python.bytes_received": s["py_recv"],
            "python.rows_received": s["py_rows"],
            "multimodal.decodes_per_tile": tile_rows / tiles if tiles else 0.0,
            "streaming.batches": st["batches"],
            "streaming.add_batch_s": st["add_batch_s"],
            "streaming.query_planning_s": st["query_planning_s"],
            "streaming.commit_s": st["commit_s"],
            "streaming.state_rows": st["state_rows"],
            "streaming.state_memory_bytes": st["state_memory_bytes"],
            "trace.run_s": p["run_s"],
        })
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["trace.overhead_s"] = out["trace.run_s"] - untraced_run_s
    return out
