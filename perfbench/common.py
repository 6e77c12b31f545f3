"""Shared measurement helpers: spans, percentiles, streaming progress,
checkpoint/sink logs, the Spark event log and CodegenMetrics."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """Spans (name, start, end, parent) of one run, kept in memory and
    written out at the end. Disabled tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "run_id": self.run_id, "name": name, "start": start,
                           "end": end, "parent": parent, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the union of its children."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "self_s": self.self_times()}, f)


def percentile(values: list[float], q: float) -> float:
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_quantile(n: int) -> float:
    """p99 with at least 1000 samples, else the highest percentile that
    leaves at least ten samples beyond it (the maximum below 20 samples)."""
    if n >= 1000:
        return 0.99
    if n < 20:
        return 1.0
    return 1.0 - 10.0 / n


def latency_metrics(samples: list[float]) -> dict:
    q = tail_quantile(len(samples))
    return {"latency_p50_s": percentile(samples, 0.5), "latency_p99_s": percentile(samples, q),
            "latency_tail_q": q, "latency_samples": len(samples)}


# -- streaming --------------------------------------------------------------


def progress(query) -> list[dict]:
    """Every StreamingQueryProgress of `query` (the session keeps up to
    spark.sql.streaming.numRecentProgressUpdates of them)."""
    return [json.loads(p.json) for p in query.recentProgress]


def file_batches(checkpoint: str) -> dict[str, int]:
    """basename of each source file -> the batch id that read it, from the
    FileStreamSource metadata log in the checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if not os.path.basename(path).split(".")[0].isdigit():  # N and N.compact
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_end_times(progs: list[dict]) -> dict[int, float]:
    """batch id -> wall time the micro-batch finished (start + trigger time)."""
    import datetime as dt

    out = {}
    for p in progs:
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
        out[p["batchId"]] = start.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0
    return out


def source_pipeline_metrics(progs: list[dict], wall_s: float) -> dict:
    data = [p for p in progs if p["numInputRows"]]
    d = lambda k: sum(p["durationMs"].get(k, 0) for p in progs)  # noqa: E731
    busy = d("triggerExecution") / 1000.0
    return {
        "source.batches": len(data),
        "source.rows_per_batch": statistics.median([p["numInputRows"] for p in data]) if data else 0,
        "source.latest_offset_ms": d("latestOffset"),
        "source.get_batch_ms": d("getBatch"),
        "pipeline.trigger_ms": d("triggerExecution"),
        "pipeline.query_planning_ms": d("queryPlanning"),
        "pipeline.add_batch_ms": d("addBatch"),
        "pipeline.wal_commit_ms": d("walCommit"),
        "pipeline.commit_offsets_ms": d("commitOffsets"),
        "pipeline.idle_s": max(0.0, wall_s - busy),
    }


def state_metrics(progs: list[dict], prefix: str) -> dict:
    ops = [so for p in progs for so in p.get("stateOperators", [])]
    s = lambda k: sum(so.get(k, 0) or 0 for so in ops)  # noqa: E731
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progs if p["numInputRows"]]
    return {
        f"{prefix}.state_rows_peak": max((so.get("numRowsTotal", 0) for so in ops), default=0),
        f"{prefix}.state_bytes_peak": max((so.get("memoryUsedBytes", 0) for so in ops), default=0),
        f"{prefix}.state_commit_ms": s("commitTimeMs"),
        f"{prefix}.state_update_ms": s("allUpdatesTimeMs"),
        f"{prefix}.state_removal_ms": s("allRemovalsTimeMs"),
        f"{prefix}.rows_dropped_late": s("numRowsDroppedByWatermark"),
        f"{prefix}.batch_ms": statistics.median(trig) if trig else 0,
    }


def sink_markers(sink_dir: str) -> dict[int, dict]:
    """batch id -> commit marker of the exactly-once sink."""
    out = {}
    for path in glob.glob(os.path.join(sink_dir, "_commits", "*.json")):
        with open(path) as f:
            out[int(os.path.basename(path)[:-5])] = json.load(f)
    return out


def sink_metrics(sink_dir: str, markers: dict[int, dict]) -> dict:
    files = glob.glob(os.path.join(sink_dir, "data", "*", "*.parquet"))
    return {
        "sink.commits": len(markers),
        "sink.data_s": sum(m["data_s"] for m in markers.values()),
        "sink.lineage_s": sum(m["lineage_s"] for m in markers.values()),
        "sink.dlq_s": sum(m["dlq_s"] for m in markers.values()),
        "sink.files": len(files),
        "sink.bytes": sum(os.path.getsize(f) for f in files),
    }


# -- JVM-side counters ------------------------------------------------------


class Codegen:
    """CodegenMetrics (org.apache.spark.metrics.source) counted from the
    moment this object is made. The compile-time histogram keeps a sample,
    so compile_ms is count x sample mean."""

    def __init__(self, spark):
        self._cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._start = self._read()

    def _read(self) -> tuple[int, float]:
        h = self._cm.METRIC_COMPILATION_TIME()
        n = h.getCount()
        return n, n * h.getSnapshot().getMean()

    def delta(self) -> dict:
        n, ms = self._read()
        return {"codegen.classes": n - self._start[0], "codegen.compile_ms": ms - self._start[1]}


def query_phases(df) -> dict[str, int]:
    """QueryPlanningTracker phase durations (ms) of a DataFrame's plan."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out


def event_log_metrics(log_dir: str, t_lo: float, t_hi: float) -> dict:
    """Task-level totals from the Spark event log over tasks that finished
    inside [t_lo, t_hi] (epoch seconds)."""
    tasks = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                fin = e["Task Info"]["Finish Time"] / 1000.0
                m = e.get("Task Metrics") or {}
                if not (t_lo <= fin <= t_hi) or not m:
                    continue
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                tasks.append({
                    "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "records": m.get("Input Metrics", {}).get("Records Read", 0) + sr.get("Total Records Read", 0),
                })
    by_stage: dict[tuple, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["records"])
    skew = 0.0
    for recs in by_stage.values():
        med = statistics.median(recs)
        if len(recs) >= 2 and med > 0:
            skew = max(skew, max(recs) / med)
    return {
        "exec.tasks": len(tasks),
        "exec.task_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
        "shuffle.write_bytes": sum(t["sw"] for t in tasks),
        "shuffle.read_bytes": sum(t["sr"] for t in tasks),
        "shuffle.spill_bytes": sum(t["spill"] for t in tasks),
        "shuffle.task_skew": skew,
    }
