"""Spans, layer wrappers and Spark event-log counters for the traced run.

Everything here observes the engine from outside: wrappers around the
public functions of each layer, the JVM's management beans, and the
event log Spark writes when `spark.eventLog.enabled` is set. Spans are
kept in memory and written out once, when the benchmark ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict

#: layer -> (module, public functions wrapped): the layers named in
#: README.md, and of the operators and functions only those the workloads'
#: items call; a function's span is named `<layer>.<function>`.
WRAPPED = {
    "operators": [
        ("citegraph_spark.operators.graph", ["density", "hop_plot", "connected_pairs_by_distance"]),
    ],
    "functions": [
        ("citegraph_spark.functions.similarity", ["cosine_topk_bruteforce"]),
        ("citegraph_spark.functions.multimodal", ["sample_frames"]),
    ],
    "lineage": [("citegraph_spark.lineage", ["cut_lineage"])],
    "sources": [
        ("citegraph_spark.sources.tables", ["load_table"]),
        ("citegraph_spark.sources.citations", ["load_citations", "load_published_dates"]),
    ],
    "sinks": [
        ("citegraph_spark.sources.sinks", [
            "save_csv_single", "save_sorted_csv_single", "save_parquet",
            "save_sorted_parquet", "upsert_parquet", "overwrite_partitions_dynamic",
        ]),
    ],
}

PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.boot_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.received_mb",
}
MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder. `active` is switched on only for traced passes, so
    the wrappers cost one attribute read when it is off."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.item = ""
        self.results: dict[str, list] = defaultdict(list)

    def open(self, name: str, layer: str) -> dict:
        span = {
            "id": len(self.spans), "item": self.item, "name": name, "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack.pop()

    def wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.close(span)
            if fn.__name__ == "connected_pairs_by_distance" and out:
                self.results["bfs_pairs"].append((span["id"], out[-1][1]))
            return out

        return traced


def install_wrappers(tracer: Tracer) -> None:
    """Replace every module-level binding of each wrapped function, so
    `from x import f` copies made at import time are traced too."""
    import importlib
    import pkgutil

    import citegraph_spark

    for info in pkgutil.walk_packages(citegraph_spark.__path__, "citegraph_spark."):
        importlib.import_module(info.name)
    mods = [m for n, m in list(sys.modules.items()) if n.startswith("citegraph_spark") and m]
    for layer, entries in WRAPPED.items():
        for mod_name, names in entries:
            mod = importlib.import_module(mod_name)
            for fname in names:
                orig = getattr(mod, fname)
                wrapped = tracer.wrap(layer, orig)
                for m in mods:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)


class JvmCounters:
    """Cumulative JIT-compile and GC milliseconds of the driver JVM (which
    also runs the executors in local mode)."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> tuple[float, float]:
        gc_ms = sum(max(g.getCollectionTime(), 0) for g in self._gcs)
        return self._jit.getTotalCompilationTime() / 1000.0, gc_ms / 1000.0


def read_event_log(log_dir: str) -> dict:
    """Jobs (by job group) with their spans and summed task metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    job = {"group": group, "start": ev["Submission Time"] / 1000.0,
                           "end": None, "stages": set(), "m": defaultdict(float)}
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
                    _add_task(jobs[stage_job[ev["Stage ID"]]], ev)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs


def _add_task(job: dict, ev: dict) -> None:
    m = job["m"]
    info = ev.get("Task Info", {})
    tm = ev.get("Task Metrics") or {}
    job["stages"].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
    m["tasks"] += 1
    m["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    sw = tm.get("Shuffle Write Metrics", {})
    sr = tm.get("Shuffle Read Metrics", {})
    m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
    m["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
    m["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    m["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / MB
    m["input_rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
    m["output_mb"] += tm.get("Output Metrics", {}).get("Bytes Written", 0) / MB
    for acc in info.get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key and isinstance(acc.get("Update"), (int, float, str)):
            val = float(acc["Update"])
            m[key] += val / 1000.0 if key.endswith("_s") else val / MB


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
