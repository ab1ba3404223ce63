"""Metric catalogue and the reduction of one run's passes to metrics.

End-to-end metrics come from untraced runs only. Per-layer metrics come
from the traced passes of a `--trace 1` run: each is computed per pass
and reported as the median over those passes.
"""

from __future__ import annotations

import json
import math
import os
import statistics

from perfbench import trace
from perfbench.workloads import REGISTRY

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("geomean_item_s", "s"), ("peak_rss_mb", "MB"),
]

#: the public functions the workloads' items call (see trace.WRAPPED)
OPERATOR_FNS = ["density", "hop_plot"]
FUNCTION_FNS = ["cosine_topk_bruteforce", "sample_frames"]
ITEMS = ["density", "diameter"] + [n for _sf, names in REGISTRY.values() for n in names]
SELF_LAYERS = ["plans", "operators", "functions", "lineage", "sources", "sinks", "engine"]

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = (
    [("session.start_s", "s", "lower"), ("session.jit_compile_s", "s", "lower"),
     ("plans.build_s", "s", "lower"), ("plans.build_jobs", "count", "lower"),
     ("plans.execute_s", "s", "lower")]
    + [(f"item.{n}.s", "s", "lower") for n in ITEMS]
    + [("catalyst.plan_s", "s", "lower")]
    + [(f"engine.{n}", u, "lower") for n, u in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
        ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"), ("jit_compile_s", "s"),
        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB")]]
    + [m for f in OPERATOR_FNS
       for m in [(f"operators.{f}.s", "s", "lower"), (f"operators.{f}.calls", "count", "lower")]]
    + [("operators.bfs_yield", "ratio", "higher"),
       ("lineage.cut_calls", "count", "lower"), ("lineage.cut_s", "s", "lower"),
       ("lineage.leaked_rdds", "count", "lower")]
    + [(f"functions.{f}.s", "s", "lower") for f in FUNCTION_FNS]
    + [("pyworker.run_s", "s", "lower"), ("pyworker.boot_s", "s", "lower"),
       ("pyworker.sent_mb", "MB", "lower"), ("pyworker.received_mb", "MB", "lower"),
       ("sources.load_s", "s", "lower"), ("sources.input_mb", "MB", "lower"),
       ("sources.input_rows", "count", "lower"),
       ("sinks.write_s", "s", "lower"), ("sinks.output_mb", "MB", "lower")]
    + [(f"{layer}.self_s", "s", "lower") for layer in SELF_LAYERS]
    + [("tracing.overhead_s", "s", "lower")]
)
UNITS = dict((n, u) for n, u in END_TO_END) | {n: u for n, u, _b in PER_LAYER}


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def fast_half_median(times: list[float]) -> float:
    """Median of the fastest half (rounded up) of an item's timed passes.
    On a shared host, other machines' load only ever adds time, and it
    comes in stretches that can cover whole passes."""
    fastest = sorted(times)[: (len(times) + 1) // 2]
    return statistics.median(fastest)


def _metric(name: str, value: float) -> dict:
    return {"value": value, "unit": UNITS[name]}


def result(run, items, session_s: float, warm_s: float, setup_jit_s: float, work: str) -> dict:
    untraced = [p for p in run.passes if not p["traced"]]
    walls = [sum(p["items"].values()) for p in untraced]
    if not run.traced:
        per_item = [fast_half_median([p["items"][it.name] for p in untraced]) for it in items]
        values = {
            "setup_s": session_s + warm_s,
            "wall_s": sum(per_item),
            "geomean_item_s": geomean(per_item),
            "peak_rss_mb": statistics.median(p["peak_mb"] for p in untraced),
        }
        return {"metrics": {n: _metric(n, v) for n, v in values.items()}}

    jobs = trace.read_event_log(os.path.join(work, "eventlog"))
    traced = [(i, p) for i, p in enumerate(run.passes) if p["traced"]]
    per_pass = [_pass_metrics(i, p, run.tracer, jobs) for i, p in traced]
    values = {n: statistics.median(pp.get(n, 0.0) for pp in per_pass) for n, _u, _b in PER_LAYER}
    values["session.start_s"] = session_s
    values["session.jit_compile_s"] = setup_jit_s
    values["tracing.overhead_s"] = (
        statistics.median(sum(p["items"].values()) for _i, p in traced) - statistics.median(walls)
    )
    _write_spans(run, jobs)
    return {"metrics": {n: _metric(n, values[n]) for n, _u, _b in PER_LAYER}}


def _pass_metrics(pass_no: int, rec: dict, tracer, jobs: dict) -> dict:
    prefix = f"{pass_no}/"
    spans = [s for s in tracer.spans if s["item"].startswith(prefix)]
    pjobs = [j for j in jobs.values() if j["group"].startswith(prefix)]
    out: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        out[name] = out.get(name, 0.0) + v

    for name, secs in rec["items"].items():
        add(f"item.{name}.s", secs)
    for layer in rec["layer"]:
        for k, v in layer.items():
            add("engine.gc_s" if k == "engine.jvm_gc_s" else k, v)

    by_id = {s["id"]: s for s in spans}
    for s in spans:
        dur = s["end"] - s["start"]
        parent = by_id.get(s["parent"])
        outermost = parent is None or parent["layer"] != s["layer"]
        if s["name"] == "plans.build":
            add("plans.build_s", dur)
        elif s["name"] == "plans.execute":
            add("plans.execute_s", dur)
        elif s["layer"] in ("operators", "functions"):
            add(f"{s['name']}.s", dur)
            add(f"{s['name']}.calls", 1)
        elif s["name"] == "lineage.cut_lineage":
            add("lineage.cut_s", dur)
            add("lineage.cut_calls", 1)
        elif s["layer"] == "sources" and outermost:
            add("sources.load_s", dur)
        elif s["layer"] == "sinks" and outermost:
            add("sinks.write_s", dur)

    for j in pjobs:
        m = j["m"]
        add("engine.jobs", 1)
        if j["group"].endswith("/build"):
            add("plans.build_jobs", 1)
        add("engine.stages", len(j["stages"]))
        add("engine.tasks", m["tasks"])
        for k in ("run_s", "cpu_s"):
            add(f"engine.task_{k}", m[k])
        for k in ("shuffle_write_mb", "shuffle_read_mb"):
            add(f"engine.{k}", m[k])
        add("sources.input_mb", m["input_mb"])
        add("sources.input_rows", m["input_rows"])
        add("sinks.output_mb", m["output_mb"])
        for k in ("pyworker.run_s", "pyworker.boot_s", "pyworker.sent_mb", "pyworker.received_mb"):
            add(k, m[k])

    # span tree: jobs hang under the innermost span of their item open at submission
    kids: dict[int, list[tuple[float, float]]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in kids:
            kids[s["parent"]].append((s["start"], s["end"]))
    items = {s["item"]: s for s in spans if s["layer"] == "item"}
    item_jobs: dict[str, list[tuple[float, float]]] = {k: [] for k in items}
    for j in pjobs:
        item_id = j["group"].rsplit("/", 1)[0]
        owners = [s for s in spans if s["item"] == item_id and s["start"] <= j["start"] <= s["end"]]
        if owners:
            kids[max(owners, key=lambda s: s["start"])["id"]].append((j["start"], j["end"]))
        if item_id in item_jobs:
            item_jobs[item_id].append((j["start"], j["end"]))
    for s in spans:
        if s["layer"] in SELF_LAYERS:
            add(f"{s['layer']}.self_s", s["end"] - s["start"] - trace.union_len(kids[s["id"]], s["start"], s["end"]))
    for item_id, top in items.items():
        busy = trace.union_len(item_jobs[item_id], top["start"], top["end"])
        add("engine.self_s", busy)
        add("engine.driver_gap_s", top["end"] - top["start"] - busy)

    pairs = sum(n for sid, n in tracer.results["bfs_pairs"] if sid in by_id)
    if pairs:
        bfs = [by_id[sid] for sid, _n in tracer.results["bfs_pairs"] if sid in by_id]
        written = sum(
            j["m"]["shuffle_write_records"] for j in pjobs
            if any(j["group"].startswith(s["item"] + "/") and s["start"] <= j["start"] <= s["end"] for s in bfs)
        )
        out["operators.bfs_yield"] = pairs / written if written else 0.0
    return out


def _write_spans(run, jobs: dict) -> None:
    """All spans of the run, Python-side and Spark jobs, as JSON lines."""
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{run.args.workload}-seed{run.args.seed}.jsonl")
    with open(path, "w") as fh:
        for s in run.tracer.spans:
            fh.write(json.dumps(s) + "\n")
        for job_id, j in sorted(jobs.items()):
            item_id, phase = j["group"].rsplit("/", 1)
            fh.write(json.dumps({
                "id": f"job{job_id}", "item": item_id, "name": f"engine.job.{phase}",
                "layer": "engine", "start": j["start"], "end": j["end"],
                "metrics": {k: round(v, 6) for k, v in j["m"].items()},
            }) + "\n")
