"""Steadiness record: run each workload repeatedly and summarise.

    python3 perfbench/steadiness.py [--runs 10] [--out FILE]

Runs `BENCHMARK.json`'s command once per seed (1..runs) for each
workload, untraced, one run at a time. For every end-to-end metric it
prints the median, the quartiles (`statistics.quantiles(values, n=4)`)
and the spread — the inter-quartile distance as a share of the median —
next to the metric's bound, plus each run's own duration. The record is
written as JSON to `--out`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, dict, float]:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180, check=False)
    took = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    env = next(json.loads(ln[4:]) for ln in lines if ln.startswith("env "))
    return json.loads(lines[-1]), env, took


def summarise(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / statistics.median(values)
    return {"median": statistics.median(values), "q1": q1, "q3": q3, "spread": spread,
            "bound": bound, "spread_over_bound": spread / bound, "values": values}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--out", default="")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    record: dict = {"run_seconds": spec["run_seconds"], "runs": args.runs, "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        results, took = [], []
        for seed in range(1, args.runs + 1):
            res, env, secs = run_once(spec, w, seed)
            record.setdefault("machine", {k: env[k] for k in ("cpu", "nproc", "ram_gb", "pyspark", "java")})
            if not res["correct"]:
                raise SystemExit(f"{w} seed {seed}: incorrect output")
            results.append(res)
            took.append(secs)
            print(f"{w} seed={seed} run_s={secs:.1f} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        summary = {m["name"]: summarise([r["metrics"][m["name"]]["value"] for r in results], m["bound"])
                   for m in spec["end_to_end"]}
        summary["run_duration_s"] = summarise(took, 1.0)
        record["workloads"][w] = summary
        for name, s in summary.items():
            print(f"{w:15s} {name:15s} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} "
                  f"spread={s['spread']:.4f} bound={s['bound']} ({s['spread_over_bound']:.2f} of bound)",
                  flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
