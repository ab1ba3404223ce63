"""The benchmark's own smoke test, on the smallest inputs.

    python3 perfbench/smoke_test.py

Runs every workload once with `--smoke` (tables at sf0.001, the seeded
hep-th graph truncated at 1992 for both CLI tasks) and checks that each
end-to-end metric of `BENCHMARK.json` prints with its unit, that the
outputs are correct, that a traced run prints every per-layer metric
and that its `engine.jobs` repeats in a second traced run, and that a
deliberately wrong expectation is reported as a failure.
Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int = 0, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300, check=False)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)
    print(f"ok  {what}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in (x["name"] for x in spec["workloads"]):
        res, out = run(w)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{w}: outputs correct")
        for m in spec["end_to_end"]:
            got = res["metrics"].get(m["name"], {})
            expect(got.get("unit") == m["unit"] and got.get("value", 0) > 0,
                   f"{w}: {m['name']} printed in {m['unit']}")
            expect(f"metric {m['name']} " in out, f"{w}: {m['name']} on its own line")
        expect("metric failed_frac 0.0 ratio" in out, f"{w}: failed_frac printed")
        expect(set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}, f"{w}: no other metric")

    res, _out = run("arrow_pipeline", 1)
    names = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expect({k: v["unit"] for k, v in res["metrics"].items()} == names,
           "traced run prints every per-layer metric with its unit")
    expect(res["metrics"]["engine.jobs"]["value"] > 0, "traced run ties Spark jobs to items")
    again, _out = run("arrow_pipeline", 1)
    expect(again["metrics"]["engine.jobs"] == res["metrics"]["engine.jobs"],
           "engine.jobs repeats exactly between two traced runs with the same seed")

    res, _out = run("arrow_pipeline", 0, "--corrupt-check", "similarity_topk_cosine")
    expect(not res["correct"] and res["failed"] == 1, "a wrong expected hash counts as a failure")
    res, _out = run("hepth_cli", 0, "--corrupt-check", "density")
    expect(not res["correct"] and res["failed"] == 1, "a wrong expected density counts as a failure")
    return 0


if __name__ == "__main__":
    sys.exit(main())
