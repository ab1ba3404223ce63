"""Benchmark of the citegraph_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Closed loop, one client: the workload's items run one after another on
`local[nproc]`, each followed by bench.py's isolation step (clearCache,
Python gc, JVM GC). Inputs and expected outputs are made first, by a
child process that exits before the session starts. Set-up is the
session start plus one untimed warm-up pass, whose outputs are checked.
Then come the timed passes over all items, a number fixed per workload:
`round(--seconds / workloads.PASS_S[workload])`.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` they are the per-layer
ones, the passes alternate traced and untraced, and the spans are
written to `perfbench/out/`. See README.md for every metric.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import layers, trace, workloads  # noqa: E402


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="smallest inputs")
    p.add_argument("--corrupt-check", default="", metavar="ITEM",
                   help="compare ITEM against a deliberately wrong expectation")
    return p.parse_args(argv)


def machine_env() -> dict:
    """Fit the session to this machine; must run before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    with open("/proc/cpuinfo") as fh:
        cpu = next((ln.split(":", 1)[1].strip() for ln in fh if ln.startswith("model name")), "")
    driver_gb = max(1, min(4, ram_kb // (4 * 1024 * 1024)))
    return {"cpu": cpu, "nproc": nproc, "ram_gb": round(ram_kb / 1024**2, 1),
            "driver_mem": f"{driver_gb}g"}


def process_tree() -> list[int]:
    """This process and all its descendants: the driver JVM, the Python
    worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo += children.get(pid, [])
    return pids


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other machines, summed over this
    machine's CPUs, in clock ticks (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def reset_hwm() -> None:
    """Restart every VmHWM of the tree from the current resident size, so
    the next reading is the peak since now (Linux `clear_refs` value 5)."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_hwm_mb() -> float:
    """Sum of VmHWM over the process tree."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM")), 0)
        except OSError:
            pass
    return total_kb / 1024.0


class Run:
    def __init__(self, args: argparse.Namespace, work: str, tracer) -> None:
        self.args = args
        self.work = work
        self.traced = bool(args.trace)
        self.tracer = tracer
        self.failed: set[str] = set()
        # {"traced", "items": {name: secs}, "layer": [{...}], "peak_mb"}
        self.passes: list[dict] = []

    @staticmethod
    def isolate(spark) -> None:
        spark.catalog.clearCache()
        gc.collect()
        spark._jvm.System.gc()

    def start_session(self, env: dict):
        from citegraph_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's scratch files inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp "
                                             f"-Dderby.system.home={self.work} -XX:-UsePerfData",
        }
        if self.traced:
            os.makedirs(os.path.join(self.work, "eventlog"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(self.work, "eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return get_spark(app_name="perfbench", master=f"local[{env['nproc']}]", extra_conf=conf)

    def run_item(self, spark, item, pass_no: int, traced: bool, counters) -> tuple[float, dict]:
        """One timed execution of `item`: its wall seconds and, when traced,
        its per-item layer counters."""
        tr = self.tracer
        tr.item = f"{pass_no}/{item.name}"
        tr.active = traced
        sc = spark.sparkContext
        layer = {}
        if traced:
            jit0, gc0 = counters.read()
            rdds0 = len(sc._jsc.getPersistentRDDs())
            top = tr.open(item.name, "item")
            sc.setLocalProperty("spark.jobGroup.id", tr.item + "/build")
            ph = tr.open("plans.build", "plans")
        t0 = time.perf_counter()
        try:
            out = item.build(spark)
            if traced:
                tr.close(ph)
                sc.setLocalProperty("spark.jobGroup.id", tr.item + "/execute")
                ph = tr.open("plans.execute", "plans")
            if item.execute is not None:
                item.execute(out)
        except Exception as exc:  # noqa: BLE001 - one failing item must not end the run
            self.fail(item.name, exc)
            out = None
        secs = time.perf_counter() - t0
        if traced:
            tr.close(ph)
            tr.close(top)
            tr.active = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            jit1, gc1 = counters.read()
            layer["engine.jit_compile_s"] = jit1 - jit0
            layer["engine.jvm_gc_s"] = gc1 - gc0
            layer["lineage.leaked_rdds"] = len(sc._jsc.getPersistentRDDs()) - rdds0
            if item.execute is not None and out is not None:
                # outside the item's span: optimise and plan the same query again
                c0 = time.perf_counter()
                out._jdf.queryExecution().executedPlan()
                layer["catalyst.plan_s"] = time.perf_counter() - c0
        workloads.discard_output(out)
        self.isolate(spark)
        return secs, layer

    def fail(self, name: str, exc: BaseException | None) -> None:
        self.failed.add(name)
        detail = f"{type(exc).__name__}: {exc}"[:400] if exc else "output mismatch"
        print(f"item {name} FAILED: {detail}", file=sys.stderr, flush=True)


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM, which exits when its stdin
    closes; it takes the Python worker daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def prepare(args: argparse.Namespace, work: str) -> dict:
    """Write the inputs and expected outputs in a child process, which
    exits before the session starts."""
    cmd = [sys.executable, "-m", "perfbench.workloads", args.workload, str(args.seed), work,
           str(int(args.smoke))]
    subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, check=True)
    with open(os.path.join(work, workloads.EXPECTED)) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "citegraph_spark", "session.py")):
        print("perfbench: citegraph_spark not found beside perfbench/", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    env = machine_env()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(env["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": env["driver_mem"],
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # one thread per Python worker for BLAS, OpenMP and Arrow's CPU pool:
        # Spark runs one worker per task slot, so the threads add up to nproc
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    run = Run(args, work, trace.Tracer())
    spark = None
    try:
        t0 = time.perf_counter()
        expected = prepare(args, work)
        prepare_s = time.perf_counter() - t0
        items = workloads.make_items(args.workload, work, expected, args.smoke)
        if run.traced:
            trace.install_wrappers(run.tracer)

        t0 = time.perf_counter()
        spark = run.start_session(env)
        session_s = time.perf_counter() - t0
        counters = trace.JvmCounters(spark)
        warm_s = 0.0
        summaries = {}
        for item in items:
            t1 = time.perf_counter()
            try:
                out = item.build(spark)
                if item.execute is not None:
                    item.execute(out)
                warm_s += time.perf_counter() - t1
                summaries[item.name] = item.summarise(out)
            except Exception as exc:  # noqa: BLE001
                warm_s += time.perf_counter() - t1
                run.fail(item.name, exc)
            run.isolate(spark)
        setup_jit_s = counters.read()[0]
        print(f"setup prepare_s={prepare_s:.3f} session_s={session_s:.3f} warm_s={warm_s:.3f}",
              file=sys.stderr, flush=True)
        for item in items:
            if item.name in summaries:
                if not item.check(summaries[item.name], item.name == args.corrupt_check):
                    run.fail(item.name, None)
                workloads.discard_output(summaries[item.name])

        # a fixed number of timed passes per workload, so that every run of
        # it does the same work and samples the JVM's warming at the same points
        n_passes = max(1, round(args.seconds / workloads.PASS_S[args.workload]))
        # traced runs alternate traced (T) and untraced (U) passes, T first:
        # the warming trend then inflates tracing.overhead_s, never hides it
        if run.traced:
            n_passes = max(2, n_passes + n_passes % 2)
        for pass_no in range(n_passes):
            traced = run.traced and pass_no % 2 == 0
            rec = {"traced": traced, "items": {}, "layer": [], "peak_mb": 0.0}
            steal0 = steal_ticks()
            reset_hwm()
            for item in items:
                secs, layer = run.run_item(spark, item, pass_no, traced, counters)
                rec["items"][item.name] = secs
                rec["layer"].append(layer)
                rec["peak_mb"] = max(rec["peak_mb"], tree_hwm_mb())
            run.passes.append(rec)
            print(f"pass {pass_no} traced={int(traced)} wall_s={sum(rec['items'].values()):.3f} "
                  f"steal_ticks={steal_ticks() - steal0} "
                  f"peak_mb={rec['peak_mb']:.0f} "
                  + " ".join(f"{k}={v:.2f}" for k, v in rec["items"].items()), file=sys.stderr, flush=True)

        java = spark._jvm.System.getProperty("java.version")
        stop_session(spark)
        spark = None

        result = layers.result(run, items, session_s, warm_s, setup_jit_s, work)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    env.update(pyspark=pyspark.__version__, java=java, duckdb=expected["duckdb"],
               workload=args.workload, seed=args.seed, passes=len(run.passes))
    print("env " + json.dumps(env))
    for name, m in result["metrics"].items():
        print(f"metric {name} {m['value']} {m['unit']}")
    attempted, failed = len(items), len(run.failed)
    print(f"metric failed_frac {failed / attempted} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
