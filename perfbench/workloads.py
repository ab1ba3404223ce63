"""The workloads: their items, inputs and correctness checks.

Inputs and expected outputs are made by `prepare`, which runs in a child
process (`python3 -m perfbench.workloads WORKLOAD SEED WORK SMOKE`, from
the repository root) that exits before the Spark session starts: neither
the generators nor the DuckDB oracle count in the benchmark's memory or
time. The child writes the inputs under the run's work directory and the
expected outputs to `expected.json` there.

An item is one registry entry or one CLI task. `build` is the call into
the program (for registry entries `QUERIES[name](spark, sf_dir)`,
including any eager jobs and driver loops; for CLI tasks `cli.main`,
which writes CSV files). `execute` forces the built DataFrame with the
`noop` sink, as bench.py does. In the warm-up pass, once the item's time
is taken, `summarise` reduces its output to what `check` compares with
the expectation: a registry entry's DataFrame is collected (while the
intermediates it reads are still cached) into its column names, row
count and `table_hash`; a CLI task's output directory is kept and read
back.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
from dataclasses import dataclass
from typing import Callable

from perfbench import hepth, tables

#: registry entries per workload, and the table scale they read
REGISTRY = {
    "arrow_pipeline": (0.01, ["similarity_topk_cosine", "multimodal_frames", "arrow_token_count"]),
}
WORKLOADS = ["hepth_cli", *REGISTRY]
#: nominal seconds of one timed pass over a workload's items on 4 vCPUs;
#: a run times round(--seconds / PASS_S) passes
PASS_S = {"hepth_cli": 10.0, "arrow_pipeline": 3.5}
SMOKE_SF = 0.001
EXPECTED = "expected.json"


@dataclass
class Item:
    name: str
    build: Callable
    check: Callable  # (summary, corrupt) -> bool
    execute: Callable | None = None
    summarise: Callable = lambda out: out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---- child process: inputs and expectations --------------------------------

def _hepth_dirs(work: str, smoke: bool) -> tuple[str, str]:
    full = os.path.join(work, "hepth_full")
    return full, full if smoke else os.path.join(work, "hepth_diameter")


def prepare(workload: str, seed: int, work: str, smoke: bool) -> dict:
    """Write the workload's inputs under `work`; return the expected outputs."""
    import duckdb

    expected: dict = {"duckdb": duckdb.__version__}
    if workload == "hepth_cli":
        from citegraph_spark import fixtures

        max_year = 1992 if smoke else 2002
        full, dia = _hepth_dirs(work, smoke)
        os.makedirs(full, exist_ok=True)
        fixtures.synth_hepth_dataset(full, max_year=max_year, seed=seed)
        if dia != full:
            hepth.write_graph(dia, hepth.DIAMETER_COUNTS, seed)
        expected["density"] = [r for r in fixtures.HEPTH_DENSITIES if r[0] <= max_year]
        expected["diameter"] = hepth.expected_hop_plots(dia)
        return expected

    from oracle_check import TABLES, table_hash

    import __spark_entry__

    sf, names = REGISTRY[workload]
    sf_dir = os.path.join(work, "tables")
    tables.write_tables(sf_dir, SMOKE_SF if smoke else sf, seed)
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = [tuple(r) for r in res.fetchall()]
            expected[name] = [sorted(cols), len(rows), table_hash(cols, rows)]
    finally:
        con.close()
    return expected


# ---- parent process: items --------------------------------------------------

def registry_items(workload: str, work: str, expected: dict) -> list[Item]:
    import __spark_entry__
    from oracle_check import table_hash

    queries = __spark_entry__.queries()
    sf_dir = os.path.join(work, "tables")

    def summarise(df) -> list:
        cols, rows = df.columns, [tuple(r) for r in df.collect()]
        return [sorted(cols), len(rows), table_hash(cols, rows)]

    def make(name: str) -> Item:
        def check(got: list, corrupt: bool) -> bool:
            want_cols, want_n, want_hash = expected[name]
            return got == [want_cols, want_n, "corrupt-" + want_hash if corrupt else want_hash]

        return Item(name, build=lambda spark: queries[name](spark, sf_dir), execute=_noop,
                    check=check, summarise=summarise)

    return [make(n) for n in REGISTRY[workload][1]]


def hepth_items(work: str, expected: dict, smoke: bool) -> list[Item]:
    from citegraph_spark import cli

    full, dia = _hepth_dirs(work, smoke)
    want_hops = {int(y): [tuple(r) for r in rows] for y, rows in expected["diameter"].items()}
    runs = itertools.count()

    def task(name: str, in_dir: str):
        def run(_spark) -> str:
            out = os.path.join(work, "cli_out", f"{name}_{next(runs)}")
            cli.main([name, in_dir, out])
            return out

        return run

    def check_density(out: str, corrupt: bool) -> bool:
        want = expected["density"] + [[0, 0, 0]] if corrupt else expected["density"]
        return hepth.densities_match(out, want)

    def check_diameter(out: str, corrupt: bool) -> bool:
        want = {y: r + [(0, 0, 0.0)] for y, r in want_hops.items()} if corrupt else want_hops
        return hepth.hop_plots_match(out, want)

    return [
        Item("density", build=task("density", full), check=check_density),
        Item("diameter", build=task("diameter", dia), check=check_diameter),
    ]


def make_items(workload: str, work: str, expected: dict, smoke: bool) -> list[Item]:
    if workload == "hepth_cli":
        return hepth_items(work, expected, smoke)
    return registry_items(workload, work, expected)


def discard_output(out) -> None:
    """CLI items write CSV directories; remove them once checked or timed."""
    if isinstance(out, str):
        shutil.rmtree(out, ignore_errors=True)


def main(argv: list[str]) -> int:
    workload, seed, work, smoke = argv[0], int(argv[1]), argv[2], argv[3] == "1"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [root, os.path.join(root, "tools")]
    expected = prepare(workload, seed, work, smoke)
    with open(os.path.join(work, EXPECTED), "w") as fh:
        json.dump(expected, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
