"""Local mimic of the driver's t2 correctness gate — now multi-SF.

Runs every `queries()` entry via Spark AND its `oracle_sql()` via
DuckDB, then compares row count, column names, and an order-insensitive
value hash (columns sorted by name, rows sorted, floats rounded to 9
significant-ish decimals before hashing; DECIMAL cells compared exactly
after scale canonicalization — the r13 closure of mutation M08's
float-band blind spot).

The cross-SF sweep is a STANDING per-round gate (round-8 verdict item
4): its first sf0.1 run caught two boundary-collision defect classes
(sub-second truncation, .5-ulp engine rounding) that seven rounds of
single-SF sweeps could not see. Run it at all three SFs each round and
record the three lines in BASELINE.md.

Usage: python tools/oracle_check.py [name ...] [--sf-dirs D1,D2,...]
                                    [--json OUT.json] [--costs-json OUT.json]
  names        subset of registry entries (default: all 229)
  --sf-dirs    comma-separated testdata dirs; default $ORACLE_SF_DIR or
               /root/testdata/sf0.01
  --json       write the full nested report
               {sf_dir: {name: {status, secs, rows}}} (BASELINE.md record)
  --costs-json write the FLAT {name: secs} map that
               staleness.load_costs() consumes (cheap-first sweep
               ordering) — per-name max secs across the given sf_dirs.
               The nested --json output is NOT that format; use this
               flag to refresh tools/registry_costs.json.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import sys
import tempfile
import time

import os

import duckdb

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, decimal.Decimal):
        # DECIMAL-typed results compare EXACTLY — no float-normalization
        # band (r12 mutation M08: the 9-sig-digit band is blind to
        # sub-cent defects above ~1e7; money aggregates now run in
        # DecimalType end-to-end, see plans/money.py). Canonicalize
        # scale (trailing zeros) so value-equal decimals of different
        # declared scale hash equal; entries still keep scales matched
        # by construction for the driver's own hasher.
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return "0" if s in ("", "-0") else s
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            # IEEE -0.0: Spark preserves it through arithmetic into
            # collect(); DuckDB canonicalizes to +0.0. They are equal
            # under SQL comparison, so normalize (fuzzer seed 5634:
            # negative_double * 0 hashed "-0" vs "0")
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check_one(spark, con, qs, oracles, name: str, sf_dir: str) -> dict:
    """Run one entry Spark-vs-DuckDB at sf_dir; return a result record.

    Each side's rows are hashed and dropped before the other side's are
    fetched, so one large entry holds one side's rows (and their sorted
    hash lines) at a time; both are fetched again only to print the first
    difference of a hash mismatch."""
    t0 = time.time()
    rec = {"status": "OK", "secs": 0.0, "rows": 0}
    try:
        sdf = qs[name](spark, sf_dir)
        scols = sdf.columns
        srows = sdf.collect()
        ns, hs = len(srows), table_hash(scols, srows)
        del srows
        rec["rows"] = ns
    except Exception as ex:
        print(f"FAIL  {name}: spark error: {ex}")
        rec.update(status="FAIL", secs=time.time() - t0)
        return rec
    if name not in oracles:
        rec.update(status="ROWS-ONLY", secs=time.time() - t0)
        print(f"ROWS-ONLY  {name}: {ns} rows ({rec['secs']:.1f}s)")
        return rec
    try:
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        nd, hd = len(drows), table_hash(dcols, drows)
        del drows
    except Exception as ex:
        print(f"FAIL  {name}: duckdb error: {ex}")
        rec.update(status="FAIL", secs=time.time() - t0)
        return rec
    problems = []
    if ns != nd:
        problems.append(f"rowcount spark={ns} duckdb={nd}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
    if not problems and hs != hd:
        problems.append(f"value-hash spark={hs} duckdb={hd}")
        try:
            srows = [tuple(r) for r in sdf.collect()]
            drows = con.execute(oracles[name]).fetchall()
        except Exception as ex:  # a released intermediate, say
            problems.append(f"  rows not re-fetched for a diff: {ex}")
            srows = drows = []
        for a, b in list(
            zip(sorted(map(str, srows)), sorted(map(str, drows)))
        )[:300]:
            if a != b:
                problems.append(
                    f"  first diff:\n  spark : {a}\n  duckdb: {b}"
                )
                break
    rec["secs"] = time.time() - t0
    if problems:
        print(f"FAIL  {name}: " + "; ".join(problems[:3]))
        rec["status"] = "FAIL"
    else:
        print(f"OK    {name}: {ns} rows, hash match ({rec['secs']:.1f}s)")
    return rec


def main(argv: list[str]) -> int:
    names: list[str] = []
    sf_dirs = [SF_DIR]
    json_out = None
    costs_out = None
    it = iter(argv)
    for a in it:
        if a == "--sf-dirs":
            sf_dirs = [d if "/" in d else f"/root/testdata/{d}"
                       for d in next(it).split(",")]
        elif a == "--json":
            json_out = next(it)
        elif a == "--costs-json":
            costs_out = next(it)
        else:
            names.append(a)

    # resolve the repo THIS tool lives in (not a hardcoded path) so the
    # mutation audit can run the gate against scratch repo copies
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e
    from citegraph_spark.session import get_spark

    spark = get_spark(app_name="oracle_check")
    # engine-version parity note (VERDICT r3 §7): a local-green /
    # driver-red hash divergence (the q12 case) is only attributable if
    # the engine builds are on record for every sweep.
    import pyspark

    print(
        f"engines: pyspark={pyspark.__version__} "
        f"duckdb={duckdb.__version__} (sf_dirs={sf_dirs})"
    )
    qs, oracles = e.queries(), e.oracle_sql()
    selected = names or list(qs)
    report: dict[str, dict] = {}
    n_fail_total = 0
    # DuckDB runs inside this process. Its default memory_limit (80% of
    # RAM) let the naive triangle join of graph_clustering_coefficient's
    # oracle reach 6.5 GB at sf0.1 beside the Spark driver's JVM; at a
    # quarter of RAM it spills to a temp directory instead.
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    with tempfile.TemporaryDirectory(prefix="oracle_check_duckdb_") as spill:
        duck_config = {"memory_limit": f"{ram >> 22}MB", "temp_directory": spill}
        for sf_dir in sf_dirs:
            con = duckdb.connect(config=duck_config)
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            t_sf = time.time()
            per = {name: check_one(spark, con, qs, oracles, name, sf_dir)
                   for name in selected}
            con.close()
            report[sf_dir] = per
            n_fail = sum(1 for r in per.values() if r["status"] == "FAIL")
            n_fail_total += n_fail
            print(
                f"\nSF {sf_dir}: {len(selected) - n_fail}/{len(selected)} passed "
                f"({time.time() - t_sf:.0f}s)"
            )
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    if costs_out:
        import json

        flat: dict[str, float] = {}
        for per in report.values():
            for name, rec in per.items():
                flat[name] = max(flat.get(name, 0.0), round(rec["secs"], 2))
        with open(costs_out, "w") as f:
            json.dump(flat, f, indent=1, sort_keys=True)
        print(f"wrote {costs_out} (flat name->secs, staleness.load_costs format)")
    return 1 if n_fail_total else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
