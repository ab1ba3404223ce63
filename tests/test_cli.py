"""CLI surface: density/diameter on the reference text formats, both the
exact BFS path and the HyperBall --approx path."""

from __future__ import annotations

import csv
import glob
import tempfile

import pytest

from citegraph_spark.cli import main

CITS = "# comment\n2 1\n3 1\n4 2\n5 4\n6 5\n"
PUBS = (
    "1\t1992-01-01\n2\t1993-03-04\n3\t1993-05-06\n"
    "4\t1994-01-01\n5\t1994-02-01\n6\t1994-03-01\n"
)


def _write_inputs(d: str) -> None:
    with open(f"{d}/citations.txt", "w") as f:
        f.write(CITS)
    with open(f"{d}/published-dates.txt", "w") as f:
        f.write(PUBS)


def _read_rows(pattern: str) -> list[dict]:
    (path,) = glob.glob(pattern)
    with open(path) as f:
        return list(csv.DictReader(f))


def test_cli_density(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        assert main(["density", d, f"{d}/out"]) == 0
        rows = _read_rows(f"{d}/out/densities/part*.csv")
        got = {r["year"]: (r["n(t)"], r["e(t)"]) for r in rows}
        assert got == {"1993": ("3", "2"), "1994": ("6", "5")}
        assert [r["year"] for r in rows] == ["1993", "1994"]


def test_cli_diameter_exact_vs_approx(spark):
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        assert main(["diameter", d, f"{d}/exact"]) == 0
        assert main(["diameter", d, f"{d}/approx", "--approx"]) == 0
        exact = _read_rows(f"{d}/exact/diameter_1994/part*.csv")
        approx = _read_rows(f"{d}/approx/diameter_1994/part*.csv")
        # the 1992 snapshot has no edge: both paths skip it
        assert not glob.glob(f"{d}/exact/diameter_1992")
        assert not glob.glob(f"{d}/approx/diameter_1992")
        assert [r["d"] for r in exact] == [r["d"] for r in approx]
        assert [int(r["d"]) for r in exact] == list(range(1, len(exact) + 1))
        assert len(exact) >= 2
        # same emission rule, monotone estimates, bounded relative error
        pcts = [float(r["percent_of_total"]) for r in approx]
        assert all(b >= a for a, b in zip(pcts, pcts[1:]))
        for e, a in zip(exact, approx):
            assert abs(int(a["g(d)"]) - int(e["g(d)"])) / int(e["g(d)"]) < 0.35


def test_cli_diameter_uses_nodepairs_totals(spark):
    """With `nodepairs.csv` present, its per-year totals are the percent
    denominator; without it, the BFS's own pair count is."""
    totals = {"1993": 10, "1994": 100}
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        with open(f"{d}/nodepairs.csv", "w") as f:
            f.write("# year,total_pairs\n")
            f.writelines(f"{y},{n}\n" for y, n in totals.items())
        assert main(["diameter", d, f"{d}/out"]) == 0
        for year, total in totals.items():
            rows = _read_rows(f"{d}/out/diameter_{year}/part*.csv")
            assert rows
            for r in rows:
                assert float(r["percent_of_total"]) == pytest.approx(int(r["g(d)"]) / total)


def test_cli_leaves_no_persisted_rdds(spark):
    """`density` and `diameter` (both hop-plot paths), run one after
    another in one session, leave the persisted RDDs as they found them."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    with tempfile.TemporaryDirectory() as d:
        _write_inputs(d)
        for argv in (["density"], ["diameter"], ["diameter", "--approx"]):
            assert main([argv[0], d, f"{d}/out", *argv[1:]]) == 0
            assert set(persisted().keySet()) == before, argv
