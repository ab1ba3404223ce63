"""CLI surface: density/diameter on the reference text formats, both the
exact BFS path and the HyperBall --approx path, and the diameter's two
exact tiers: every year from one read of each input within the broadcast
budget, the per-year loop above it."""

from __future__ import annotations

import csv
import glob
import tempfile

import pytest
from _bfs_reference import reference_pairs_by_distance

from citegraph_spark.cli import main
from citegraph_spark.operators import graph

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


#: five snapshot years: 1991 has no edge; paper 4 is dated by its
#: cross-listed id `110000004` (and a later duplicate, min year kept);
#: 1994 adds a paper but no citation; `110000004 1` (a raw cross-listed
#: id), `5 99` and `9 8` cite or come from an undated id; `3 3` is a
#: self-loop and `2 1` is repeated
MY_PUBS = (
    "1\t1991-01-01\n2\t1992-01-01\n3\t1992-06-01\n110000004\t1993-01-01\n"
    "4\t1995-01-01\n5\t1993-02-01\n6\t1994-01-01\n7\t1995-01-01\n8\t1995-02-01\n"
)
MY_CITS = "# from to\n2 1\n2 1\n3 3\n3 2\n4 2\n5 4\n110000004 1\n5 99\n7 5\n8 7\n9 8\n"
MY_TOTALS = {1995: 50}


def _snapshots(cits: list[tuple[int, int]], years: dict[int, int]) -> dict[int, list]:
    """Per published year, the snapshot's edges: both endpoints dated,
    both no later than the year."""
    return {
        y: [(f, t) for f, t in cits if years.get(f, y + 1) <= y and years.get(t, y + 1) <= y]
        for y in sorted(set(years.values()))
    }


def _replay_rows(counts: list[tuple[int, int]], total: int) -> list[tuple[int, int, float]]:
    """The reference's strict stop rule over (d, cumulative pairs)."""
    out: list[tuple[int, int, float]] = []
    for d, g in counts:
        out.append((d, g, g * 1.0 / total))
        if d >= 2 and g * 1.0 / total > 0.90:
            break
    return out


def test_cli_diameter_multi_year_both_tiers_vs_replay(spark, broadcast_off):
    """Every year's hop-plot from the read-once tier equals the per-year
    loop's byte for byte, and both equal a driver replay of the text:
    undated endpoints and self-loops dropped, duplicates counted once,
    an edgeless year skipped, `nodepairs.csv` totals as denominators."""
    with tempfile.TemporaryDirectory() as d:
        with open(f"{d}/citations.txt", "w") as f:
            f.write(MY_CITS)
        with open(f"{d}/published-dates.txt", "w") as f:
            f.write(MY_PUBS)
        with open(f"{d}/nodepairs.csv", "w") as f:
            f.writelines(f"{y},{n}\n" for y, n in MY_TOTALS.items())
        assert main(["diameter", d, f"{d}/kernel"]) == 0
        with broadcast_off():
            assert main(["diameter", d, f"{d}/loop"]) == 0

        years: dict[int, int] = {}
        for line in MY_PUBS.splitlines():
            pid, date = line.split("\t")
            pid = int(pid[2:]) if len(pid) == 9 and pid.startswith("11") else int(pid)
            years[pid] = min(years.get(pid, 9999), int(date[:4]))
        cits = [tuple(map(int, ln.split())) for ln in MY_CITS.splitlines()[1:]]
        files = {}
        for year, snap in _snapshots(cits, years).items():
            counts = reference_pairs_by_distance(snap, 20)
            if not counts:
                assert not glob.glob(f"{d}/*/diameter_{year}"), year
                continue
            want = _replay_rows(counts, MY_TOTALS.get(year, counts[-1][1]))
            for tier in ("kernel", "loop"):
                (path,) = glob.glob(f"{d}/{tier}/diameter_{year}/part*.csv")
                with open(path) as f:
                    files[tier, year] = f.read()
                rows = list(csv.reader(files[tier, year].splitlines()))
                assert rows[0] == ["d", "g(d)", "percent_of_total"]
                got = [(int(a), int(b), float(c)) for a, b, c in rows[1:]]
                assert got == want, (tier, year)
            assert files["kernel", year] == files["loop", year], year
        # the cases the data is built to hold
        assert not glob.glob(f"{d}/kernel/diameter_1991")
        assert files["kernel", 1994] == files["kernel", 1993]
        assert files["kernel", 1995].splitlines()[1] == "1,6,0.12"


def _tier_graphs() -> dict[str, tuple[list, list]]:
    """name -> (citations, published rows) over a path 1-..-6 dated
    2000-2002, whose summed snapshot CSRs take 156 bytes. `citations` adds
    35 rows that give no CSR entry (self-loops and undated endpoints),
    `published` 35 papers that no citation reaches, so that in each case
    a different one of the three charges is the largest."""
    pubs = [(1, 2000), (2, 2000), (3, 2000), (4, 2001), (5, 2001), (6, 2002)]
    cits = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]
    return {
        "csr_bytes": (cits, pubs),
        "citations": (cits + [(i, i) for i in range(1, 6)] + [(1, 100 + i) for i in range(30)], pubs),
        "published": (cits, pubs + [(100 + i, 2000) for i in range(35)]),
    }


@pytest.mark.parametrize("name", sorted(_tier_graphs()))
def test_read_once_tier_follows_reads_and_csr_bytes(spark, monkeypatch, name):
    """The read-once tier runs exactly when both reads are within
    budget/8 rows and the summed CSR bytes of every year's snapshot are
    within the budget; otherwise the CLI's per-year loop runs."""
    cits, pubs = _tier_graphs()[name]
    snaps = _snapshots(cits, dict(pubs))
    csr_bytes = sum(
        4 * (len({v for e in snap for v in e}) + 1)
        + 8 * len({(min(e), max(e)) for e in snap if e[0] != e[1]})
        for snap in snaps.values()
    )
    assert csr_bytes == 156
    need = max(csr_bytes, 8 * len(cits), 8 * len(pubs))
    assert need == {"csr_bytes": 156, "citations": 8 * 40, "published": 8 * 41}[name]

    citations = spark.createDataFrame(cits, "from int, to int")
    published = spark.createDataFrame(pubs, "id int, year int")
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    ran = []

    def kernel(spark_, csrs, max_d):
        ran.append(sum(ip.nbytes + ix.nbytes for ip, ix in csrs))
        return [[] for _ in csrs]

    monkeypatch.setattr(graph, "_bitbfs_pairs_by_distance", kernel)
    try:
        for budget, read_once in ((need, True), (need - 1, False), (-1, False)):
            spark.conf.set(key, str(budget))
            ran.clear()
            got = graph.snapshot_pairs_by_distance(citations, published)
            if read_once:
                assert got == {y: [] for y in snaps} and ran == [csr_bytes], budget
            else:
                assert got is None and ran == [], budget
    finally:
        spark.conf.set(key, before)
