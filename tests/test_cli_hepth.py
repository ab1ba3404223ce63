"""End-to-end CLI validation at the reference's data scale (SURVEY.md
§7.6(b); reference DataFrameSaver.scala:8-25, Analytics.scala:77-229).

The reference ships golden outputs (data/output/densities.csv,
diameter_*.csv) but not the citations.txt that produced them, so exact
hop-plot parity is unattainable. What IS attainable:

- a synthetic graph with the reference's EXACT per-year node/edge counts
  (fixtures.synth_hepth_dataset) reproduces the golden densities.csv
  byte-for-value at full 37k-node / 347k-edge scale, through the real
  CLI + CSV sink, cross-checked against an independent DuckDB oracle
  over the raw text files;
- the diameter task runs end-to-end on the 1993-truncated dataset
  (2826 nodes / 2919 edges) through both exact tiers — the read-once
  path the session's budget selects (one read of each input, every
  year's bit-parallel BFS in one job), and the per-year loop with the
  distributed pair BFS forced by turning the broadcast budget off —
  with every emitted row verified against an independent driver-side
  BFS replay honoring the reference's strict stop rule (d=1,2 always;
  d>=3 while previous percent <= 0.90 — Analytics.scala:176-214) and
  the 1992 snapshot's counts against a DuckDB recursive-CTE replay.
"""

from __future__ import annotations

import csv
import glob
from collections import defaultdict, deque

import duckdb
import pytest

from citegraph_spark.fixtures import HEPTH_DENSITIES, synth_hepth_dataset


@pytest.fixture(scope="module")
def hepth_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hepth")
    synth_hepth_dataset(str(d))
    return str(d)


@pytest.fixture(scope="module")
def hepth93_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("hepth93")
    synth_hepth_dataset(str(d), max_year=1993)
    return str(d)


def _read_csv(path_glob: str) -> list[list[str]]:
    [path] = glob.glob(path_glob)
    with open(path) as fh:
        return list(csv.reader(fh))


def test_cli_density_reproduces_reference_golden(spark, hepth_dir, tmp_path):
    from citegraph_spark import cli

    assert cli.main(["density", hepth_dir, str(tmp_path)]) == 0
    rows = _read_csv(f"{tmp_path}/densities/part*.csv")
    assert rows[0] == ["year", "n(t)", "e(t)"]
    got = [(int(y), int(n), int(e)) for y, n, e in rows[1:]]
    # the reference's golden densities.csv, value for value, at full scale
    assert got == HEPTH_DENSITIES

    # independent DuckDB oracle straight off the raw text files
    con = duckdb.connect()
    oracle = con.execute(
        f"""
        WITH cit AS (
          SELECT CAST(split_part(trim(line), ' ', 1) AS INT) AS f
          FROM read_csv('{hepth_dir}/citations.txt',
                        columns={{'line': 'VARCHAR'}}, sep='\x01', header=false)
          WHERE line NOT LIKE '#%'
        ),
        pub AS (
          SELECT CAST(split_part(line, '\t', 1) AS INT) AS id,
                 CAST(substr(split_part(line, '\t', 2), 1, 4) AS INT) AS year
          FROM read_csv('{hepth_dir}/published-dates.txt',
                        columns={{'line': 'VARCHAR'}}, sep='\x01', header=false)
          WHERE line NOT LIKE '#%'
        ),
        ey AS (
          SELECT p.year, count(*) AS e FROM cit c JOIN pub p ON c.f = p.id
          GROUP BY p.year
        ),
        ny AS (SELECT year, count(*) AS n FROM pub GROUP BY year)
        SELECT ny.year,
               CAST(sum(ny.n) OVER (ORDER BY ny.year) AS INT) AS n_t,
               CAST(sum(ey.e) OVER (ORDER BY ny.year) AS INT) AS e_t
        FROM ny JOIN ey ON ny.year = ey.year
        ORDER BY ny.year
        """
    ).fetchall()
    assert [tuple(r) for r in oracle] == got


def _undirected_adj(pairs: list[tuple[int, int]]) -> dict[int, set[int]]:
    adj: dict[int, set[int]] = defaultdict(set)
    for f, t in pairs:
        if f != t:
            adj[f].add(t)
            adj[t].add(f)
    return adj


def _bfs_pair_counts(adj: dict[int, set[int]], max_d: int) -> list[tuple[int, int]]:
    """[(d, cumulative unordered connected pairs at dist <= d)] until
    convergence or max_d — the CLI's BFS contract, independently."""
    per_d: dict[int, int] = defaultdict(int)
    for src in adj:
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, dv in dist.items():
            if v > src and dv <= max_d:
                per_d[dv] += 1
    out, cum = [], 0
    for d in range(1, max_d + 1):
        if d > 1 and per_d.get(d, 0) == 0:
            break
        cum += per_d.get(d, 0)
        out.append((d, cum))
    return out


def _strict_stop(counts: list[tuple[int, int]], total: int) -> list[tuple[int, int, float]]:
    rows = [(d, g, g * 1.0 / total) for d, g in counts]
    out: list[tuple[int, int, float]] = []
    for d, g, pct in rows:
        if d <= 2:
            out.append((d, g, pct))
        elif out and out[-1][2] <= 0.90:
            out.append((d, g, pct))
        else:
            break
        if d >= 2 and pct > 0.90:
            break
    return out


def test_cli_diameter_both_tiers_vs_replays(
    spark, broadcast_off, hepth93_dir, tmp_path
):
    """Both exact tiers of `cli diameter` on the 1992-1993 data: the
    session's budget takes the read-once tier (each input read once,
    both years' BFS in one kernel job); with broadcasting off, the
    per-year loop plans each snapshot and runs the distributed pair BFS.
    Each year's rows must equal the driver BFS replay under the strict
    stop rule."""
    from citegraph_spark import cli

    kernel_out, fallback_out = tmp_path / "kernel", tmp_path / "fallback"
    assert cli.main(["diameter", hepth93_dir, str(kernel_out)]) == 0
    with broadcast_off():
        assert cli.main(["diameter", hepth93_dir, str(fallback_out)]) == 0

    # reconstruct both snapshots from the raw files
    pairs = []
    with open(f"{hepth93_dir}/citations.txt") as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            f, t = map(int, line.split())
            pairs.append((f, t))
    years = {}
    with open(f"{hepth93_dir}/published-dates.txt") as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            pid, date = line.split("\t")
            years[int(pid)] = int(date[:4])

    for year in (1992, 1993):
        snap = [
            (f, t) for f, t in pairs if years[f] <= year and years[t] <= year
        ]
        # 1993 is the larger snapshot: thousands of directed edges, so
        # the pair BFS runs several rounds and cuts lineage
        if year == 1993:
            assert len({(min(f, t), max(f, t)) for f, t in snap}) * 2 > 2000
        counts = _bfs_pair_counts(_undirected_adj(snap), max_d=20)
        want = _strict_stop(counts, total=counts[-1][1])

        for out in (kernel_out, fallback_out):
            rows = _read_csv(f"{out}/diameter_{year}/part*.csv")
            assert rows[0] == ["d", "g(d)", "percent_of_total"]
            got = [(int(d), int(g), float(p)) for d, g, p in rows[1:]]
            assert got == want, f"{out.name} year {year}"

    # DuckDB recursive-CTE replay of the 1992 snapshot's counts:
    # shortest distance = first level a pair appears at
    snap92 = [(f, t) for f, t in pairs if years[f] <= 1992 and years[t] <= 1992]
    values = ", ".join(f"({f}, {t})" for f, t in snap92)
    con = duckdb.connect()
    ddb = con.execute(
        f"""
        WITH RECURSIVE und AS (
          SELECT DISTINCT * FROM (
            SELECT f AS a, t AS b FROM (VALUES {values}) v(f, t)
            UNION ALL SELECT t, f FROM (VALUES {values}) v(f, t)
          ) WHERE a <> b
        ),
        walk(a, b, d) AS (
          SELECT a, b, 1 FROM und
          UNION
          SELECT w.a, u.b, w.d + 1 FROM walk w JOIN und u ON w.b = u.a
          WHERE w.d < 20 AND w.a <> u.b
        ),
        sp AS (SELECT a, b, min(d) AS d FROM walk WHERE a < b GROUP BY a, b)
        SELECT d, CAST(sum(count(*)) OVER (ORDER BY d) AS INT) AS g
        FROM sp GROUP BY d ORDER BY d
        """
    ).fetchall()
    counts92 = _bfs_pair_counts(_undirected_adj(snap92), max_d=20)
    assert [tuple(r) for r in ddb] == counts92
