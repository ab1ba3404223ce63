"""Fixture-graph correctness: exact expected values from FIXTURES.md §4."""

from __future__ import annotations

import contextlib
from collections import Counter

import pytest

from citegraph_spark import schemas
from citegraph_spark.fixtures import fixture_citations, fixture_published
from citegraph_spark.operators.graph import (
    bidirectional,
    density,
    effective_diameter,
    hop_plot,
    snapshot_edges,
)
from citegraph_spark.sources.local import local_rows

# FIXTURES.md Table D, strict reference behavior: 1992 row dropped by the
# inner join (nodes but no citing-year edges).
EXPECTED_DENSITY = [
    (1993, 3, 2),
    (1994, 4, 4),
    (1995, 5, 6),
    (1996, 7, 9),
    (1997, 10, 16),
    (1998, 11, 17),
]

# FIXTURES.md Tables H: full-depth (d, g(d), percent) per snapshot year.
EXPECTED_HOPPLOT_FULL = {
    1993: [(1, 2), (2, 3)],
    1994: [(1, 4), (2, 6)],
    1995: [(1, 6), (2, 10)],
    1996: [(1, 9), (2, 18), (3, 21)],
    1997: [(1, 16), (2, 38), (3, 45)],
    1998: [(1, 17), (2, 42), (3, 54), (4, 55)],
}

# Strict stop rule: H1998 stops after d=3 (0.9818 > 0.90).
EXPECTED_STRICT_MAX_D = {1993: 2, 1994: 2, 1995: 2, 1996: 3, 1997: 3, 1998: 3}

EXPECTED_EFF_DIAMETER = {
    1993: 1.7,
    1994: 1.7,
    1995: 1.75,
    1996: 2.3,
    1997: 2.357143,
    1998: 2.625,
}


def test_density_fixture(spark):
    got = [
        (r["year"], r["n(t)"], r["e(t)"])
        for r in density(fixture_citations(spark), fixture_published(spark)).collect()
    ]
    assert got == EXPECTED_DENSITY


def _density_reference(cits, pubs):
    """Analytics.scala's density in Python: per year, the papers and the
    out-degree of that year's papers (an edge whose citing paper has no
    date counts nowhere); running sums over every year; then only the
    years with a citing edge."""
    year_of = dict(pubs)
    n = Counter(year_of.values())
    e = Counter(year_of[f] for f, _ in cits if f in year_of)
    out, n_t, e_t = [], 0, 0
    for y in sorted(n):
        n_t, e_t = n_t + n[y], e_t + e[y]
        if e[y]:
            out.append((y, n_t, e_t))
    return out


def test_density_keeps_edgeless_years_in_later_node_counts(spark):
    """2001 has papers but none of them cites: it has no row, yet its two
    papers count in n(2002) and later. The edge from the undated paper 99
    is dropped; the edge to it counts for its citing paper's year."""
    pubs = [(6, 2003), (1, 2000), (3, 2001), (5, 2002), (2, 2000), (4, 2001)]
    cits = [(2, 1), (5, 3), (99, 1), (5, 4), (6, 5), (6, 1), (2, 99)]
    want = [(2000, 2, 2), (2002, 5, 4), (2003, 6, 6)]
    assert _density_reference(cits, pubs) == want
    got = density(
        local_rows(spark, cits, schemas.CITATIONS),
        local_rows(spark, pubs, schemas.PUBLISHED_DATES),
    ).collect()
    assert [(r["year"], r["n(t)"], r["e(t)"]) for r in got] == want


def test_density_and_bidirectional_read_each_input_once(spark, tmp_path):
    """In the physical plan, `density` scans the published dates once
    (an inner join and a separate per-year count used to parse them
    twice) and `bidirectional` scans its input once (a union of two
    projections ran the input plan, text parse included, twice)."""
    from citegraph_spark.sources.citations import (
        load_citations,
        load_published_dates,
    )

    cit, pub = tmp_path / "citations.txt", tmp_path / "published-dates.txt"
    cit.write_text("2 1\n3 1\n3 2\n")
    pub.write_text("1\t1999-01-01\n2\t2000-01-01\n3\t2000-02-02\n")
    c, p = load_citations(spark, str(cit)), load_published_dates(spark, str(pub))

    def scans(df, path) -> int:
        return df._jdf.queryExecution().executedPlan().toString().count(f"Scan {path}[")

    dens = density(c, p)
    assert (scans(dens, pub), scans(dens, cit)) == (1, 1)
    assert [tuple(r) for r in dens.collect()] == [(2000, 3, 3)]
    for dedup in (True, False):
        assert scans(bidirectional(c, dedup=dedup), cit) == 1


def test_bidirectional_matches_two_orientation_reference(spark):
    """Both orientations of every edge, without self-loops or rows with a
    null endpoint: as a set by default, as a multiset under
    `dedup=False` (a duplicate input edge gives its two rows twice)."""
    rows = [
        (1, 2), (2, 1), (1, 2), (3, 3), (3, 3), (None, 4), (4, None),
        (None, None), (5, 6), (6, 7), (5, 6), (7, 5),
    ]
    edges = local_rows(spark, rows, "`from` int, `to` int")
    ref = [
        pair
        for f, t in rows
        if f is not None and t is not None and f != t
        for pair in ((f, t), (t, f))
    ]
    out = bidirectional(edges)
    assert out.columns == ["src", "dst"]
    assert sorted(tuple(r) for r in out.collect()) == sorted(set(ref))
    dup = bidirectional(edges, dedup=False).collect()
    assert Counter(tuple(r) for r in dup) == Counter(ref)


def test_snapshot_1992_empty(spark):
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), 1992)
    assert edges.count() == 0
    assert hop_plot(edges) == []


@pytest.mark.parametrize("year", sorted(EXPECTED_HOPPLOT_FULL))
def test_hop_plot_full_depth(spark, year):
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), year)
    rows = hop_plot(edges, strict_stop=False)
    got = [(r.d, r.pairs) for r in rows]
    assert got == EXPECTED_HOPPLOT_FULL[year]
    total = EXPECTED_HOPPLOT_FULL[year][-1][1]
    for r in rows:
        assert r.percent == pytest.approx(r.pairs / total)


@pytest.mark.parametrize("year", sorted(EXPECTED_STRICT_MAX_D))
def test_hop_plot_strict_stop(spark, year):
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), year)
    total = EXPECTED_HOPPLOT_FULL[year][-1][1]
    rows = hop_plot(edges, total_pairs=total, strict_stop=True)
    assert rows[-1].d == EXPECTED_STRICT_MAX_D[year]
    assert [(r.d, r.pairs) for r in rows] == [
        (d, g)
        for d, g in EXPECTED_HOPPLOT_FULL[year]
        if d <= EXPECTED_STRICT_MAX_D[year]
    ]


@pytest.mark.parametrize("year", sorted(EXPECTED_EFF_DIAMETER))
def test_effective_diameter(spark, year):
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), year)
    rows = hop_plot(edges, strict_stop=False)
    assert effective_diameter(rows) == pytest.approx(
        EXPECTED_EFF_DIAMETER[year], abs=1e-6
    )


def test_convergence_disjoint_edges(spark):
    """Two disjoint edges: BFS converges at d=1 (no new pairs at d=2)."""
    from citegraph_spark import schemas

    cites = spark.createDataFrame([(1, 2), (3, 4)], schema=schemas.CITATIONS)
    pub = spark.createDataFrame(
        [(i, 1990) for i in (1, 2, 3, 4)], schema=schemas.PUBLISHED_DATES
    )
    edges = snapshot_edges(cites, pub, 1999)
    rows = hop_plot(edges, strict_stop=False)
    assert [(r.d, r.pairs) for r in rows] == [(1, 2)]


def test_max_d_cap_on_path_graph(spark):
    """A 25-node path: d<=20 cap binds before convergence."""
    from citegraph_spark import schemas

    cites = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 25)], schema=schemas.CITATIONS
    )
    pub = spark.createDataFrame(
        [(i, 1990) for i in range(1, 26)], schema=schemas.PUBLISHED_DATES
    )
    edges = snapshot_edges(cites, pub, 1999)
    rows = hop_plot(edges, strict_stop=False, max_d=20)
    assert rows[-1].d == 20
    # pairs at distance <= d on a 25-path: sum_{k=1..d} (25-k)
    assert rows[-1].pairs == sum(25 - k for k in range(1, 21))


def test_connected_components_hand_graph(spark, broadcast_off):
    """The driver-local tail (default) and the distributed star rounds."""
    from citegraph_spark.operators.graph import connected_components_star

    # two components {1,2,3,4} (chain) and {10,11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src int, dst int"
    )
    for scope in (contextlib.nullcontext, broadcast_off):
        with scope():
            got = {
                r["node"]: r["component"]
                for r in connected_components_star(edges).collect()
            }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}, scope


@pytest.mark.parametrize("year", [1997, 1998])
def test_distributed_bfs_matches_local_exact(spark, broadcast_off, year):
    """Force the DISTRIBUTED pair-BFS fallback (broadcast budget off) and
    pin it to the broadcast bit-parallel kernel and to the pure-Python
    reference BFS on the same fixture snapshot — covers the
    wedge-centered d=2 candidate round (r13 optimization) and the
    lineage-cut round, which the fixture entries otherwise bypass."""
    from citegraph_spark.operators.graph import connected_pairs_by_distance
    from _bfs_reference import reference_pairs_by_distance

    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), year)
    with broadcast_off():
        dist = connected_pairs_by_distance(edges, max_d=20)
    kernel = connected_pairs_by_distance(edges, max_d=20)
    local = reference_pairs_by_distance(
        [(r[0], r[1]) for r in edges.collect()], max_d=20
    )
    assert dist == kernel == local == EXPECTED_HOPPLOT_FULL[year]
