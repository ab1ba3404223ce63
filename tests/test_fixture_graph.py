"""Fixture-graph correctness: exact expected values from FIXTURES.md §4."""

from __future__ import annotations

import contextlib

import pytest

from citegraph_spark.fixtures import fixture_citations, fixture_published
from citegraph_spark.operators.graph import (
    density,
    effective_diameter,
    hop_plot,
    snapshot_edges,
)

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
