"""The BFS family — the exact hop-plot, harmonic centrality and
betweenness — against the pure-Python references.

Below the session's broadcast budget `connected_pairs_by_distance` runs
the bit-parallel multi-source kernel over a broadcast CSR, and
`harmonic_centrality` and `betweenness_sampled` run their numpy kernels
over the same CSR on the driver; above it, each takes its distributed
tier. One probe, `_driver_csr`, makes that choice for all three. The
cases here are the kernels' edge cases, run through Spark with both
orientations of every edge (the functions' input contract) and through
the hop-plot kernel's numpy core on the driver. A subset also runs
through the distributed tiers, so both tiers are held to one contract.
Last comes the persisted-state hygiene of both hop-plot tiers in one
session."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pytest
from _bfs_reference import (
    reference_betweenness,
    reference_harmonic,
    reference_pairs_by_distance,
)

from citegraph_spark.fixtures import fixture_citations, fixture_published
from citegraph_spark.operators import graph
from citegraph_spark.operators.graph import (
    _bitbfs_level_counts,
    _csr_from_arrow,
    betweenness_sampled,
    connected_pairs_by_distance,
    harmonic_centrality,
    snapshot_edges,
)


def _path(n: int, start: int = 0) -> list[tuple[int, int]]:
    return [(i, i + 1) for i in range(start, start + n - 1)]


def _v130() -> list[tuple[int, int]]:
    """130 vertices: source words of 64, 64 and a partial 2."""
    rng = random.Random(7)
    return _path(130) + [(rng.randrange(130), rng.randrange(130)) for _ in range(60)]


def _many_components() -> list[tuple[int, int]]:
    """2,000 disjoint edges and 300 triangles: 4,900 vertices in 2,300
    components, so each of the 77 source words reaches only a few
    vertices."""
    edges = [(2 * i, 2 * i + 1) for i in range(2000)]
    for t in range(300):
        a = 4000 + 3 * t
        edges += [(a, a + 1), (a + 1, a + 2), (a + 2, a)]
    return edges


#: name -> (edge rows, one orientation each; max_d)
CASES = {
    "empty": ([], 20),
    "single_edge": ([(1, 2)], 20),
    "self_loops_and_duplicates": (
        [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (3, 2), (4, 4)],
        20,
    ),
    "two_components": (_path(5) + _path(4, start=10) + [(20, 21)], 20),
    "v130_partial_last_word": (_v130(), 20),
    "max_d_truncates": (_path(30), 4),
    # vertex 0's 100 edges are over a quarter of all edges, so the level
    # that expands it pulls densely instead of pushing
    "hub_forces_pull": ([(0, i) for i in range(1, 101)] + _path(11, start=100), 20),
    "many_small_components": (_many_components(), 20),
}

#: cases the distributed tiers are held to as well
FALLBACK_CASES = ["empty", "self_loops_and_duplicates", "two_components", "max_d_truncates"]

#: a path 1-2-3 and an edge 4-5, plus rows with a null endpoint, which
#: every tier ignores
WITH_NULLS = [(1, 2), (2, 3), (3, None), (None, 4), (4, 5), (None, None)]


def _both_orientations(spark, pairs: list[tuple[int, int]]):
    """The public contract's input: every row also reversed. Self-loops
    and duplicates are kept, since the BFS must ignore them."""
    rows = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def _s_d(spark, pairs: list[tuple[int, int]]):
    """`_both_orientations` with the (s, d) columns of harmonic
    centrality and betweenness."""
    return _both_orientations(spark, pairs).toDF("s", "d")


def _no_nulls(pairs: list[tuple]) -> list[tuple]:
    return [p for p in pairs if None not in p]


def _kernel_only(monkeypatch):
    """Fail the test if harmonic centrality or betweenness leaves the
    driver kernel for the distributed sweep."""

    def fail(*a):
        raise AssertionError("the distributed sweep ran")

    monkeypatch.setattr(graph, "_sweep_bfs", fail)


def _harmonic(df, max_d: int) -> dict:
    return {r["id"]: r["harmonic"] for r in harmonic_centrality(df, max_d=max_d).collect()}


def _betweenness(df, source_mod, max_d: int) -> dict:
    rows = betweenness_sampled(df, source_mod=source_mod, max_d=max_d).collect()
    return {r["node"]: r["bc"] for r in rows}


def _arrow(pairs: list[tuple[int, int]]) -> pa.Table:
    return pa.table(
        {"src": [p[0] for p in pairs], "dst": [p[1] for p in pairs]},
        schema=pa.schema([("src", pa.int64()), ("dst", pa.int64())]),
    )


@pytest.mark.parametrize("name", sorted(CASES))
def test_kernel_matches_reference(spark, name):
    pairs, max_d = CASES[name]
    got = connected_pairs_by_distance(_both_orientations(spark, pairs), max_d=max_d)
    assert got == reference_pairs_by_distance(pairs, max_d)


@pytest.mark.parametrize("name", FALLBACK_CASES)
def test_pair_bfs_matches_reference(spark, broadcast_off, name):
    """The same contract with the broadcast budget off, which sends the
    call to the distributed pair BFS."""
    pairs, max_d = CASES[name]
    edges = _both_orientations(spark, pairs)
    with broadcast_off():
        got = connected_pairs_by_distance(edges, max_d=max_d)
    assert got == reference_pairs_by_distance(pairs, max_d)


@pytest.mark.parametrize("name", sorted(CASES))
def test_kernel_core_matches_reference(name):
    """The numpy core on the driver, all words in one call: per-distance
    ORDERED pair counts, twice the reference's unordered ones."""
    pairs, max_d = CASES[name]
    _, indptr, indices = _csr_from_arrow(_arrow(pairs))
    n_words = -(-(len(indptr) - 1) // 64)
    per_d = _bitbfs_level_counts(indptr, indices, range(n_words), max_d)
    want = reference_pairs_by_distance(pairs, max_d)
    prev = 0
    for d, cum in want:
        assert per_d[d] == 2 * (cum - prev)
        prev = cum
    assert per_d.sum() == 2 * prev


@pytest.mark.parametrize("name", sorted(CASES) + ["with_nulls"])
def test_harmonic_kernel_matches_reference(spark, monkeypatch, name):
    pairs, max_d = CASES.get(name, (WITH_NULLS, 20))
    _kernel_only(monkeypatch)
    got = _harmonic(_s_d(spark, pairs), max_d)
    assert got == reference_harmonic(_no_nulls(pairs), max_d)


@pytest.mark.parametrize("name", sorted(CASES) + ["with_nulls"])
def test_betweenness_kernel_matches_reference(spark, monkeypatch, name):
    """Exact, with sampled sources, and with sampled sources and a
    two-hop cap."""
    pairs, max_d = CASES.get(name, (WITH_NULLS, 20))
    _kernel_only(monkeypatch)
    df = _s_d(spark, pairs)
    for source_mod, cap in [(None, max_d), (3, max_d), (2, 2)]:
        got = _betweenness(df, source_mod, cap)
        assert got == reference_betweenness(_no_nulls(pairs), source_mod, cap), (
            source_mod,
            cap,
        )


@pytest.mark.parametrize("name", FALLBACK_CASES + ["with_nulls"])
def test_sweep_matches_reference(spark, broadcast_off, name):
    """Harmonic centrality and betweenness with the broadcast budget
    off, which sends both to the distributed sweep."""
    pairs, max_d = CASES.get(name, (WITH_NULLS, 20))
    df = _s_d(spark, pairs)
    with broadcast_off():
        harmonic = _harmonic(df, max_d)
        bc = _betweenness(df, 2, min(max_d, 3))
    want = reference_harmonic(_no_nulls(pairs), max_d)
    assert harmonic.keys() == want.keys()
    for k, v in want.items():
        assert abs(harmonic[k] - v) < 1e-6
    want = reference_betweenness(_no_nulls(pairs), 2, min(max_d, 3))
    assert bc.keys() == want.keys()
    for k, v in want.items():
        assert abs(bc[k] - v) < 1e-6


#: operator -> (call on src/dst edges, its kernel, its distributed tier,
#: which for each operator carries (source, vertex) pairs)
TIERS = {
    "hop_plot": (
        connected_pairs_by_distance, "_bitbfs_pairs_by_distance", "_pair_bfs_by_distance"
    ),
    "harmonic": (lambda e: harmonic_centrality(e.toDF("s", "d")), "_harmonic_sums", "_sweep_bfs"),
    "betweenness": (
        lambda e: betweenness_sampled(e.toDF("s", "d"), source_mod=2, max_d=2),
        "_brandes_scores",
        "_sweep_bfs",
    ),
}


@pytest.mark.parametrize(
    "budget, tier",
    [
        # 10 disjoint edges, both orientations: 20 rows, and a CSR of
        # 20 int32 entries plus 21 int32 offsets = 164 bytes
        (164, "kernel"),
        (163, "pair"),  # the rows fit budget/4, the CSR does not
        (79, "pair"),  # the rows alone are over budget/4
        (-1, "pair"),  # broadcasting off
    ],
)
def test_tier_follows_csr_bytes(spark, monkeypatch, budget, tier):
    """One cutover for the whole BFS family: at each budget the same
    edges select the same tier for the hop-plot, harmonic centrality
    and betweenness."""
    edges = _both_orientations(spark, [(2 * i, 2 * i + 1) for i in range(10)])
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, str(budget))
    try:
        for op, (call, kernel, fallback) in TIERS.items():
            ran = []
            with monkeypatch.context() as m:
                # one empty result per CSR for the hop-plot's kernel, an
                # empty score array for the other two
                m.setattr(graph, kernel, lambda *a: ran.append("kernel") or np.zeros((1, 0)))
                m.setattr(graph, fallback, lambda *a: ran.append("pair"))
                call(edges)
            assert ran == [tier], op
    finally:
        spark.conf.set(key, before)


def test_csr_shapes():
    ids, indptr, indices = _csr_from_arrow(_arrow(CASES["self_loops_and_duplicates"][0]))
    # 1-2-3 path after dropping self-loops, duplicates and the 4-4 loop
    assert ids.tolist() == [1, 2, 3]
    assert indptr.tolist() == [0, 1, 3, 4]
    assert indices.tolist() == [1, 0, 2, 1]
    assert indptr.dtype == indices.dtype == "int32"

    _, indptr, indices = _csr_from_arrow(_arrow(CASES["v130_partial_last_word"][0]))
    assert len(indptr) - 1 == 130

    _, indptr, indices = _csr_from_arrow(_arrow(CASES["hub_forces_pull"][0]))
    assert 4 * (indptr[1] - indptr[0]) >= len(indices)  # the pull condition

    _, indptr, indices = _csr_from_arrow(_arrow([]))
    assert indptr.tolist() == [0] and len(indices) == 0


def test_both_tiers_release_persisted_state(spark, broadcast_off):
    """One session, the 1998 fixture snapshot (4 BFS levels, so the pair
    BFS cuts lineage once): after each tier's call no persisted RDD is
    left that was not there before."""
    sc = spark.sparkContext
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)
    want = [(1, 17), (2, 42), (3, 54), (4, 55)]

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keys())

    before = persisted()
    assert connected_pairs_by_distance(edges) == want
    assert persisted() - before == set()
    with broadcast_off():
        assert connected_pairs_by_distance(edges) == want
    assert persisted() - before == set()
