"""`lineage.relax_rounds` and the operators that run on it (pagerank,
hits, sssp_bounded, multi_source_bfs, HyperBall, label_propagation), plus
the ownership of the `lineage.shrink_rounds` operators (k_core, k_truss,
maximal_independent_set, maximal_matching, connected_components_star,
minimum_spanning_forest) and of the BFS-family centralities
(harmonic_centrality, betweenness_sampled).

The round state is broadcast while it fits the round-state budget; with
`spark.sql.autoBroadcastJoinThreshold=-1` (the `broadcast_off` fixture)
the same rounds take the shuffled-hash fallback, the tier that runs when
the state outgrows the budget. Both tiers must give the same answer under
each registry entry's own rounding, a round's plan must keep the static
table where it was partitioned, and no call may leave persisted state
behind once its result is released."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from citegraph_spark.fixtures import fixture_citations, fixture_published
from citegraph_spark.functions.sketches import hyperball_hopplot
from citegraph_spark.lineage import relax_rounds, release
from citegraph_spark.operators.graph import (
    betweenness_sampled,
    canonical_pairs,
    connected_components_star,
    harmonic_centrality,
    hits,
    k_core,
    k_truss,
    label_propagation,
    maximal_independent_set,
    maximal_matching,
    multi_source_bfs,
    pagerank,
    snapshot_edges,
    sssp_bounded,
)
from citegraph_spark.operators.mst import minimum_spanning_forest


def _directed(spark) -> DataFrame:
    return fixture_citations(spark).select(
        F.col("from").alias("src"), F.col("to").alias("dst")
    )


def _weighted(spark) -> DataFrame:
    return _directed(spark).withColumn("w", (1 + F.col("dst") % 5).cast("double"))


def _undirected(spark) -> DataFrame:
    return snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)


def _ppm(rows, col: str) -> dict:
    return {r["node"]: round(r[col] * 1e6, 3) for r in rows}


def _pagerank(spark, seeds=None) -> dict:
    return _ppm(pagerank(_directed(spark), iterations=10, seeds=seeds).collect(), "rank")


def _hits(spark) -> dict:
    rows = hits(_directed(spark), iterations=10).collect()
    mh = max(r["hub"] for r in rows)
    ma = max(r["auth"] for r in rows)
    return {
        r["node"]: (round(r["hub"] / mh * 1e6, 3), round(r["auth"] / ma * 1e6, 3))
        for r in rows
    }


def _sssp(spark) -> dict:
    # node 11 reaches 8 others
    rows = sssp_bounded(_weighted(spark), 11, rounds=15).collect()
    return {r["node"]: r["dist"] for r in rows}


def _hyperball(spark) -> list:
    return [(d, round(g, 2)) for d, g in hyperball_hopplot(_undirected(spark), max_d=10)]


def _lpa(spark) -> dict:
    rows = label_propagation(_directed(spark), max_iter=5).collect()
    return {r["node"]: r["community"] for r in rows}


TIER_CASES = {
    "pagerank": _pagerank,
    "ppr": lambda spark: _pagerank(spark, seeds=[1, 2, 3]),
    "hits": _hits,
    "sssp": _sssp,
    "hyperball": _hyperball,
    "lpa": _lpa,
}


@pytest.mark.parametrize("name", sorted(TIER_CASES))
def test_fallback_tier_matches_broadcast_tier(spark, broadcast_off, name):
    fast = TIER_CASES[name](spark)
    with broadcast_off():
        slow = TIER_CASES[name](spark)
    assert len(fast) > 3
    assert slow == fast


def _plan_paths(plan) -> list[list[str]]:
    """Root-to-node paths of node names in an executed physical plan,
    looking through AQE's wrapper and its query stages."""
    paths: list[list[str]] = []

    def walk(node, path):
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), path)
        if kind.endswith("QueryStageExec"):
            return walk(node.plan(), path)
        path = path + [node.nodeName()]
        paths.append(path)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), path)

    walk(plan, [])
    return paths


@pytest.mark.parametrize("tier", ["broadcast", "fallback"])
def test_one_round_keeps_the_static_partitioning(spark, broadcast_off, tier):
    """One sum-relaxation round through the primitive. Broadcast tier: no
    shuffle anywhere in the round. Fallback: a shuffled-hash join, and no
    exchange between the static table's cached scan and that join."""
    edges = _directed(spark).select(
        F.col("src").cast("long"), F.col("dst").cast("long"), F.lit(0.5).alias("w")
    )
    state = spark.createDataFrame([(n, 1.0) for n in range(1, 12)], "node long, x double")
    rounds = []

    def step(static, state):
        nxt = (
            static.join(state, static["src"] == state["node"])
            .select(static["dst"].alias("node"), (F.col("x") * F.col("w")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("x"))
        )
        rounds.append(nxt)
        return nxt

    scope = broadcast_off if tier == "fallback" else contextlib.nullcontext
    with scope():
        out = relax_rounds(edges, state, step, 1, state_bytes=11 * 16, keys=("dst", "src"))
    assert out.count() > 0
    release(out)
    paths = _plan_paths(rounds[0]._jdf.queryExecution().executedPlan())
    names = {p[-1] for p in paths}
    (scan,) = [p for p in paths if p[-1] == "InMemoryTableScan"]
    if tier == "broadcast":
        assert "BroadcastHashJoin" in names
        assert "Exchange" not in names
    else:
        assert "ShuffledHashJoin" in names
        join_at = max(i for i, n in enumerate(scan) if n.endswith("Join"))
        assert scan[join_at] == "ShuffledHashJoin"
        assert "Exchange" not in scan[join_at:]


def test_ported_operators_release_their_state(spark, broadcast_off):
    """One session: each operator on both tiers (for the shrink_rounds
    operators: with the driver-local tail and with every round in Spark;
    for the BFS-family centralities: the driver kernel and the
    distributed sweep).
    Once its result is released, no persisted RDD is left that was not
    there before."""
    sc = spark.sparkContext

    def persisted() -> set:
        return set(sc._jsc.getPersistentRDDs().keys())

    calls = {
        "pagerank": lambda: pagerank(_directed(spark), iterations=4),
        "hits": lambda: hits(_directed(spark), iterations=4),
        "sssp_bounded": lambda: sssp_bounded(_weighted(spark), 11, rounds=4),
        "multi_source_bfs": lambda: multi_source_bfs(_undirected(spark), [1, 5], rounds=4),
        "hyperball_hopplot": lambda: hyperball_hopplot(_undirected(spark), max_d=4),
        "label_propagation": lambda: label_propagation(_directed(spark), max_iter=4),
        "connected_components_star": lambda: connected_components_star(_directed(spark)),
        "k_core": lambda: k_core(canonical_pairs(_directed(spark)), k=2),
        "k_truss": lambda: k_truss(_directed(spark), 3),
        "maximal_independent_set": lambda: maximal_independent_set(_directed(spark)),
        "maximal_matching": lambda: maximal_matching(_directed(spark)),
        "minimum_spanning_forest": lambda: minimum_spanning_forest(_weighted(spark).withColumnRenamed("w", "weight")),
        "harmonic_centrality": lambda: harmonic_centrality(_undirected(spark).toDF("s", "d")),
        "betweenness_sampled": lambda: betweenness_sampled(_undirected(spark).toDF("s", "d"), source_mod=2, max_d=3),
    }
    before = persisted()
    for scope in (contextlib.nullcontext, broadcast_off):
        for name, call in calls.items():
            with scope():
                out = call()
                if isinstance(out, DataFrame):
                    assert out.count() > 0, name
                    release(out)
            assert persisted() - before == set(), name
