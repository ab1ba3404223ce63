"""Brute-force checks for deterministic random walks, harmonic
centrality and betweenness (both the driver kernel and the distributed
multi-source BFS, forced by turning the broadcast budget off)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from _bfs_reference import reference_harmonic
from pyspark.sql import functions as F

from citegraph_spark.fixtures import fixture_citations
from citegraph_spark.operators.graph import harmonic_centrality
from citegraph_spark.plans.entry_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_random_walks_match_bruteforce(spark):
    edges = [
        (int(r["l_orderkey"]), int(r["l_partkey"]))
        for r in spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    ]
    adj = defaultdict(list)
    for s, t in edges:
        adj[s].append(t)
    starts = sorted({s for s, _ in edges if s % 97 == 0})
    assert starts  # the sample is non-empty at sf0.001

    expected = {}
    for s in starts:
        cur, walk = s, []
        for k in (1, 2, 3):
            if cur is None or not adj.get(cur):
                walk.append(None)
                cur = None
                continue
            cur = min(adj[cur], key=lambda n: _md5(f"{cur}|{n}|{k}"))
            walk.append(cur)
        expected[s] = tuple(walk)

    rows = QUERIES["graph_random_walks"](spark, SF_DIR).collect()
    got = {r["start"]: (r["n1"], r["n2"], r["n3"]) for r in rows}
    assert got == expected


def test_harmonic_centrality_both_paths_match_bruteforce(spark, broadcast_off):
    fix = fixture_citations(spark).filter(F.col("from") != F.col("to"))
    bidir = (
        fix.select(F.col("from").alias("s"), F.col("to").alias("d"))
        .union(fix.select(F.col("to").alias("s"), F.col("from").alias("d")))
        .distinct()
    )
    edge_list = [(r["s"], r["d"]) for r in bidir.collect()]
    expected = reference_harmonic(edge_list, max_d=20)

    local = {
        r["id"]: r["harmonic"] for r in harmonic_centrality(bidir).collect()
    }
    with broadcast_off():
        dist = {r["id"]: r["harmonic"] for r in harmonic_centrality(bidir).collect()}
    assert local == expected
    for k, v in expected.items():
        assert abs(dist[k] - v) < 1e-6
    assert set(dist) == set(expected)


def _bidir_df(spark, pairs):
    fwd = spark.createDataFrame(pairs, "s int, d int")
    rev = fwd.select(F.col("d").alias("s"), F.col("s").alias("d"))
    return fwd.union(rev).distinct()


def test_betweenness_known_graphs(spark):
    from citegraph_spark.operators.graph import betweenness_sampled

    # path graph 1-2-3-4: ordered-pair bc(2) = bc(3) = 4
    path = _bidir_df(spark, [(1, 2), (2, 3), (3, 4)])
    got = {r["node"]: r["bc"] for r in betweenness_sampled(path).collect()}
    assert got == {2: 4.0, 3: 4.0}

    # star K_{1,3} center 0: all 6 ordered leaf pairs route through it
    star = _bidir_df(spark, [(0, 1), (0, 2), (0, 3)])
    got = {r["node"]: r["bc"] for r in betweenness_sampled(star).collect()}
    assert got == {0: 6.0}

    # cycle of 4: two equal shortest paths between opposite corners ->
    # each intermediate node gets 1/2 per ordered opposite pair = 1.0
    cyc = _bidir_df(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    got = {r["node"]: r["bc"] for r in betweenness_sampled(cyc).collect()}
    assert got == {1: 1.0, 2: 1.0, 3: 1.0, 4: 1.0}


def test_betweenness_distributed_matches_local(spark, broadcast_off):
    from citegraph_spark.operators.graph import betweenness_sampled

    fix = fixture_citations(spark).filter(F.col("from") != F.col("to"))
    bidir = (
        fix.select(F.col("from").alias("s"), F.col("to").alias("d"))
        .union(fix.select(F.col("to").alias("s"), F.col("from").alias("d")))
        .distinct()
    )
    local = {r["node"]: r["bc"] for r in betweenness_sampled(bidir).collect()}
    with broadcast_off():
        dist = {r["node"]: r["bc"] for r in betweenness_sampled(bidir).collect()}
    assert set(local) == set(dist)
    for k, v in local.items():
        assert abs(dist[k] - v) < 1e-6

    # bounded depth + sampled sources agree between paths too
    loc_b = {
        r["node"]: r["bc"]
        for r in betweenness_sampled(bidir, source_mod=2, max_d=2).collect()
    }
    with broadcast_off():
        dis_b = {
            r["node"]: r["bc"]
            for r in betweenness_sampled(bidir, source_mod=2, max_d=2).collect()
        }
    assert set(loc_b) == set(dis_b)
    for k, v in loc_b.items():
        assert abs(dis_b[k] - v) < 1e-6
