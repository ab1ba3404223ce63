"""HyperBall approximate hop-plot: accuracy vs the exact BFS."""

from __future__ import annotations

from citegraph_spark.fixtures import fixture_citations, fixture_published
from citegraph_spark.functions.sketches import hyperball_hopplot, init_counters_dense
from citegraph_spark.operators.graph import hop_plot, snapshot_edges


def test_hyperball_within_tolerance_on_fixture(spark):
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)
    exact = {r.d: r.pairs for r in hop_plot(edges, strict_stop=False)}
    approx = dict(hyperball_hopplot(edges, p=6, max_d=10))
    assert len(approx) >= len(exact)
    max_exact_d = max(exact)
    for d, est in approx.items():
        truth = exact.get(d, exact[max_exact_d])
        assert abs(est - truth) / truth < 0.2, (d, est, truth)


def test_hyperball_monotone_and_converges(spark):
    edges = snapshot_edges(fixture_citations(spark), fixture_published(spark), 1998)
    rows = hyperball_hopplot(edges, p=6, max_d=15)
    ests = [g for _, g in rows]
    assert all(b >= a - 1e-9 for a, b in zip(ests, ests[1:])), "not monotone"
    # converged before the cap (fixture diameter is 4)
    assert len(rows) < 15


def test_hyperball_empty_graph_has_no_rows(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert hyperball_hopplot(edges, p=6, max_d=5) == []


def test_init_counters_rho_exact(spark):
    """rho must be the exact leading-zero rank of the hash suffix —
    verified against a pure-Python xxhash-free recomputation from the
    JVM's own hash values."""
    import pyspark.sql.functions as F

    nodes = spark.range(0, 200).select(F.col("id").alias("node"))
    got = {
        (r["node"], i): r[f"r{i}"]
        for r in init_counters_dense(nodes, p=6).collect()
        for i in range(64)
    }
    hashes = {
        r["node"]: r["h"]
        for r in nodes.select("node", F.xxhash64("node").alias("h")).collect()
    }
    for node, h in hashes.items():
        idx = h & 63
        w = (h % (1 << 64)) >> 6  # unsigned shift
        rho = (64 - 6 - w.bit_length() + 1) if w else (64 - 6 + 1)
        assert got[(node, idx)] == rho, (node, h, got[(node, idx)], rho)


def test_mergeable_hll_sketches_match_exact_counts(spark):
    """Union-merged per-nation sketches must estimate global distinct
    within HLL(lgK=14) error (<1% at these cardinalities), and per-nation
    estimates must match exact per-nation distincts."""
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.01"
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    per = c.groupBy("c_nationkey").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey", 14)).alias("approx"),
        F.countDistinct("c_custkey").alias("exact"),
    )
    for r in per.collect():
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.02 * r["exact"])

    from citegraph_spark.plans.entry_queries import QUERIES

    row = QUERIES["sketch_mergeable_distinct"](spark, sf_dir).first()
    exact_total = c.select("c_custkey").distinct().count()
    assert row["exact_customers"] == exact_total
    assert row["merged_within_3pct"] is True


# ------------------------------------------------------- Misra-Gries


def test_misra_gries_bounds_and_presence(spark):
    """est <= true <= est + N/(k+1) for every reported token, and every
    token with true freq > N/(k+1) must be reported (guaranteed-presence
    property of a merged MG summary)."""
    from pyspark.sql import functions as F

    from citegraph_spark.functions import frequency, text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    k = 64
    n_total = toks.count()
    exact = {
        r["tok"]: r["cnt"]
        for r in toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()
    }
    err = n_total / (k + 1)

    mg = frequency.misra_gries_topn(toks, col="tok", k=k, topn=20).collect()
    assert len(mg) == 20
    for r in mg:
        true = exact[r["tok"]]
        assert r["est_cnt"] <= true <= r["est_cnt"] + err, (r, true, err)

    # full summary (topn=k): must contain every token above the bound
    full = {
        r["tok"]
        for r in frequency.misra_gries_topn(toks, col="tok", k=k, topn=k).collect()
    }
    must_have = {t for t, c in exact.items() if c > err}
    assert must_have <= full, must_have - full


def test_misra_gries_merge_rule():
    """Unit-check the decrement merge: k=2, stream a,a,a,b,b,c,c,d —
    merged pairwise summaries keep the heavy keys with valid bounds."""
    from citegraph_spark.functions.frequency import _mg_merge

    s = _mg_merge({}, {"a": 3, "b": 2}, 2)
    assert s == {"a": 3, "b": 2}
    s = _mg_merge(s, {"c": 2, "d": 1}, 2)
    # counts: a3 b2 c2 d1 -> 3rd largest = 2 -> a1 survives; b,c drop to 0, d negative
    assert s == {"a": 1}


def test_kmv_set_ops_estimates_within_bound(spark):
    from citegraph_spark.plans.entry_queries import QUERIES

    r = QUERIES["kmv_set_ops"](spark, "/root/testdata/sf0.01").collect()[0]
    k = r["k"]
    bound = 3.0 / (k ** 0.5)  # ~3 sigma for KMV relative error 1/sqrt(k)
    assert abs(r["est_a"] - r["exact_a"]) / r["exact_a"] < bound
    assert abs(r["est_b"] - r["exact_b"]) / r["exact_b"] < bound
    assert abs(r["est_union"] - r["exact_union"]) / r["exact_union"] < bound
    # inclusion-exclusion sanity: est_intersect ~= est_a + est_b - est_union
    ie = r["est_a"] + r["est_b"] - r["est_union"]
    assert abs(r["est_intersect"] - ie) / max(ie, 1.0) < 2 * bound
    # intersection bounded by its parts
    assert r["est_intersect"] <= min(r["est_a"], r["est_b"]) * (1 + bound)


def test_cms_bucket_ring_golden():
    """Round-12 mutation audit, mutant M18: a CMS hash-ring change
    (% (width-1) instead of % width) survived the oracle — at sf0.01
    the top-20 estimates are collision-free under EITHER ring, so the
    min-over-rows probe returns the exact counts both ways. The sketch
    layout is a cross-engine CONTRACT (the DuckDB oracle replays the md5
    bucket math literally), so pin the bucket indices themselves: any
    ring/digest/double-hash change breaks these goldens immediately."""
    from citegraph_spark.functions.frequency import _cms_buckets

    assert _cms_buckets("the", 5, 2048) == [1755, 562, 1417, 224, 1079]
    assert _cms_buckets("lorem", 5, 2048) == [1463, 1802, 93, 432, 771]
    assert _cms_buckets("42", 5, 2048) == [807, 974, 1141, 1308, 1475]
    # the ring property the mutant broke: indices live in [0, width)
    # and change when width changes (no silent off-by-one aliasing)
    assert all(0 <= b < 1024 for b in _cms_buckets("the", 5, 1024))
    assert _cms_buckets("the", 5, 1024) != _cms_buckets("the", 5, 2048)
