"""Borůvka minimum-spanning-forest: distributed result vs driver-side
Kruskal under the identical (weight, a, b) total order — edge-set
equality (the strict order makes the MSF unique), plus structural
invariants on disconnected and tied-weight inputs."""

from __future__ import annotations

import random

from citegraph_spark.operators.mst import kruskal_reference, minimum_spanning_forest


def _msf(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long, weight double")
    return {
        (r["a"], r["b"], r["weight"])
        for r in minimum_spanning_forest(df).collect()
    }


def _canon(pairs):
    best = {}
    for s, d, w in pairs:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        best[(a, b)] = min(best.get((a, b), float("inf")), w)
    return [(a, b, w) for (a, b), w in best.items()]


def test_mst_simple_triangle(spark):
    # triangle 1-2-3 with a heavy edge: MST drops the heavy one
    got = _msf(spark, [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 9.0)])
    assert got == {(1, 2, 1.0), (2, 3, 2.0)}


def test_mst_disconnected_forest(spark):
    pairs = [(1, 2, 3.0), (2, 3, 1.0), (10, 11, 5.0), (11, 12, 4.0), (10, 12, 6.0)]
    got = _msf(spark, pairs)
    assert got == {(1, 2, 3.0), (2, 3, 1.0), (10, 11, 5.0), (11, 12, 4.0)}
    # forest edge count = n_nodes - n_components
    assert len(got) == 6 - 2


def test_mst_duplicate_weights_tiebreak(spark):
    # every edge weight identical: the (weight, a, b) order must still
    # yield the unique lexicographic-Kruskal forest, never a cycle
    pairs = [(a, b, 1.0) for a in range(1, 6) for b in range(a + 1, 6)]
    got = _msf(spark, pairs)
    assert got == kruskal_reference(_canon(pairs))
    assert len(got) == 4


def test_mst_random_graphs_match_kruskal(spark):
    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 40
        pairs = []
        for _ in range(120):
            s, d = rng.randrange(n), rng.randrange(n)
            # integer weights with many collisions exercise the tiebreak
            pairs.append((s, d, float(rng.randrange(10))))
        got = _msf(spark, pairs)
        assert got == kruskal_reference(_canon(pairs)), seed


def test_mst_parallel_edges_and_self_loops(spark):
    pairs = [(1, 1, 0.5), (1, 2, 7.0), (2, 1, 3.0), (1, 2, 5.0), (2, 3, 1.0)]
    got = _msf(spark, pairs)
    # parallel (1,2) edges collapse to min weight 3.0; self-loop dropped
    assert got == {(1, 2, 3.0), (2, 3, 1.0)}


def _mis(spark, pairs):
    from citegraph_spark.operators.graph import maximal_independent_set

    df = spark.createDataFrame(pairs, "src long, dst long")
    return {r["node"] for r in maximal_independent_set(df).collect()}


def _check_mis(pairs, mis):
    adj = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independent: no edge inside; maximal: every outsider has a member nbr
    assert all(not (a in mis and b in mis) for a, b in pairs if a != b)
    assert all(v in mis or adj[v] & mis for v in adj)


def test_mis_path_and_star(spark):
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    mis = _mis(spark, path)
    _check_mis(path, mis)
    star = [(0, i) for i in range(1, 8)]
    mis = _mis(spark, star)
    _check_mis(star, mis)
    # star: either the hub alone or all leaves
    assert mis == {0} or mis == set(range(1, 8))


def test_mis_random_graphs_valid_and_deterministic(spark):
    import random

    for seed in (3, 17):
        rng = random.Random(seed)
        pairs = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(70)
        ]
        m1 = _mis(spark, pairs)
        _check_mis(pairs, m1)
        assert m1 == _mis(spark, pairs)  # deterministic by construction


def _matching(spark, pairs):
    from citegraph_spark.operators.graph import maximal_matching

    df = spark.createDataFrame(pairs, "src long, dst long")
    return {(r["a"], r["b"]) for r in maximal_matching(df).collect()}


def _check_matching(pairs, m):
    canon = {
        (min(a, b), max(a, b)) for a, b in pairs if a != b
    }
    assert m <= canon
    used = [v for e in m for v in e]
    assert len(used) == len(set(used)), "matched edges share a vertex"
    mv = set(used)
    # maximal: every edge touches a matched vertex
    assert all(a in mv or b in mv for a, b in canon)


def test_mis_matching_local_cutover_matches_distributed(spark, broadcast_off):
    """The r13 driver-local tail finish must agree bit-for-bit with the
    pure-distributed rounds (`broadcast_off` disables the cutover; the
    default takes it immediately on graphs this small). Random graphs +
    a long path (many rounds) + isolated-active shapes."""
    import random

    from citegraph_spark.operators.graph import (
        maximal_independent_set,
        maximal_matching,
    )

    cases = [[(i, i + 1) for i in range(24)]]  # long path: deep tail
    for seed in (7, 41):
        rng = random.Random(seed)
        cases.append(
            [(rng.randrange(40), rng.randrange(40)) for _ in range(90)]
        )
    for pairs in cases:
        df = spark.createDataFrame(pairs, "src long, dst long")
        mis_local = {
            r["node"] for r in maximal_independent_set(df).collect()
        }
        with broadcast_off():
            mis_dist = {r["node"] for r in maximal_independent_set(df).collect()}
        assert mis_local == mis_dist
        m_local = {
            (r["a"], r["b"]) for r in maximal_matching(df).collect()
        }
        with broadcast_off():
            m_dist = {(r["a"], r["b"]) for r in maximal_matching(df).collect()}
        assert m_local == m_dist


def test_ccstar_ktruss_local_cutover_matches_distributed(spark, broadcast_off):
    """The r13 union-find / local-peel tail finishes must agree with the
    pure-distributed rounds."""
    import random

    from citegraph_spark.operators.graph import (
        connected_components_star,
        k_truss,
    )

    for seed in (13, 37):
        rng = random.Random(seed)
        pairs = [(rng.randrange(40), rng.randrange(40)) for _ in range(80)]
        df = spark.createDataFrame(pairs, "src long, dst long")
        cc_local = {
            (r["node"], r["component"])
            for r in connected_components_star(df).collect()
        }
        with broadcast_off():
            cc_dist = {
                (r["node"], r["component"])
                for r in connected_components_star(df).collect()
            }
        assert cc_local == cc_dist
        for k in (3, 4):
            kt_local = {
                (r["a"], r["b"]) for r in k_truss(df, k).collect()
            }
            with broadcast_off():
                kt_dist = {(r["a"], r["b"]) for r in k_truss(df, k).collect()}
            assert kt_local == kt_dist


def test_mst_local_cutover_matches_distributed(spark, broadcast_off):
    """The r13 local-Kruskal tail finish must emit the identical forest
    as pure-distributed Borůvka rounds (unique MSF under the strict
    (weight, a, b) order)."""
    import random

    from citegraph_spark.operators.mst import minimum_spanning_forest

    for seed in (11, 29):
        rng = random.Random(seed)
        pairs = [
            (rng.randrange(30), rng.randrange(30), float(rng.randrange(50)))
            for _ in range(80)
        ]
        df = spark.createDataFrame(pairs, "src long, dst long, weight double")
        got_local = {
            (r["a"], r["b"], r["weight"])
            for r in minimum_spanning_forest(df).collect()
        }
        with broadcast_off():
            got_dist = {
                (r["a"], r["b"], r["weight"])
                for r in minimum_spanning_forest(df).collect()
            }
        assert got_local == got_dist


def test_matching_path_star_random(spark):
    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    m = _matching(spark, path)
    _check_matching(path, m)
    star = [(0, i) for i in range(1, 6)]
    m = _matching(spark, star)
    _check_matching(star, m)
    assert len(m) == 1  # star admits exactly one matched edge

    import random

    for seed in (5, 23):
        rng = random.Random(seed)
        pairs = [(rng.randrange(25), rng.randrange(25)) for _ in range(60)]
        m = _matching(spark, pairs)
        _check_matching(pairs, m)
        assert m == _matching(spark, pairs)  # deterministic


def test_graph_gates_certify_at_sf0001(spark):
    """End-to-end gate queries on real (induced) data: every
    certificate boolean must hold at sf0.001."""
    from citegraph_spark.plans.entry_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    r = QUERIES["graph_mst_gate"](spark, sf).collect()[0]
    assert r["forest_matches_kruskal"] and r["n_nodes"] > 0
    r = QUERIES["graph_mis_gate"](spark, sf).collect()[0]
    assert r["mis_matches_replay"] and r["is_independent"] and r["is_maximal"]
    r = QUERIES["graph_matching_gate"](spark, sf).collect()[0]
    assert (
        r["matches_replay"] and r["is_valid_matching"] and r["is_maximal"]
    )


def _cc_star(spark, pairs):
    from citegraph_spark.operators.graph import connected_components_star

    df = spark.createDataFrame(pairs, "src long, dst long")
    return {
        r["node"]: r["component"]
        for r in connected_components_star(df).collect()
    }


def _uf_components(pairs):
    parent = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
    comp = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    # min once per component (the per-member one-liner is O(m^2) — see
    # graph_cc_star_gate's replay)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def test_cc_star_long_chain(spark):
    """A 300-node chain: hash-min label propagation would need 300
    rounds; star contraction must finish (and be right) within its
    50-round cap."""
    pairs = [(i, i + 1) for i in range(1, 300)]
    got = _cc_star(spark, pairs)
    assert got == {i: 1 for i in range(1, 301)}


def test_cc_star_random_matches_union_find(spark):
    import random

    for seed in (11, 42):
        rng = random.Random(seed)
        pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        pairs = [(a, b) for a, b in pairs if a != b]
        assert _cc_star(spark, pairs) == _uf_components(pairs), seed


def test_cc_star_crafted_matches_union_find(spark):
    """A self-loop-only node (12) has no component row."""
    pairs = [(1, 2), (2, 3), (10, 11), (12, 12), (11, 13), (5, 6)]
    star = _cc_star(spark, pairs)
    assert star == _uf_components([(a, b) for a, b in pairs if a != b])
    assert 12 not in star


def test_ktruss_crafted_and_random(spark):
    from citegraph_spark.operators.graph import k_truss

    def truss(pairs, k):
        df = spark.createDataFrame(pairs, "src long, dst long")
        return {(r["a"], r["b"]) for r in k_truss(df, k).collect()}

    def ref(pairs, k):
        cur = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
        while cur:
            adj = {}
            for a, b in cur:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            sup = {(a, b): len(adj[a] & adj[b]) for a, b in cur}
            nxt = {e for e in cur if sup[e] >= k - 2}
            if nxt == cur:
                break
            cur = nxt
        return cur

    # K4 plus a pendant triangle: 4-truss keeps exactly the K4
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pend = [(4, 5), (4, 6), (5, 6)]
    got = truss(k4 + pend, 4)
    assert got == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    # 3-truss keeps every triangle edge
    assert truss(k4 + pend, 3) == set(k4) | {(4, 5), (4, 6), (5, 6)}
    # bipartite graph has no triangles: 3-truss empty
    assert truss([(1, 10), (1, 11), (2, 10), (2, 11)], 3) == set()

    import random

    for seed in (9, 31):
        rng = random.Random(seed)
        pairs = [(rng.randrange(18), rng.randrange(18)) for _ in range(70)]
        for k in (3, 4, 5):
            assert truss(pairs, k) == ref(pairs, k), (seed, k)


def test_edge_support_pinned_mode_matches_and_skips_exchange(spark):
    """edge_support's pinned mode (k_truss's distributed rounds) must
    return identical supports to the default localCheckpoint mode, hand
    the persisted oriented table back via _pins, and — with broadcast
    disabled, i.e. the at-scale strategy — plan the wedge self-join
    with NO Exchange above either InMemoryTableScan (round-8 audit:
    the pin exists so a peel round never re-shuffles its hottest
    self-join once past broadcast size)."""
    import random

    from citegraph_spark.operators.graph import edge_support

    rng = random.Random(77)
    pairs = {(rng.randrange(25), rng.randrange(25)) for _ in range(120)}
    pairs = [(a, b) for a, b in pairs if a != b]
    und = (
        spark.createDataFrame(pairs, "src long, dst long")
        .selectExpr("least(src, dst) as a", "greatest(src, dst) as b")
        .distinct()
    )
    base = {(r["a"], r["b"]): r["support"] for r in edge_support(und).collect()}
    pins = []
    pinned_df = edge_support(und, _pins=pins)
    pinned = {(r["a"], r["b"]): r["support"] for r in pinned_df.collect()}
    assert pinned == base
    assert len(pins) == 1

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import contextlib
        import io

        pins2 = []
        df = edge_support(und, _pins=pins2)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        # both self-join branches read the cached u-partitioned layout
        assert p.count("InMemoryTableScan") >= 2
        # and nothing re-shuffles on u — the cached layout already
        # provides that partitioning
        assert "Exchange hashpartitioning(u#" not in p
        for h in pins2:
            h.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for h in pins:
        h.unpersist()


def test_double_sweep_exact_on_path(spark):
    """On a tree (path), the double-sweep bound is the exact diameter."""
    from citegraph_spark.plans.entry_queries import QUERIES

    rows = QUERIES["graph_diameter_double_sweep"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["diameter_lower_bound"] >= 1
    assert r["reached_from_far"] >= r["diameter_lower_bound"]

    # crafted path 1-2-...-7 with a branch: diameter = 7 (node 8 to 7)
    from citegraph_spark.operators.graph import multi_source_bfs

    # longest path: 8-2-3-4-5-6-7 (6 edges) == 1-2-...-7 -> diameter 6
    pairs = [(i, i + 1) for i in range(1, 7)] + [(2, 8)]
    und = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    ).distinct()
    d1 = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(und, [1], rounds=8).collect()
    }
    far = max(sorted(d1), key=lambda n: d1[n])
    d2 = {
        r["node"]: r["dist"]
        for r in multi_source_bfs(und, [far], rounds=8).collect()
    }
    assert max(d2.values()) == 6


def test_ktruss_k2_keeps_support0_edges(spark):
    """The (k<=2)-truss is the whole simple graph: support-0 edges must
    survive even though edge_support emits no row for them (ADVICE r3)."""
    from citegraph_spark.operators.graph import k_truss

    pairs = [(1, 2), (2, 3), (3, 1), (4, 5)]  # triangle + isolated edge
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {(r["a"], r["b"]) for r in k_truss(df, 2).collect()}
    assert got == {(1, 2), (2, 3), (1, 3), (4, 5)}
    got1 = {(r["a"], r["b"]) for r in k_truss(df, 1).collect()}
    assert got1 == got


def test_iterative_ops_raise_on_round_exhaustion(spark, broadcast_off):
    """Round-capped fixpoint loops must fail loudly instead of returning
    a silently partial result when max_rounds is exhausted (ADVICE r3)."""
    import pytest

    from citegraph_spark.errors import ConvergenceError
    from citegraph_spark.operators.graph import (
        connected_components_star,
        maximal_independent_set,
        maximal_matching,
    )
    from citegraph_spark.operators.mst import minimum_spanning_forest

    # long path: cc_star needs >1 round, MIS/matching need several
    pairs = [(i, i + 1) for i in range(1, 40)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    # cc_star's raise is likewise a distributed-rounds property: the r13
    # union-find cutover always completes (never a partial labelling)
    with broadcast_off(), pytest.raises(ConvergenceError):
        connected_components_star(edges, max_rounds=1)
    assert (
        connected_components_star(edges, max_rounds=1).count() == 40
    )
    with pytest.raises(ConvergenceError):
        maximal_independent_set(edges, max_rounds=1)
    with pytest.raises(ConvergenceError):
        maximal_matching(edges, max_rounds=1)
    # light intra-pair edges + heavy connectors: round 1 merges only the
    # pairs (a path would finish in ONE Borůvka round — every edge is
    # some endpoint's minimum), so cross edges survive the cap
    light = [(i, i + 1, 1.0 + i) for i in range(1, 12, 2)]
    heavy = [(i + 1, i + 2, 100.0 + i) for i in range(1, 10, 2)]
    wedges = spark.createDataFrame(
        light + heavy, "src long, dst long, weight double"
    )
    # the raise is a property of the DISTRIBUTED rounds: the r13 local
    # Kruskal cutover finishes the whole remaining forest in one step
    # (never a partial result), so with the default threshold the same
    # call now completes instead of raising
    with broadcast_off(), pytest.raises(ConvergenceError):
        minimum_spanning_forest(wedges, max_rounds=1)
    assert minimum_spanning_forest(wedges, max_rounds=1).count() == len(
        light
    ) + len(heavy)

    # and the same calls converge fine with the default cap
    assert connected_components_star(edges).count() == 40


def test_kcore_scc_raise_on_round_exhaustion(spark):
    """Peeling and FW-BW coloring loops share the same fail-loudly
    contract as the other iterative ops (ADVICE r3)."""
    import pytest

    from citegraph_spark.errors import ConvergenceError
    from citegraph_spark.operators.graph import (
        k_core,
        strongly_connected_components,
    )

    # path: 2-core peels one endpoint layer per round -> cap of 1 is
    # exhausted mid-peel
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "a long, b long"
    )
    with pytest.raises(ConvergenceError):
        k_core(path, k=2, max_rounds=1)
    assert k_core(path, k=2).count() == 0  # a path has no 2-core

    # directed 10-cycle: nothing trims, forward coloring needs ~cycle
    # length rounds -> cap of 2 is exhausted before the fixpoint.
    # local_threshold=0 keeps the DISTRIBUTED path under test (the
    # default small-residue Tarjan fast path would solve a 10-cycle
    # locally and never reach the coloring loop).
    cyc = spark.createDataFrame(
        [(i, (i % 10) + 1) for i in range(1, 11)], "src long, dst long"
    )
    with pytest.raises(ConvergenceError):
        strongly_connected_components(cyc, max_rounds=2, local_threshold=0)
    got = strongly_connected_components(cyc, local_threshold=0).collect()
    assert {r["scc"] for r in got} == {10} and len(got) == 10
    # the default local fast path must produce the identical labeling
    got_local = strongly_connected_components(cyc).collect()
    assert sorted(map(tuple, got_local)) == sorted(map(tuple, got))


def test_scc_local_fastpath_matches_distributed(spark):
    """Random directed graphs: the small-residue Tarjan fast path and
    the pure distributed trim+coloring path must emit the IDENTICAL
    (node, scc=max-id) labeling — the partition is unique and both
    paths label by component max."""
    import random

    from citegraph_spark.operators.graph import strongly_connected_components

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(1, n), rng.randrange(1, n))
            for _ in range(90 + 30 * trial)
        ]
        df = spark.createDataFrame(
            [(a, b) for a, b in edges], "src long, dst long"
        )
        dist = sorted(
            map(tuple, strongly_connected_components(df, local_threshold=0).collect())
        )
        local = sorted(
            map(tuple, strongly_connected_components(df).collect())
        )
        assert dist == local
