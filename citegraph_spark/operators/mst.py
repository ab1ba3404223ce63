"""Distributed minimum spanning forest — Borůvka's algorithm as pure
DataFrame rounds.

Why Borůvka and not Prim/Kruskal: Prim grows one frontier (inherently
sequential) and Kruskal needs a global edge sort plus a sequential
union-find; Borůvka is the classic parallel formulation — every
component picks its minimum outgoing edge simultaneously, components
merge, and the component count at least halves per round, so the round
count is O(log V) regardless of data size. Each round costs two hash
joins (attach component labels to edge endpoints), one map-side-
combinable `min_by` aggregate (the per-component minimum edge), and a
POINTER-DOUBLING pass over the CHOSEN-edge graph only (exactly one
pointer per component, geometrically shrinking) — never over the full
edge set. Pointer doubling, not hash-min propagation: the chosen edges
form a pseudo-forest whose only cycles are 2-cycles on each cluster's
minimum edge (strict total order), so breaking the 2-cycle at its
smaller endpoint yields a rooted forest and parent = parent[parent]
reaches every root in O(log depth) join rounds — hash-min would need
O(depth) rounds on the chain-shaped clusters Borůvka actually makes.

Tie-safety: edges are ranked by the total order (weight, a, b) on
canonical endpoints a<b, which makes every comparison strict, so the
chosen edge set is cycle-free and the forest is the unique MSF under
that order (the standard distinct-weight reduction). A driver-side
Kruskal under the SAME order must therefore produce the IDENTICAL edge
set — the property the gate query and the unit tests assert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..lineage import ShrinkRound, release, shrink_rounds
from ..sources.local import local_rows
from .graph import UnionFind


def minimum_spanning_forest(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Borůvka MSF over an undirected weighted graph.

    edges: (src, dst, weight) — interpreted undirected; parallel edges
    and both orientations are collapsed to canonical a<b with the
    minimum weight; self-loops dropped. Returns (a, b, weight): the
    unique minimum spanning forest under the (weight, a, b) total
    order, one component per connected component of the input.

    The rounds run on `lineage.shrink_rounds`. The carried state is the
    node -> component map; the residual is the cross-component edge set
    `ec`, re-derived from the static edge table and the new map at the
    end of each round, so the loop stops once no cross edge is left and
    each round emits the edges its components picked.

    Tail: the edges Borůvka would still add from a state are exactly the
    MSF of the CONTRACTED multigraph (components as vertices, surviving
    cross edges as candidates) under the same strict (weight, a, b)
    total order — which is unique, so once `ec` fits the tail a driver
    Kruskal over it emits the identical edge set without the remaining
    rounds' fixed costs (the gate's full-graph Kruskal replay and the
    oracle certify the equality). Cross edges left after max_rounds mean
    missing forest edges, which would read as a valid (smaller) MSF, so
    that raises ConvergenceError.

    Join-strategy note (round-8 100x A/B): the per-round label joins
    deliberately carry NO broadcast()/hint() override. Forcing the
    comp side was measured and LOSES both ways at 60M edges —
    broadcast mode re-ships the O(V) comp table (177 MB at 100x) twice
    per merge round (84 s -> 118-153 s), and forced SHUFFLE_HASH was
    worse still (186 s, 2.0 GB shuffle). With AQE left free and only
    the static side's LAYOUT pinned (below), wall stays at the
    unpinned baseline (85.1 vs 83.9 s) while total shuffle drops 25%
    (1,527 -> 1,150 MB) — the right trade on a cluster, where shuffle
    is network.
    """
    spark = edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.col("weight"),
        )
        .groupBy("a", "b")
        .agg(F.min("weight").alias("weight"))
        # pin the STATIC edge table's partitioning to the first join key:
        # the groupBy leaves hashpartitioning(a, b), which satisfies
        # neither per-round join, so every Borůvka round would re-shuffle
        # (and under sort-merge, re-sort) the full O(E) table on `a` —
        # the same static-side re-shuffle class the round-7
        # persist-not-checkpoint fix removed from the message-join
        # family. Partitioned on `a` and persisted (localCheckpoint
        # would scan back as UnknownPartitioning), the cached scan
        # satisfies round joins' distribution directly; only the O(V)
        # comp table and the join-1 output (keyed by `b`) shuffle per
        # round — both inherent, since comp rewires every round. The
        # first residual's cut materializes it.
        .repartition(n_shuffle, "a")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    comp = (  # node -> component; every node starts as its own
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
    )

    def cross_edges(comp: DataFrame) -> DataFrame:
        ca = comp.select(F.col("node").alias("a"), F.col("comp").alias("ca"))
        cb = comp.select(F.col("node").alias("b"), F.col("comp").alias("cb"))
        return (
            e.join(ca, "a")
            .join(cb, "b")
            .filter(F.col("ca") != F.col("cb"))
            .select("ca", "cb", "a", "b", "weight")
        )

    def step(ec: DataFrame, rnd: ShrinkRound) -> DataFrame:
        nonlocal comp
        # each component nominates its minimum outgoing edge under the
        # strict (weight, a, b) order; min_by is a hash aggregate, so
        # this is one shuffle on the component id, no window sort
        cand = ec.select(
            F.col("ca").alias("comp"), F.col("cb").alias("other"), "a", "b", "weight"
        ).unionByName(
            ec.select(
                F.col("cb").alias("comp"), F.col("ca").alias("other"), "a", "b", "weight"
            )
        )
        chosen = rnd.hold(
            cand.groupBy("comp")
            .agg(
                F.min_by(
                    F.struct("a", "b", "weight", "other"),
                    F.struct("weight", "a", "b"),
                ).alias("e")
            )
            .select("comp", "e.a", "e.b", "e.weight", "e.other")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rnd.emit(chosen.select("a", "b", "weight").distinct())

        # merge components along the chosen pointers (comp -> other).
        # Every comp with a cross edge has exactly one pointer; mutual
        # pointers (the cluster's minimum edge, both sides picked it)
        # are the only cycles — break them at the smaller id to root
        # the forest, then pointer-double to the roots.
        p = chosen.select("comp", "other")
        # initial pointer = grandparent (skips a level for free); a comp
        # whose raw pointer cycles back onto itself is on its cluster's
        # minimum edge — root it at the smaller endpoint. Jumping past a
        # root onto its 2-cycle partner is harmless: the partner's own
        # pointer resolves to the root on the next doubling.
        parent = rnd.cut(
            p.alias("x")
            .join(p.alias("y"), F.col("x.other") == F.col("y.comp"))
            .select(
                F.col("x.comp").alias("comp"),
                F.when(
                    F.col("y.other") == F.col("x.comp"),
                    F.least(F.col("x.comp"), F.col("x.other")),
                )
                .otherwise(F.col("y.other"))
                .alias("parent"),
            )
        )
        moved = 1
        while moved:
            # a pointer moved this jump iff grand != parent on the joined
            # row; summing that flag under `observe` makes the doubling
            # jump its OWN convergence check, with no separate job. The
            # jump at convergence is the identity.
            obs = Observation()
            parent = rnd.cut(
                parent.join(
                    parent.select(
                        F.col("comp").alias("parent"), F.col("parent").alias("grand")
                    ),
                    "parent",
                )
                .select(
                    "comp",
                    F.col("grand").alias("parent"),
                    (F.col("parent") != F.col("grand")).alias("_moved"),
                )
                .observe(obs, F.sum(F.col("_moved").cast("bigint")).alias("moved"))
            ).drop("_moved")
            moved = obs.get["moved"]
        comp = rnd.carry(
            comp.join(parent.withColumnRenamed("comp", "_c"), F.col("comp") == F.col("_c"), "left")
            .select("node", F.coalesce("parent", "comp").alias("comp"))
        )
        return cross_edges(comp)

    def tail(rows, r: int):
        uf = UnionFind()
        forest = [
            (a, b, w)
            for ca, cb, a, b, w in sorted(rows, key=lambda t: (t[4], t[2], t[3]))
            if uf.union(ca, cb)
        ]
        return local_rows(spark, forest, e.schema), 0

    try:
        return shrink_rounds(
            "minimum_spanning_forest",
            e.select(F.col("a").alias("ca"), F.col("b").alias("cb"), "a", "b", "weight"),
            step,
            max_rounds,
            tail=tail,
            finish=lambda ec: ec.select("a", "b", "weight"),
        )
    finally:
        release(e)


def kruskal_reference(pairs: list[tuple]) -> set[tuple]:
    """Driver-side Kruskal under the same (weight, a, b) total order —
    the correctness reference for the gate query and tests. Input:
    (a, b, weight) canonical tuples; returns the MSF edge set."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    out = set()
    for a, b, w in sorted(pairs, key=lambda t: (t[2], t[0], t[1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.add((a, b, w))
    return out
