"""Graph analytics operators (SURVEY.md §2.9 G1-G10), Spark-idiomatic.

The reference implements these with RDD path enumeration and a
driver-collected adjacency map captured in task closures (reference
Analytics.scala:152-414). Here everything is DataFrame ops:

- density (G1): groupBy + window running totals + broadcast-able joins.
- snapshot (G2): double vertex join + year filter + bidirectional union.
- hop-plot (G4-G9): exact all-pairs BFS in two tiers, chosen like
  harmonic centrality's and betweenness's by `_driver_csr` (the int32
  CSR's bytes against `spark.sql.autoBroadcastJoinThreshold`):
  * within it, a bit-parallel multi-source BFS (Then et al., "The More
    the Merrier", VLDB 2014) over the broadcast CSR — ONE Spark job per
    snapshot, 64 sources per uint64 word, O(|V|) words per task. For
    the CLI's per-year snapshots, `snapshot_pairs_by_distance` reads
    citations and published dates once, dates each edge on the driver
    and runs every year's CSR in that one job, the CSRs' summed bytes
    charged against the same budget (the per-year loop is the
    fallback);
  * above it, a frontier BFS over canonical *pairs* — 12-byte (src,
    dst) rows instead of the reference's O(d)-length path arrays, with
    lineage cut (lineage.py) so per-round counts don't recompute
    history (the reference's flaw — SURVEY.md §4.3).

Scale notes (100 TB thinking): the pair BFS's `seen` set is O(connected
pairs) — every round shuffles only the frontier joined against the
(bidirectional) edge table, repartitioned once on `src` and persisted so
every round's join reuses the same partitioning. Past the point where
even that set stops fitting, the path is the approximate hop-plot
(`functions.sketches.hyperball_hopplot`, the CLI's `--approx`).
"""

from __future__ import annotations

import functools
import hashlib
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..lineage import (
    ShrinkRound,
    cut_lineage,
    relax_rounds,
    release,
    session_broadcast_bytes,
    shrink_rounds,
)
from ..sources.local import local_rows


# ---------------------------------------------------------------- density


def density(citations: DataFrame, published: DataFrame) -> DataFrame:
    """G1: per-year cumulative node count n(t) and edge count e(t).

    Reference semantics (Analytics.scala:77-142, docs/PA1.pdf p.2):
    - e(t) attributes each edge to the *citing* paper's year (out-degree);
      edges whose `from` id has no published date are dropped (inner join).
    - n(t) counts papers with pub-year <= t.
    - final result is the INNER join of the two running totals on year, so
      a year present in only one side drops out (reference quirk, kept):
      a year with papers but no citing edge has no row, yet its papers
      count in every later n(t).

    Plan shape: `published` is read once. It is left-joined to the
    out-degree (a shuffled join, so the two inputs are parsed by
    concurrent stages; a broadcast of `published` queued the citations
    parse behind it), then one per-year aggregate gives both n and e,
    and one running-sum window over <= #years rows gives both totals.
    The running sums are taken before the edgeless years are dropped.
    The per-year aggregate is at most a few thousand rows at any scale,
    so the unpartitioned window is safe, and it leaves the rows in year
    order, so the final sort adds no exchange.
    """
    out_degree = citations.groupBy("from").count()
    per_year = (
        published.join(out_degree, published["id"] == out_degree["from"], "left")
        .groupBy("year")
        .agg(F.count("*").alias("n"), F.sum("count").alias("e"))
    )
    w = Window.orderBy("year").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        per_year.select(
            "year",
            "e",
            F.sum("n").over(w).alias("n(t)"),
            F.sum("e").over(w).alias("e(t)"),
        )
        # a null e: no paper of that year cites; the reference's join on
        # year never matches a null year
        .filter(F.col("year").isNotNull() & F.col("e").isNotNull())
        .select("year", "n(t)", "e(t)")
        .orderBy("year")
    )


# ------------------------------------------------------------- snapshots


def snapshot_edges(citations: DataFrame, published: DataFrame, year: int) -> DataFrame:
    """G2: undirected edge set of the graph "as of `year`" — directed edges
    whose BOTH endpoints have pub-year <= year (inner joins drop phantom
    endpoints), expanded to both orientations.

    The vertex table is broadcast: node-attribute tables are tiny relative
    to edges (37 k nodes vs 350 k+ edges in the reference's dataset; the
    same ratio holds at 100 TB edge scale), so both attribute joins are
    map-side with zero shuffle of the edge table.
    """
    pf = published.select(
        F.col("id").alias("_fid"), F.col("year").alias("fromYear")
    )
    pt = published.select(F.col("id").alias("_tid"), F.col("year").alias("toYear"))
    directed = (
        citations.join(F.broadcast(pf), citations["from"] == pf["_fid"], "inner")
        .join(F.broadcast(pt), citations["to"] == pt["_tid"], "inner")
        .filter((F.col("fromYear") <= year) & (F.col("toYear") <= year))
        .select("from", "to")
    )
    return bidirectional(directed)


def bidirectional(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """P8: each directed edge expanded to both orientations → (src, dst);
    self-loops and edges with a null endpoint dropped.

    Both orientations come from one pass over `edges` (an `inline` of a
    two-struct array per row), so its plan runs once; a union of two
    projections would run it twice, text parse and joins included.

    `dedup=False` skips the distinct (a full shuffle of 2×|E| rows) for
    consumers whose semantics are duplicate-insensitive — HyperBall's
    register max-union is idempotent, so duplicate edges only re-send an
    identical message. Counting/enumeration consumers need the default."""
    both = F.inline(
        F.array(
            F.struct(F.col("from").alias("src"), F.col("to").alias("dst")),
            F.struct(F.col("to").alias("src"), F.col("from").alias("dst")),
        )
    )
    out = edges.filter(F.col("from") != F.col("to")).select(both)
    return out.distinct() if dedup else out


def canonical_pairs(df: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """G4: unordered pair canonicalization — (least, greatest), deduped."""
    return (
        df.select(
            F.least(F.col(a), F.col(b)).alias("a"),
            F.greatest(F.col(a), F.col(b)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def adjacency(edges: DataFrame) -> DataFrame:
    """G3: node → sorted neighbor array. The reference collects this map to
    the driver and ships it in every task closure (Analytics.scala:171);
    we keep it distributed — it is only ever needed as a join side."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.array_sort(F.collect_set("dst")).alias("neighbors")
    )


# ------------------------------------------------------------ BFS hop-plot


@dataclass
class HopPlotRow:
    d: int
    pairs: int
    percent: float


def _csr_from_arrow(table) -> tuple:
    """(ids, indptr, indices) of the simple undirected graph on an Arrow
    (src, dst) table: rows with a null endpoint and self-loops dropped,
    both orientations, duplicates removed, vertices relabelled 0..V-1
    (vertex i is `ids[i]`), and an int32 CSR. Every vertex has degree
    >= 1 (isolated ids never get a label), which the dense pull step's
    `reduceat` relies on."""
    import numpy as np

    table = table.drop_null()
    src = table.column("src").to_numpy()
    dst = table.column("dst").to_numpy()
    keep = src != dst
    src, dst = src[keep], dst[keep]
    ids, label = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    a, b = label[: len(src)].astype(np.int64), label[len(src):].astype(np.int64)
    key = np.unique(np.concatenate([a * n + b, b * n + a]))
    indptr = np.zeros(n + 1, np.int32)
    if n:
        np.cumsum(np.bincount(key // n, minlength=n), out=indptr[1:])
        key = key % n
    return ids, indptr, key.astype(np.int32)


def _driver_csr(edges: DataFrame):
    """The BFS family's one tier rule: `_csr_from_arrow` of `edges` (src,
    dst), read once as Arrow, or None when the broadcast budget
    (`spark.sql.autoBroadcastJoinThreshold`) is 0, `edges` has more than
    budget/4 rows (one 4-byte CSR entry each) or the int32 CSR is over
    it. A memory cap, not a speed crossover: the kernels are the faster
    tier at every size measured, but hold the whole graph."""
    budget = session_broadcast_bytes(edges.sparkSession)
    if budget == 0:
        return None
    table = edges.select("src", "dst").limit(budget // 4 + 1).toArrow()
    if table.num_rows > budget // 4:
        return None
    csr = _csr_from_arrow(table)
    return csr if csr[1].nbytes + csr[2].nbytes <= budget else None


_POPCOUNT8 = bytes(bin(i).count("1") for i in range(256))


def _fanout_positions(indptr, counts, active):
    """Positions in `indices` of the edges out of `active` (degrees `counts`)."""
    import numpy as np

    starts = indptr[active].astype(np.int64)
    offsets = np.cumsum(counts) - counts
    return np.repeat(starts - offsets, counts) + np.arange(int(counts.sum()))


def _bitbfs_levels(indptr, indices, words, max_d: int):
    """Yield (d, active, new) per BFS level 1..max_d of each source word
    in `words`: word w covers sources 64w .. 64w+63, run as one BFS with
    one uint64 bit per source in each vertex's `seen` and `frontier`
    words; `active` are the vertices some source first reaches at d,
    `new` their newly reached bits.

    A level either pushes the active vertices' words along their edges
    (`bitwise_or.at`, while those edges are under a quarter of all
    edges) or pulls densely — every vertex ORs its neighbours' words
    with one `reduceat` over the CSR. The length-V `seen`, `frontier`
    and `nxt` arrays are allocated once per call and only the entries a
    word touched are reset, so a word costs the edges it expands (a pull
    level runs only when that fanout is over a quarter of the edges, and
    V <= E): many small components cost O(V + E) per call, not O(V) per
    word."""
    import numpy as np

    n = len(indptr) - 1
    n_edges = len(indices)
    deg = np.diff(indptr).astype(np.int64)
    seen = np.zeros(n, np.uint64)
    frontier = np.zeros(n, np.uint64)
    nxt = np.zeros(n, np.uint64)
    for w in words:
        lo = 64 * w
        width = min(64, n - lo)
        active = np.arange(lo, lo + width)
        new = np.left_shift(np.uint64(1), np.arange(width, dtype=np.uint64))
        seen[active] = new
        frontier[active] = new
        reached = [active]
        for d in range(1, max_d + 1):
            counts = deg[active]
            if 4 * int(counts.sum()) < n_edges:
                hops = indices[_fanout_positions(indptr, counts, active)]
                np.bitwise_or.at(nxt, hops, np.repeat(new, counts))
                targets = np.unique(hops)
                frontier[active] = 0
                new = nxt[targets] & ~seen[targets]
                nxt[targets] = 0
                hit = new != 0
                active, new = targets[hit], new[hit]
            else:
                full = np.bitwise_or.reduceat(frontier[indices], indptr[:-1])
                frontier[active] = 0
                full &= ~seen
                active = np.flatnonzero(full)
                new = full[active]
            if not len(active):
                break
            yield d, active, new
            seen[active] |= new
            frontier[active] = new
            reached.append(active)
        frontier[active] = 0
        seen[np.concatenate(reached)] = 0


def _bitbfs_level_counts(indptr, indices, words, max_d: int):
    """Ordered (source, target) pairs per shortest distance 1..max_d
    (index d of the returned int64 array), summed over the sources in
    `words` (`_bitbfs_levels`): a level's pair count is the popcount of
    its newly reached bits."""
    import numpy as np

    popcount8 = np.frombuffer(_POPCOUNT8, np.uint8)
    per_d = np.zeros(max_d + 1, np.int64)
    for d, _, new in _bitbfs_levels(indptr, indices, words, max_d):
        per_d[d] += int(popcount8[new.view(np.uint8)].sum(dtype=np.int64))
    return per_d


def _harmonic_sums(indptr, indices, max_d: int):
    """Per vertex v, sum 1/d(s, v) over the s within max_d hops: v's
    harmonic centrality, since d(s, v) = d(v, s). Per level d, the
    sources that first reach v are counted over all words before the
    1/d weighting, so the float sum does not depend on word order."""
    import numpy as np

    popcount8 = np.frombuffer(_POPCOUNT8, np.uint8)
    n = len(indptr) - 1
    per_d = np.zeros((max_d + 1, n), np.int64)
    for d, active, new in _bitbfs_levels(indptr, indices, range(-(-n // 64)), max_d):
        per_d[d, active] += popcount8[new.view(np.uint8)].reshape(-1, 8).sum(1, np.int64)
    return sum((per_d[d] / d for d in range(1, max_d + 1)), np.zeros(n))


def _brandes_scores(indptr, indices, sources, max_d: int):
    """Per vertex, its Brandes dependency summed over `sources` (vertex
    labels, never counted for themselves) on shortest paths of at most
    max_d hops. Level-synchronous: the forward sweep sums path counts
    sigma along each level's DAG edges (tails at d-1, heads first
    reached at d); the backward sweep walks them deep to shallow,
    adding sigma_v/sigma_w * (1 + delta_w) to each tail v. A vertex is
    reached once its sigma is positive; only the vertices a source
    reached are reset."""
    import numpy as np

    n = len(indptr) - 1
    deg = np.diff(indptr).astype(np.int64)
    sigma = np.zeros(n)
    delta = np.zeros(n)
    bc = np.zeros(n)
    for s in sources:
        sigma[s] = 1.0
        reached = [np.array([s])]
        dag = []
        for _ in range(max_d):
            counts = deg[reached[-1]]
            heads = indices[_fanout_positions(indptr, counts, reached[-1])]
            tails = np.repeat(reached[-1], counts)
            fresh = sigma[heads] == 0
            tails, heads = tails[fresh], heads[fresh]
            if not len(heads):
                break
            np.add.at(sigma, heads, sigma[tails])
            reached.append(np.unique(heads))
            dag.append((tails, heads))
        for tails, heads in reversed(dag):
            np.add.at(delta, tails, sigma[tails] / sigma[heads] * (1.0 + delta[heads]))
        touched = np.concatenate(reached)
        bc[touched[1:]] += delta[touched[1:]]
        sigma[touched] = 0.0
        delta[touched] = 0.0
    return bc


def _bitbfs_pairs_by_distance(spark, csrs, max_d: int) -> list[list[tuple[int, int]]]:
    """Per graph of `csrs` (a list of (indptr, indices) CSRs), the exact
    [(d, cumulative unordered pairs at distance <= d)], all in ONE Spark
    job: the CSRs are broadcast together and each graph gets
    min(defaultParallelism, ceil(V/64)) tasks, each BFSing a contiguous
    block of its 64-source words and returning per-distance ORDERED pair
    counts; the driver sums them per graph, halves them (the graph is
    undirected) and accumulates up to the first empty level. A graph
    with no vertex gets [] and no task."""
    import pyarrow as pa

    slots = spark.sparkContext.defaultParallelism
    tasks = []  # (graph, first word, end word)
    for g, (indptr, _) in enumerate(csrs):
        n_words = -(-(len(indptr) - 1) // 64)
        n_tasks = min(slots, n_words)
        tasks += [(g, t * n_words // n_tasks, (t + 1) * n_words // n_tasks) for t in range(n_tasks)]
    per_d = [dict() for _ in csrs]
    if tasks:
        bc = spark.sparkContext.broadcast(csrs)

        def run(batches):
            for batch in batches:
                for task in batch.column(0).to_pylist():
                    g, lo, hi = tasks[task]
                    counts = _bitbfs_level_counts(*bc.value[g], range(lo, hi), max_d)
                    d = counts.nonzero()[0]
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([g] * len(d), pa.int32()), pa.array(d, pa.int32()),
                         pa.array(counts[d], pa.int64())],
                        names=["g", "d", "pairs"],
                    )

        try:
            rows = (
                spark.range(len(tasks), numPartitions=len(tasks))
                .mapInArrow(run, "g int, d int, pairs long")
                .collect()
            )
        finally:
            bc.destroy()
        for r in rows:
            per_d[r["g"]][r["d"]] = per_d[r["g"]].get(r["d"], 0) + r["pairs"]
    out = []
    for pairs in per_d:
        counts: list[tuple[int, int]] = []
        acc = 0
        for d in range(1, max_d + 1):
            if not pairs.get(d):
                break
            acc += pairs[d] // 2
            counts.append((d, acc))
        out.append(counts)
    return out


def connected_pairs_by_distance(
    edges: DataFrame,
    max_d: int = 20,
) -> list[tuple[int, int]]:
    """[(d, cumulative #unordered connected pairs with shortest distance
    <= d)] of the undirected graph on `edges` (src, dst), until no pair
    is new or d = max_d. `edges` carries both orientations, as
    `bidirectional` and `snapshot_edges` produce; self-loops and
    duplicate edges are ignored.

    Two tiers, by the BFS family's one rule (`_driver_csr`): the edges
    are persisted and probed once; within the broadcast budget the
    bit-parallel multi-source BFS runs over the broadcast CSR in a
    single job (`_bitbfs_pairs_by_distance`), above it the distributed
    pair BFS (`_pair_bfs_by_distance`) reuses the persisted edges. Past
    what the pair BFS can hold, the approximate hop-plot
    (`approx_hop_plot`, HyperBall) is the remaining path.
    """
    # persisted for the probe's one pass, so that a graph over the budget
    # does not recompute its edge plan in the pair BFS
    edges = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        csr = _driver_csr(edges)
        if csr is None:
            return _pair_bfs_by_distance(edges, max_d)
        return _bitbfs_pairs_by_distance(edges.sparkSession, [csr[1:]], max_d)[0]
    finally:
        edges.unpersist()


def snapshot_pairs_by_distance(
    citations: DataFrame, published: DataFrame, max_d: int = 20
) -> dict[int, list[tuple[int, int]]] | None:
    """`connected_pairs_by_distance` of `snapshot_edges(citations,
    published, year)` for every published year, in year order (a year
    whose snapshot has no edge maps to []), from ONE read of each input;
    or None when the inputs are over the broadcast budget, and the
    caller runs its per-year loop instead.

    Each frame is read once as Arrow, at most budget/8 rows (a directed
    row becomes at most two 4-byte CSR entries); None when the budget is
    0 or either read is over it. On the driver, each edge is dated by
    its endpoints' years (raw citation ids against the normalised
    published ids, min year per id, as `snapshot_edges`' joins match
    them): an edge with an undated endpoint is dropped, and the others
    join the snapshots from max(fromYear, toYear) on. Snapshot y is then
    the edges dated <= y, through `_csr_from_arrow`. The CSRs of all
    years are charged together against the budget (None as soon as
    they are over it) and run in one `_bitbfs_pairs_by_distance` job."""
    import numpy as np
    import pyarrow as pa

    spark = citations.sparkSession
    budget = session_broadcast_bytes(spark)
    if budget == 0:
        return None
    cap = budget // 8
    pub = published.select("id", "year").limit(cap + 1).toArrow()
    if pub.num_rows > cap:
        return None
    cit = citations.select("from", "to").limit(cap + 1).toArrow()
    if cit.num_rows > cap:
        return None
    pub, cit = pub.drop_null(), cit.drop_null()
    ids, years = pub.column("id").to_numpy(), pub.column("year").to_numpy()
    order = np.lexsort((years, ids))
    ids, years = ids[order], years[order]
    first = np.r_[True, ids[1:] != ids[:-1]]
    ids, years = ids[first], years[first]
    if not len(ids):
        return {}

    src, dst = cit.column("from").to_numpy(), cit.column("to").to_numpy()
    at_src = np.minimum(np.searchsorted(ids, src), len(ids) - 1)
    at_dst = np.minimum(np.searchsorted(ids, dst), len(ids) - 1)
    dated = (ids[at_src] == src) & (ids[at_dst] == dst)
    edge_year = np.maximum(years[at_src], years[at_dst])[dated]
    order = np.argsort(edge_year, kind="stable")
    src, dst, edge_year = src[dated][order], dst[dated][order], edge_year[order]

    snapshot_years = np.unique(years).tolist()
    csrs, nbytes = [], 0
    for y in snapshot_years:
        k = np.searchsorted(edge_year, y, side="right")
        csrs.append(_csr_from_arrow(pa.table({"src": src[:k], "dst": dst[:k]}))[1:])
        nbytes += csrs[-1][0].nbytes + csrs[-1][1].nbytes
        if nbytes > budget:
            return None
    counts = _bitbfs_pairs_by_distance(spark, csrs, max_d)
    return dict(zip(snapshot_years, counts))


def _pair_bfs_by_distance(edges: DataFrame, max_d: int) -> list[tuple[int, int]]:
    """Frontier BFS over pairs, the tier for adjacencies above the
    broadcast budget; same contract as `connected_pairs_by_distance`.

    Invariant per round: `frontier` holds DIRECTED pairs at shortest
    distance exactly d (both orientations — needed so the next hop can
    extend from either end); `seen` holds CANONICAL pairs at distance <= d.
    A distance-(d+1) pair is always a distance-d pair extended by one edge,
    so candidates = frontier ⋈ edges, anti-joined against seen. Every
    persisted or lineage-cut round state is `release`d before return.
    """
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df)
        return df

    try:
        edges = hold(edges.repartition("src").persist(StorageLevel.MEMORY_AND_DISK))
        d1 = hold(canonical_pairs(edges).persist(StorageLevel.MEMORY_AND_DISK))
        seen = d1
        frontier = hold(
            d1.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(d1.select(F.col("b").alias("src"), F.col("a").alias("dst")))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )

        counts: list[tuple[int, int]] = []
        total = d1.count()
        if total == 0:
            return counts
        counts.append((1, total))

        # unpersist of a round's structures must wait until the NEXT round's
        # count has materialized `next_seen`/`next_frontier` (they read the
        # previous round's persisted blocks; releasing earlier forces a
        # full recompute of the round)
        pending_release: list[DataFrame] = []
        for d in range(2, max_d + 1):
            if d == 2:
                # Wedge-centered candidates for the first extension round
                # (r13 optimization, guide §2.3 — shuffle fewer bytes): at
                # d=2 the frontier IS the (symmetric, distinct) edge set, so
                # a distance-2 candidate is exactly an unordered pair of
                # distinct neighbors of a common center. The generic
                # frontier-extension join below emits every such pair TWICE
                # (once per traversal direction: (a,b)⋈(b,c) and
                # (c,b)⋈(b,a) both canonicalize to {a,c}); the self-join on
                # the center with a strict dst< dst order emits each pair
                # ONCE — half the candidate rows into the fused dedup
                # shuffle (measured 25.2M -> 12.6M at sf0.1, identical
                # result set). Both join sides are the src-partitioned
                # persisted edge cache, so the join itself adds NO exchange.
                e2 = edges.select(
                    F.col("src").alias("c_src"), F.col("dst").alias("c_dst")
                )
                cand = edges.join(
                    e2,
                    (edges["src"] == e2["c_src"]) & (edges["dst"] < e2["c_dst"]),
                ).select(F.col("dst").alias("a"), F.col("c_dst").alias("b"))
            else:
                fr = frontier.select(
                    F.col("src").alias("f_src"), F.col("dst").alias("f_dst")
                )
                cand = (
                    fr.join(edges, fr["f_dst"] == edges["src"], "inner")
                    .select(
                        F.least("f_src", "dst").alias("a"),
                        F.greatest("f_src", "dst").alias("b"),
                    )
                    .filter(F.col("a") != F.col("b"))
                )
            # dedup + seen-subtraction fused into ONE shuffle: tag candidates 0
            # and seen pairs 1, group once, keep groups with no seen member —
            # equivalent to distinct() followed by a left_anti join but a full
            # shuffle pass cheaper on the (large) candidate set
            new_pairs = (
                cand.select("a", "b", F.lit(0).alias("_seen"))
                .unionByName(seen.select("a", "b", F.lit(1).alias("_seen")))
                .groupBy("a", "b")
                .agg(F.max("_seen").alias("_seen"))
                .filter(F.col("_seen") == 0)
                .select("a", "b")
            )
            if d < max_d:
                # persisted because the next round unions it into `seen`; at the
                # final round the count below is the only consumer — skipping the
                # persist avoids serializing the full pair set once more
                new_pairs = hold(new_pairs.persist(StorageLevel.MEMORY_AND_DISK))
            n_new = new_pairs.count()
            for df in pending_release:
                # plain unpersist: a lineage-cut frame's blocks may still
                # back a later round's partially built cache, so those
                # wait for the final `release`
                df.unpersist()
            pending_release = []
            if n_new == 0:
                break
            counts.append((d, counts[-1][1] + n_new))
            if d == max_d:
                break

            next_seen = seen.unionByName(new_pairs)
            next_frontier = new_pairs.select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            ).unionByName(new_pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))

            if d % 3 == 0:
                # truncate lineage: each round unions onto the last, and without
                # this the d-th count recomputes all prior rounds (the
                # reference's unbounded-lineage flaw, SURVEY.md §4.3)
                next_seen = hold(next_seen.transform(cut_lineage))
                next_frontier = hold(next_frontier.transform(cut_lineage))
            else:
                next_seen = hold(next_seen.persist(StorageLevel.MEMORY_AND_DISK))
                next_frontier = hold(next_frontier.persist(StorageLevel.MEMORY_AND_DISK))

            pending_release = [seen, frontier, new_pairs]
            seen, frontier = next_seen, next_frontier
        return counts
    finally:
        for df in held:
            release(df)


def hop_plot(
    edges: DataFrame,
    total_pairs: int | None = None,
    max_d: int = 20,
    strict_stop: bool = True,
) -> list[HopPlotRow]:
    """G8/G9: per-distance hop-plot rows (d, g(d), percent_of_total).

    `total_pairs`: the denominator. The reference reads it precomputed from
    nodepairs.csv (Application.scala:26-32); when absent we use the spec's
    own definition — connected pairs at d=20 (docs/PA1.pdf p.3) — by
    running the BFS to convergence first.

    `strict_stop=True` reproduces the reference's emission rule
    (Analytics.scala:176-214): d=1 and d=2 always recorded; d>=3 recorded
    only while the previous row's percent <= 0.90, new pairs keep
    appearing, and d <= 20.
    """
    counts = connected_pairs_by_distance(edges, max_d=max_d)
    return hop_plot_rows(counts, total_pairs, strict_stop)


def hop_plot_rows(
    counts: list[tuple[int, int]],
    total_pairs: int | None = None,
    strict_stop: bool = True,
) -> list[HopPlotRow]:
    """`hop_plot`'s rows from its exact (d, cumulative pairs) counts."""
    if not counts:
        return []
    if total_pairs is None:
        total_pairs = counts[-1][1]

    rows = [HopPlotRow(d, g, g * 1.0 / total_pairs) for d, g in counts]
    return _apply_strict_stop(rows) if strict_stop else rows


def _apply_strict_stop(rows: list[HopPlotRow]) -> list[HopPlotRow]:
    """The reference's emission rule (Analytics.scala:176-214): d=1,2
    always; d>=3 only while the previous row's percent <= 0.90."""
    out: list[HopPlotRow] = []
    for row in rows:
        if row.d <= 2:
            out.append(row)
        elif out and out[-1].percent <= 0.90:
            out.append(row)
        else:
            break
        if row.d >= 2 and row.percent > 0.90:
            break
    return out


def effective_diameter(rows: list[HopPlotRow]) -> float | None:
    """G10: d* = d + (0.9 - g(d))/(g(d+1) - g(d)) at the 0.9 crossing
    (docs/PA1.pdf p.3 §3; the reference leaves this to post-processing)."""
    for lo, hi in zip(rows, rows[1:]):
        if lo.percent <= 0.9 < hi.percent:
            return lo.d + (0.9 - lo.percent) / (hi.percent - lo.percent)
    if rows and rows[0].percent > 0.9:
        return float(rows[0].d)
    return None


def hop_plot_df(spark, rows: list[HopPlotRow]) -> DataFrame:
    """Hop-plot rows (from `hop_plot` or `approx_hop_plot`) as a
    DataFrame with the reference's output schema (d, `g(d)`,
    percent_of_total) — S7 local-collection source. At most `max_d`
    rows, so one partition: a sort by `d` then needs no range exchange
    (its sampling and map jobs)."""
    from .. import schemas

    return local_rows(
        spark, [(r.d, r.pairs, r.percent) for r in rows], schema=schemas.HOP_PLOT
    ).coalesce(1)


def approx_hop_plot(
    edges: DataFrame,
    total_pairs: int | None = None,
    max_d: int = 20,
    p: int = 6,
    strict_stop: bool = True,
) -> list[HopPlotRow]:
    """Hop-plot rows estimated by HyperBall (functions/sketches.py)
    instead of the exact BFS — O(|V|·2^p) state instead of O(connected
    pairs) or a broadcast adjacency, the path that still runs when
    neither fits anywhere (100 TB graphs). Estimates carry ~1 % relative
    error at p=6 on sf0.1 (asserted in tests)."""
    from ..functions.sketches import hyperball_hopplot

    counts = hyperball_hopplot(edges, p=p, max_d=max_d)
    if not counts:
        return []
    total = float(total_pairs) if total_pairs is not None else counts[-1][1]
    rows = [
        HopPlotRow(d, int(round(g)), g / total if total else 0.0)
        for d, g in counts
    ]
    return _apply_strict_stop(rows) if strict_stop else rows


# --------------------------------------------- centrality / structure ops


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Degree histogram of an undirected graph: (degree, n_nodes).

    `edges` must carry both orientations (`bidirectional`), deduped, so
    `groupBy(src).count()` is the undirected degree. Two hash aggregates,
    both with map-side partial combine; the second operates on |V| rows.
    """
    deg = edges.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("degree"))
    return (
        deg.groupBy("degree").agg(F.count("*").alias("n_nodes")).orderBy("degree")
    )


def co_citation(edges: DataFrame, src: str = "from", dst: str = "to") -> DataFrame:
    """Co-citation projection: canonical pairs (a < b) of targets cited by
    a common source (Small 1973, "Co-citation in the scientific
    literature" — public bibliometrics construct). One self-equi-join on
    the citing key + distinct.

    Scale: the join fans out quadratically in per-source out-degree, so
    skewed sources dominate; out-degree here is bounded (TPC-H: <= 7
    items/order). For power-law sources, cap or sample per-source
    out-neighbors before the join.
    """
    left = edges.select(F.col(src).alias("s"), F.col(dst).alias("a"))
    right = edges.select(F.col(src).alias("s"), F.col(dst).alias("b"))
    return (
        left.join(right, "s")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def triangle_stats(und_edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected graph: one row
    (n_edges, n_wedges, n_triangles, clustering_coeff).

    `und_edges`: canonical edges (a < b), distinct.

    Triangles are counted with DEGREE-ORDERED ORIENTATION (each edge
    directed from its lower-(degree, id) endpoint): every triangle then
    has exactly one node with two out-edges, so counting (u->v, u->w,
    v->w) paths counts each triangle once, and per-node out-degree is
    bounded by O(sqrt(|E|)) — the wedge-enumeration join survives
    power-law degree skew that would explode a naive a<b ordering.
    Wedges n_wedges = sum_v C(deg_v, 2); clustering coefficient =
    3 * triangles / wedges.
    """
    deg = (
        und_edges.select(F.col("a").alias("node"))
        .unionByName(und_edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # orient each edge from lower (deg, id) to higher
    e = (
        und_edges.join(deg.alias("da"), F.col("a") == F.col("da.node"))
        .join(deg.alias("db"), F.col("b") == F.col("db.node"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e = e.transform(cut_lineage)
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(F.col("e1.v").alias("x"), F.col("e2.v").alias("y"))
    )
    # wedge endpoints are x < y by id and und_edges is canonical (a < b),
    # so closing-edge existence is one equi semi join (an OR over the
    # two orientations would force a nested-loop join)
    tri = wedges.join(
        und_edges,
        (F.col("x") == F.col("a")) & (F.col("y") == F.col("b")),
        "left_semi",
    )
    n_edges = und_edges.count()
    n_tri = tri.count()
    n_wedges = (
        deg.agg(F.sum(F.expr("deg * (deg - 1) / 2")).alias("w")).first()["w"] or 0
    )
    spark = und_edges.sparkSession
    coeff = round(3.0 * n_tri / n_wedges, 6) if n_wedges else 0.0
    return local_rows(
        spark,
        [(int(n_edges), int(n_wedges), int(n_tri), coeff)],
        schema="n_edges bigint, n_wedges bigint, n_triangles bigint, clustering_coeff double",
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    seeds: list[int] | None = None,
) -> DataFrame:
    """PageRank on a DIRECTED edge list (src, dst), fixed iteration count:
    r_{k+1}(v) = (1-d)/N + d * sum_{u->v} r_k(u)/outdeg(u).

    Variant note: dangling-node mass is NOT redistributed (it decays),
    so ranks sum to < 1; the recurrence is otherwise the classic one and
    is exactly expressible in SQL (the DuckDB oracle mirrors it with a
    recursive CTE). Output: (node, rank).

    `seeds`: PERSONALIZED PageRank — the teleport term restricts to the
    seed set ((1-d)/|seeds| at seed nodes, 0 elsewhere) and the initial
    mass is uniform over seeds, so ranks measure proximity to the seeds
    (random walk with restart). Identical round shape and cost; only the
    teleport expression changes.

    The rounds run through `lineage.relax_rounds`. The edge table is
    augmented once with ZERO-WEIGHT self-loops so every node receives at
    least one message per round (a round is then a pure join +
    groupBy-sum, no left join against the previous ranks). The rank
    table (48 bytes/node) is broadcast while it fits the round-state
    budget, with the edges partitioned by DST, so a whole round runs
    with ZERO shuffle. Past it (1e9-node graphs) the edges are
    partitioned by SRC and each round is a shuffled-hash join: the only
    per-round exchanges are the rank table and the map-side-combined
    message aggregate, never the O(edges) table. Without that
    partitioning the static 100TB edge table would re-shuffle on src
    EVERY iteration — the round-7 100x rehearsal measured that as the
    dominant cost of the fallback (15.6 GB/10 rounds); src-partitioning
    cut the forced-fallback A/B's per-round shuffle by ~2.9x and wall
    by ~1.5x at 6M edges.
    """
    edges = edges.transform(cut_lineage)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .transform(cut_lineage)
    )
    try:
        n = nodes.count()
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        e_aug = (
            edges.join(outdeg, "src")
            .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
            .unionByName(
                nodes.select(
                    F.col("node").alias("src"),
                    F.col("node").alias("dst"),
                    F.lit(0.0).alias("w"),
                )
            )
        )
        if seeds is None:
            init_rank = F.lit(1.0 / n)
            teleport = F.lit((1.0 - damping) / n)
        else:
            is_seed = F.col("node").isin(*[int(x) for x in seeds])
            init_rank = F.when(is_seed, F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))
            teleport = F.when(is_seed, F.lit((1.0 - damping) / len(seeds))).otherwise(
                F.lit(0.0)
            )

        def step(e_aug: DataFrame, ranks: DataFrame) -> DataFrame:
            return (
                e_aug.join(ranks, e_aug["src"] == ranks["node"], "inner")
                .select(
                    e_aug["dst"].alias("node"),
                    (F.col("rank") * F.col("w")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("_s"))
                .select("node", (teleport + F.lit(damping) * F.col("_s")).alias("rank"))
            )

        ranks = nodes.select("node", init_rank.alias("rank")).transform(cut_lineage)
        return relax_rounds(
            e_aug, ranks, step, iterations, state_bytes=n * 48, keys=("dst", "src")
        )
    finally:
        release(edges)
        release(nodes)


def k_core(und_edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """k-core of an undirected graph (Seidman 1983, "Network structure and
    minimum degree"): the maximal subgraph where every node has degree
    >= k, found by iterative peeling. Returns (node, core_deg) — each
    surviving node with its degree INSIDE the core.

    `und_edges`: canonical pairs (a < b), distinct.

    Each round is one degree aggregate + two semi joins, run by
    `lineage.shrink_rounds`; the edge set only shrinks, so rounds get
    cheaper, and a round that keeps every edge is the fixpoint (equal
    counts imply equal sets). Real-world graphs converge in a handful of
    rounds (peel depth, not diameter); a path graph is the k=2 worst
    case, hence the max_rounds backstop — an unfinished peel still holds
    sub-k-degree nodes and would read as a valid (larger) core, so it
    raises ConvergenceError instead.
    """

    def degrees(edges: DataFrame, col: str) -> DataFrame:
        return (
            edges.select(F.col("a").alias("node"))
            .unionByName(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias(col))
        )

    def step(edges: DataFrame, rnd: ShrinkRound) -> DataFrame:
        keep = degrees(edges, "deg").filter(F.col("deg") >= k).select("node")
        return edges.join(
            keep.withColumnRenamed("node", "ka"), F.col("a") == F.col("ka"), "left_semi"
        ).join(
            keep.withColumnRenamed("node", "kb"), F.col("b") == F.col("kb"), "left_semi"
        )

    return shrink_rounds(
        "k_core",
        und_edges,
        step,
        max_rounds,
        finish=lambda edges: degrees(edges, "core_deg"),
        fixpoint=True,
    )


def label_propagation(edges: DataFrame, max_iter: int = 5) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation: every node
    starts in its own community; each round a node adopts the most
    frequent label among its neighbors and itself (self-vote damps the
    oscillation synchronous LPA exhibits on bipartite structure), ties
    broken toward the smallest label — fully deterministic. Output:
    (node, community).

    The rounds run through `lineage.relax_rounds` over the adjacency plus
    one (node, node) self-loop per node, which casts the self-vote. A
    round is one equi join (neighbor labels) + one (node, label) count
    aggregate + one argmax-by-struct aggregate. The argmax is
    `max(struct(cnt, -label))` — a regular aggregate with map-side
    combine on the same `node` key as the count's first grouping column,
    NOT a row_number window (a window would force a second full sort
    exchange per round). The same aggregate reads each node's old label
    through its self-loop, and the rounds stop at the first one that
    changes no label (an `observe` sum, so no extra job): a stable round
    is the identity. Fixed small `max_iter`: LPA quality saturates in a
    few rounds and each extra round is a full join over the edge set.
    """
    fwd = edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    rev = edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    adj = (
        fwd.unionByName(rev)
        .filter(F.col("node") != F.col("nbr"))
        .distinct()
        .transform(cut_lineage)
    )
    try:
        # the initial state doubles as the node list
        labels = (
            adj.select("node")
            .distinct()
            .select("node", F.col("node").alias("community"))
            .transform(cut_lineage)
        )
        n = labels.count()
        static = adj.unionByName(labels.select("node", F.col("node").alias("nbr")))

        def step(static: DataFrame, labels: DataFrame) -> DataFrame:
            votes = (
                static.alias("a")
                .join(labels.alias("l"), F.col("a.nbr") == F.col("l.node"), "inner")
                .select(
                    F.col("a.node").alias("node"),
                    F.col("l.community").alias("community"),
                    (F.col("a.node") == F.col("a.nbr")).alias("own"),
                )
                .groupBy("node", "community")
                .agg(F.count("*").alias("cnt"), F.max("own").alias("own"))
            )
            new = -F.col("top.neg")
            return (
                votes.groupBy("node")
                .agg(
                    F.max(F.struct("cnt", (-F.col("community")).alias("neg"))).alias("top"),
                    F.max(F.when(F.col("own"), F.col("community"))).alias("old"),
                )
                .select(
                    "node",
                    new.alias("community"),
                    (F.col("old") != new).cast("int").alias("changed"),
                )
            )

        state = relax_rounds(
            static,
            labels,
            step,
            max_iter,
            state_bytes=n * 48,
            keys=("node", "nbr"),
            observe=F.sum("changed").alias("changed"),
            stop=lambda _, n_changed: not n_changed,
        )
    finally:
        release(adj)
    return state.select("node", "community")


def _tarjan_scc(pairs: list[tuple[int, int]]) -> list[frozenset]:
    """Exact SCC partition of a driver-local directed edge list —
    ITERATIVE Tarjan (explicit stack, no recursion limit). Shared by
    the small-residue fast path of strongly_connected_components and
    by scc_partition_gate's independent reference replay (the gate runs
    the operator with local_threshold=0, so the two sides never share
    an execution path)."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes: set = set()
    for a, b in pairs:
        adj[a].append(b)
        nodes.update((a, b))
    index: dict = {}
    low: dict = {}
    on: set = set()
    st: list = []
    out: list[frozenset] = []
    counter = 0
    for root in sorted(nodes):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                st.append(v)
                on.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = st.pop()
                    on.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                out.append(frozenset(comp))
            work.pop()
            if work:
                p = work[-1][0]
                low[p] = min(low[p], low[v])
    return out


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 50,
    local_threshold: int = 500_000,
) -> DataFrame:
    """SCC of a DIRECTED graph: TRIM + coloring (parallel FW-BW, Orzan).

    Phase 1 — trim: a node with zero in-degree or zero out-degree cannot
    be on a cycle, so it is a singleton SCC; peel such nodes iteratively
    (each peel: two distincts + two semi joins — a DAG trims to empty in
    topological-depth rounds, so the common near-acyclic citation graph
    never reaches the expensive phase). Peels are NOT lazily batched
    between materializations: each peel references its input 4× (srcs,
    dsts, and the semi-join left side), so a k-deep lazy chain grows the
    logical plan ~4^k and Catalyst planning dominates (measured: an
    8-deep chain never finished planning at sf0.01). One materialized
    peel per round is the stable shape. Phase 2 — coloring on the cyclic
    residue:
    propagate the max node id FORWARD to a fixpoint (color classes),
    then from each root (color(r)=r) propagate a confirmation flag
    BACKWARD restricted to the root's color class; confirmed nodes are
    exactly root's SCC (root→v forward ∧ v→root backward), emitted and
    peeled — every color class peels one SCC per outer round. All nodes
    never emitted by phase 2 (trimmed or edge-orphaned) are singleton
    SCCs, emitted in one final anti-join. Output: (node, scc), scc = the
    component's max node id.

    Once the live residue fits `local_threshold` edges (checked at the
    free count points), it is collected and solved EXACTLY by iterative
    Tarjan on the driver — the standard shrinking-residue endgame: on a
    1000-executor cluster, distributed rounds that peel a handful of
    edges each are pure scheduling overhead, while the residue of a
    trimmed 100 TB citation graph is a few MB. The 500k default matches
    scc_partition_gate's driver-size budget (≈8 MB of edge pairs; Tarjan
    is linear and sub-second there). `local_threshold=0` disables the
    fast path (scc_partition_gate uses that to keep its
    distributed-vs-Tarjan comparison honest). Labels are identical
    either way — the partition is unique and both paths emit max-id.

    A round is label propagation with max in place of hash-min's min:
    equi join + max-aggregate, localCheckpoint lineage truncation, no
    RDDs/UDFs. Worst case (one
    long cycle) pays O(cycle length) rounds — the bound any
    label-propagation SCC pays.
    """
    spark = edges.sparkSession
    live = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(cut_lineage)
    )
    all_nodes = (
        edges.select(F.col("src").cast("long").alias("node"))
        .unionByName(edges.select(F.col("dst").cast("long").alias("node")))
        .distinct()
        .transform(cut_lineage)
    )

    def _local_residue(residue: DataFrame) -> DataFrame:
        pairs = [(r["src"], r["dst"]) for r in residue.collect()]
        rows = [
            (int(n), int(max(comp)))
            for comp in _tarjan_scc(pairs)
            for n in comp
        ]
        return local_rows(spark, rows, "node long, scc long")

    # ---- phase 1: trim acyclic fringe (cannot be on any cycle)
    n_edges = live.count()
    went_local = False
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        if local_threshold and n_edges <= local_threshold:
            went_local = True
            break
        srcs = live.select(F.col("src").alias("node")).distinct()
        dsts = live.select(F.col("dst").alias("node")).distinct()
        core = srcs.intersect(dsts)  # >=1 out-edge AND >=1 in-edge
        nxt = (
            live.join(core.withColumnRenamed("node", "_s"), live["src"] == F.col("_s"), "left_semi")
            .join(core.withColumnRenamed("node", "_d"), live["dst"] == F.col("_d"), "left_semi")
            .transform(cut_lineage)
        )
        n_next = nxt.count()
        live = nxt
        if n_next == n_edges:
            break
        n_edges = n_next

    if went_local:
        labeled = _local_residue(live)
        singletons = all_nodes.join(
            labeled.select("node"), "node", "left_anti"
        ).select("node", F.col("node").alias("scc"))
        return labeled.unionByName(singletons)

    # ---- phase 2: coloring on the cyclic residue
    out_parts: list[DataFrame] = []
    for _ in range(max_rounds):
        nodes = (
            live.select(F.col("src").alias("node"))
            .unionByName(live.select(F.col("dst").alias("node")))
            .distinct()
            .transform(cut_lineage)
        )
        if nodes.isEmpty():
            break
        color = nodes.select("node", F.col("node").alias("color"))
        colored = False
        for _i in range(max_rounds):
            msgs = (
                live.join(color, live["src"] == color["node"], "inner")
                .select(F.col("dst").alias("node"), "color")
            )
            new_color = (
                color.unionByName(msgs)
                .groupBy("node")
                .agg(F.max("color").alias("color"))
                .transform(cut_lineage)
            )
            n_changed = (
                new_color.alias("n")
                .join(color.alias("o"), "node")
                .filter(F.col("n.color") != F.col("o.color"))
                .count()
            )
            color = new_color
            if n_changed == 0:
                colored = True
                break
        if not colored:
            # forward color propagation stopped before its fixpoint:
            # color classes are wrong and every SCC derived from them
            # would be silently wrong (ADVICE r3 pattern).
            from ..errors import ConvergenceError

            raise ConvergenceError(
                "strongly_connected_components (forward coloring)", max_rounds
            )
        confirmed = color.filter(F.col("node") == F.col("color")).select(
            "node", "color"
        )
        backward_done = False
        for _i in range(max_rounds):
            msgs = (
                live.join(confirmed, live["dst"] == confirmed["node"], "inner")
                .select(F.col("src").alias("node"), "color")
            )
            cand = (
                msgs.join(color.withColumnRenamed("color", "_c"), "node")
                .filter(F.col("color") == F.col("_c"))
                .select("node", "color")
            )
            new_confirmed = (
                confirmed.unionByName(cand)
                .groupBy("node")
                .agg(F.max("color").alias("color"))
                .transform(cut_lineage)
            )
            if new_confirmed.count() == confirmed.count():
                confirmed = new_confirmed
                backward_done = True
                break
            confirmed = new_confirmed
        if not backward_done:
            # backward confirmation stopped while still growing: the
            # root's SCC would be under-counted and its stragglers
            # emitted as bogus singletons later.
            from ..errors import ConvergenceError

            raise ConvergenceError(
                "strongly_connected_components (backward confirm)", max_rounds
            )
        out_parts.append(confirmed.select("node", F.col("color").alias("scc")))
        done = confirmed.select("node")
        live = (
            live.join(done.withColumnRenamed("node", "_s"), live["src"] == F.col("_s"), "left_anti")
            .join(done.withColumnRenamed("node", "_d"), live["dst"] == F.col("_d"), "left_anti")
            .transform(cut_lineage)
        )

    # outer peel exhausted with live edges remaining: those nodes would
    # fall through to the singleton emission below and be silently
    # mislabeled — refuse instead.
    if live.limit(1).count() != 0:
        from ..errors import ConvergenceError

        raise ConvergenceError(
            "strongly_connected_components (outer peel)", max_rounds
        )

    # ---- nodes never emitted (trimmed / orphaned) are singleton SCCs
    cyclic = out_parts[0] if out_parts else None
    for p in out_parts[1:]:
        cyclic = cyclic.unionByName(p)
    if cyclic is None:
        return all_nodes.select("node", F.col("node").alias("scc"))
    singletons = all_nodes.join(cyclic.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("scc")
    )
    return cyclic.unionByName(singletons)


def hits(edges: DataFrame, iterations: int = 10) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, "Authoritative sources in
    a hyperlinked environment") on a DIRECTED edge list (src, dst) —
    the citation-network centrality pair: a good authority is cited by
    good hubs; a good hub cites good authorities.

    Simultaneous (Jacobi) update, `iterations` fixed rounds:
        a_{k+1}(v) = sum_{u->v} h_k(u)
        h_{k+1}(u) = sum_{u->v} a_k(v)
    This variant updates both vectors from the PREVIOUS round (the
    classic Gauss-Seidel order computes h from the new a; Jacobi
    converges to the same principal vectors at half the rate) because it
    makes every round ONE message join instead of two: each directed
    edge u->v is pre-expanded into a forward message (to=v carries h(u))
    and a reverse message (to=u carries a(v)), unioned with zero-weight
    self-messages so every node survives the groupBy. The rounds run
    through `lineage.relax_rounds`, the same mechanics as `pagerank`:
    with the per-node state broadcast (24 bytes/node within the
    round-state budget) a round is join + groupBy-sum with ZERO shuffle,
    and past the budget the shuffled-hash fallback moves only the state
    + the combined aggregate, never the messages. Scores are left
    UN-normalized (normalization is a scalar that cancels in ranking);
    callers who need comparable magnitudes divide by the max, which
    keeps the recurrence exactly expressible in SQL (the DuckDB oracle
    replays it with a recursive CTE — per-round normalization would need
    an aggregate over the working table, which recursive SQL cannot
    express).

    Growth bound: 10 unnormalized rounds reach ~(2|E|/|V|)^10-scale
    values — far inside double range for any graph that fits a cluster.
    Output: (node, hub, auth).
    """
    edges = edges.transform(cut_lineage)
    try:
        # the initial state doubles as the node list
        state = (
            edges.select(F.col("src").alias("node"))
            .unionByName(edges.select(F.col("dst").alias("node")))
            .distinct()
            .select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
            .transform(cut_lineage)
        )
        n = state.count()
        # kind 1: forward (h -> authority of dst); kind 2: reverse (a -> hub
        # of src); kind 0: zero self-message (keeps isolated-direction nodes)
        msgs = (
            edges.select(F.col("src").alias("frm"), F.col("dst").alias("to"), F.lit(1).alias("kind"))
            .unionByName(
                edges.select(F.col("dst").alias("frm"), F.col("src").alias("to"), F.lit(2).alias("kind"))
            )
            .unionByName(
                state.select(F.col("node").alias("frm"), F.col("node").alias("to"), F.lit(0).alias("kind"))
            )
        )

        def step(msgs: DataFrame, state: DataFrame) -> DataFrame:
            return (
                msgs.join(state, msgs["frm"] == state["node"], "inner")
                .select(
                    F.col("to").alias("node"),
                    F.when(F.col("kind") == 2, F.col("auth")).otherwise(0.0).alias("h_c"),
                    F.when(F.col("kind") == 1, F.col("hub")).otherwise(0.0).alias("a_c"),
                )
                .groupBy("node")
                .agg(F.sum("h_c").alias("hub"), F.sum("a_c").alias("auth"))
            )

        return relax_rounds(
            msgs, state, step, iterations, state_bytes=n * 24, keys=("to", "frm")
        )
    finally:
        release(edges)


def link_prediction(
    und_edges: DataFrame,
    top_k: int = 100,
    max_degree: int = 10_000,
) -> DataFrame:
    """Link prediction over an UNDIRECTED graph (canonical pairs a < b):
    for every non-adjacent node pair with at least one common neighbor,
    the common-neighbor count and the Adamic-Adar score
    sum_z 1/ln(deg(z)) (Adamic & Adar 2003, "Friends and neighbors on
    the web") — the citation-recommendation primitive. Returns the
    global top_k by (adamic_adar, cn, pair) — deterministic total order.

    Plan: degree aggregate → wedge self-join THROUGH the middle node z
    (each unordered neighbor pair of z is a candidate) → canonicalize →
    anti-join existing edges → one (a,b) aggregate → TakeOrdered top-k
    (heap, no global sort). The wedge join is quadratic in the middle
    node's degree, so hubs above `max_degree` are excluded from the
    MIDDLE role (documented sampling cap — at power-law scale a
    1e6-degree hub alone yields 1e12 wedges; dropping hub middles is the
    standard LSH-free mitigation and biases scores only for pairs whose
    sole witnesses are hubs, which Adamic-Adar already down-weights by
    1/ln(deg)).
    """
    # und_edges may hang off an arbitrary (dedup/join) lineage and is
    # scanned 3 more times below (both wedge sides via mid, the anti
    # build) — materialize it once instead of recomputing its exchanges
    # per consumer
    und_edges = und_edges.transform(cut_lineage)
    nbrs = (
        und_edges.select(F.col("a").alias("z"), F.col("b").alias("x"))
        .unionByName(und_edges.select(F.col("b").alias("z"), F.col("a").alias("x")))
    )
    deg = nbrs.groupBy("z").agg(F.count("*").alias("deg"))
    # deg >= 2: a degree-1 middle forms no wedge, and excluding it keeps
    # 1/ln(deg) finite everywhere the expression is evaluated
    n_shuffle = int(
        und_edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    mid = (
        nbrs.join(
            F.broadcast(
                deg.filter((F.col("deg") <= max_degree) & (F.col("deg") >= 2))
            ),
            "z",
        )
        .select("z", "x", "deg")
        # both sides of the wedge self-join read this: compute the
        # degree-join once, not twice. Round-robin repartition first
        # (r13, guide §2.6/§1.2): the checkpointed table otherwise
        # inherits the SCAN's partition count, and the quadratic wedge
        # stage below — the query's dominant stage — ran on 10 tasks on
        # a 32-core session (measured 3.6 s of an 11 s query).
        # Round-robin (not hash-on-z) keeps the stage skew-proof: the
        # self-join broadcasts one side, so each task's wedge work is
        # sum(deg(z)) over ITS rows — spread evenly even for hot
        # middles.
        .repartition(n_shuffle)
        .transform(cut_lineage)
    )
    left = mid.select("z", F.col("x").alias("u"), "deg")
    right = mid.select(F.col("z").alias("z2"), F.col("x").alias("v"))
    wedges = (
        left.join(right, (left["z"] == right["z2"]) & (left["u"] < right["v"]))
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            (F.lit(1.0) / F.log(F.col("deg").cast("double"))).alias("aa_w"),
        )
    )
    scores = (
        wedges.join(und_edges, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.round(F.sum("aa_w"), 6).alias("adamic_adar"),
        )
    )
    return scores.orderBy(
        F.col("adamic_adar").desc(), F.col("cn").desc(), "a", "b"
    ).limit(top_k)


def sssp_bounded(edges_w: DataFrame, source: int, rounds: int = 15) -> DataFrame:
    """Weighted single-source shortest distances within `rounds` hops
    (bounded Bellman-Ford): d_{k+1}(v) = min(d_k(v), min_{u->v} d_k(u) +
    w(u,v)), run for a FIXED round count so the result ("shortest
    distance using <= k edges") is exactly replayable in recursive SQL.

    `edges_w`: (src, dst, w), non-negative weights. Same zero-shuffle
    round mechanics as `pagerank`/`hits` (`lineage.relax_rounds`): the
    edge table is augmented once with zero-weight self-loops (carrying
    each node's own distance forward, so a round is ONE join +
    min-aggregate with no union against the previous state), and the
    distance table — which only ever holds REACHED nodes, a frontier
    that grows like the ball around the source — is broadcast while its
    16 bytes/node for every node fit the round-state budget. Distances
    are sums of the input weights selected by min: no divisions, so
    integer-valued weights stay exact in double and the DuckDB oracle
    matches bit-for-bit.

    Output: (node, dist) for nodes within `rounds` hops of `source`.
    """
    spark = edges_w.sparkSession
    nodes = (
        edges_w.select(F.col("src").alias("node"))
        .unionByName(edges_w.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    e_aug = edges_w.select("src", "dst", F.col("w").cast("double").alias("w")).unionByName(
        nodes.select(
            F.col("node").alias("src"),
            F.col("node").alias("dst"),
            F.lit(0.0).alias("w"),
        )
    )
    dist = local_rows(spark, [(int(source), 0.0)], "node long, dist double")

    def step(e_aug: DataFrame, dist: DataFrame) -> DataFrame:
        return (
            e_aug.join(dist, e_aug["src"] == dist["node"], "inner")
            .select(e_aug["dst"].alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("dist"))
        )

    return relax_rounds(
        e_aug, dist, step, rounds, state_bytes=n * 16, keys=("dst", "src")
    )


def prepare_bfs_edges(und_edges: DataFrame) -> DataFrame:
    """Build, partition and persist the self-loop-augmented edge table
    `multi_source_bfs` relaxes against (r13: factored out so callers
    that sweep the SAME graph repeatedly — graph_diameter_double_sweep's
    two sweeps — pay the distinct + repartition + materialize cost
    once). Caller owns the returned persist (unpersist when done)."""
    spark = und_edges.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    nodes = (
        und_edges.select(F.col("src").alias("node"))
        .unionByName(und_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e_aug = (
        und_edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
            F.lit(1).alias("w"),
        )
        .unionByName(
            nodes.select(
                F.col("node").cast("long").alias("src"),
                F.col("node").cast("long").alias("dst"),
                F.lit(0).alias("w"),
            )
        )
        # partitioned by the aggregate key and persisted, as
        # `lineage.relax_rounds` does for its own static tables: with the
        # dst partitioning visible, the broadcast join preserves it and
        # the (src_id, node=dst) aggregate needs no exchange
        .repartition(n_shuffle, "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_aug.count()  # materialize once
    return e_aug


def multi_source_bfs(
    und_edges: DataFrame,
    sources: list[int],
    rounds: int = 6,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Exact shortest hop-distances from a small set of landmark sources
    within `rounds` hops — the building block for sampled (landmark)
    closeness/eccentricity centrality at scale, where all-pairs BFS is
    infeasible (reference computes pair counts only, Analytics.scala:
    152-229; per-landmark distances are the natural extension).

    `und_edges`: (src, dst) ALREADY undirected (both orientations
    present). State is (src_id, node, dist) — |sources| x reached-ball
    rows, a small multiple of the node count for small landmark sets, so
    the distance table is broadcast into every relaxation round
    (`lineage.relax_rounds` over the prepared table): a round is ONE
    broadcast-hash join + min-aggregate, zero shuffle on the edge side.
    Self-loops carry settled distances forward (same mechanics as
    `sssp_bounded` with w=1 on real edges, w=0 on loops). Output:
    (src_id, node, dist INT).

    `prepared`: a prepare_bfs_edges() result for the same graph — the
    augmented table is then reused as-is (and NOT unpersisted here).
    """
    spark = und_edges.sparkSession
    e_aug = prepared if prepared is not None else prepare_bfs_edges(und_edges)
    dist = local_rows(
        spark, [(int(s), int(s), 0) for s in sources], "src_id long, node long, dist int"
    )

    def step(e_aug: DataFrame, dist: DataFrame) -> DataFrame:
        return (
            e_aug.join(dist, e_aug["src"] == dist["node"], "inner")
            .select(
                "src_id",
                e_aug["dst"].alias("node"),
                (F.col("dist") + F.col("w")).cast("int").alias("d"),
            )
            .groupBy("src_id", "node")
            .agg(F.min("d").alias("dist"))
        )

    try:
        return relax_rounds(e_aug, dist, step, rounds)
    finally:
        if prepared is None:
            e_aug.unpersist()


def closeness_from_landmarks(bfs_dist: DataFrame) -> DataFrame:
    """Per-landmark closeness + eccentricity over the reached ball:
    (src_id, reached, total_dist, closeness = reached / total_dist,
    eccentricity = max dist). One tiny aggregate over the
    multi_source_bfs output; harmonic or normalized variants are one
    expression away."""
    return (
        bfs_dist.filter(F.col("dist") > 0)
        .groupBy("src_id")
        .agg(
            F.count("*").alias("reached"),
            F.sum("dist").cast("bigint").alias("total_dist"),
            F.max("dist").cast("int").alias("eccentricity"),
        )
        .select(
            "src_id",
            "reached",
            "total_dist",
            F.round(F.col("reached") / F.col("total_dist"), 6).alias("closeness"),
            "eccentricity",
        )
    )


def local_clustering(und_edges: DataFrame, top_k: int = 100) -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph:
    cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for deg(v) >= 2, top_k rows by
    (cc desc, node asc).

    Triangles are enumerated ONCE with the same degree-ordered
    orientation as `triangle_stats` (each triangle appears as exactly
    one (u→v, u→w, v→w) path and oriented out-degree is O(sqrt |E|), so
    the wedge join survives power-law skew); each enumerated triangle
    then credits all three corners via a 3-way explode — one extra
    narrow pass, no second join.

    `und_edges` and `deg` are each referenced from several branches of
    the plan (deg build, orientation join, closing-edge join; deg again
    in the final cc join), so both are lineage-cut ONCE up front —
    otherwise Spark re-executes the caller's projection subtree (for
    graph_clustering_coefficient, a 600k×600k self-join + distinct) at
    every reference, the plan-side analog of DuckDB re-inlining a CTE
    (round-10 profile: 10.2 s → ~5 s at sf0.1)."""
    und_edges = und_edges.transform(cut_lineage)
    deg = (
        und_edges.select(F.col("a").alias("node"))
        .unionByName(und_edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .transform(cut_lineage)
    )
    e = (
        und_edges.join(deg.alias("da"), F.col("a") == F.col("da.node"))
        .join(deg.alias("db"), F.col("b") == F.col("db.node"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | ((F.col("da.deg") == F.col("db.deg")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .transform(cut_lineage)
    )
    paths = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    closing = und_edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = paths.join(closing, ["y", "z"])
    t_per = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(t_per, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("degree"),
            F.round(
                2.0 * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("cc"),
        )
        .orderBy(F.desc("cc"), "node")
        .limit(top_k)
    )


def harmonic_centrality(bidir: DataFrame, max_d: int = 20) -> DataFrame:
    """Exact harmonic centrality sum 1/d(u, v) over the v != u within
    max_d hops, over an undirected edge list given with BOTH
    orientations (columns s, d); rows with a null endpoint and
    self-loops are ignored.

    Two tiers, by the hop-plot's rule (`_driver_csr`): within the
    broadcast budget the bit-parallel BFS levels run on the driver over
    the probe's CSR (`_harmonic_sums`); above it, the distributed
    multi-source BFS (`_sweep_bfs`) sums 1/d over its levels.

    Exact all-pairs state is O(n^2); that is inherent to EXACT harmonic
    centrality. The 100 TB answer is the HyperBall harmonic estimator
    (Boldi-Vigna 2013) over the same register state as
    `functions/sketches.py` — this operator is the exact small-scale oracle
    for it, like exact hop-plot vs graph_hyperball.
    """
    csr = _driver_csr(bidir.select(F.col("s").alias("src"), F.col("d").alias("dst")))
    if csr is not None:
        ids, indptr, indices = csr
        h = _harmonic_sums(indptr, indices, max_d)
        return _local_scores(bidir.sparkSession, ids, h, "id int, harmonic double")

    def finish(edges, levels, hold):
        inv = [lv.select("src", F.lit(1 / d if d else 0.0).alias("w")) for d, lv in enumerate(levels)]
        return (
            functools.reduce(DataFrame.unionByName, inv)
            .filter(F.col("w") > 0)
            .groupBy(F.col("src").alias("id"))
            .agg(F.round(F.sum("w"), 6).alias("harmonic"))
            .orderBy("id")
        )

    return _sweep_bfs(bidir, None, max_d, finish)


def betweenness_sampled(
    bidir: DataFrame,
    source_mod: int | None = None,
    max_d: int = 20,
) -> DataFrame:
    """Betweenness centrality by Brandes' algorithm (Brandes 2001) over
    an undirected edge list given with BOTH orientations (columns s, d),
    restricted to source nodes with `id % source_mod == 0` (None = all
    sources = exact betweenness) and shortest paths of length <= max_d
    (k-bounded betweenness). Scores sum the pair-dependency
    sigma_st(v)/sigma_st over ORDERED (s, t) pairs — no /2 halving — so
    sampled and exact runs share one definition. Rows with a null
    endpoint and self-loops are ignored.

    Two tiers, by the hop-plot's rule (`_driver_csr`): within the
    broadcast budget, a level-synchronous Brandes runs on the driver
    over the probe's CSR (`_brandes_scores`); above it, the distributed
    forward sweep (`_sweep_bfs`, per-(src, node) path counts sigma) is
    followed by a backward sweep over its levels accumulating
    dependencies delta (one join per level, walking depth max..1).
    Per-source state is one row per reached (src, node): with S sampled
    sources the working set is O(S * n) — the reason sampling exists
    (Brandes-Pich 2007); exact all-sources runs are a fixture/subgraph
    tool.
    """
    csr = _driver_csr(bidir.select(F.col("s").alias("src"), F.col("d").alias("dst")))
    if csr is not None:
        import numpy as np

        ids, indptr, indices = csr
        sources = range(len(ids)) if source_mod is None else np.flatnonzero(ids % source_mod == 0)
        bc = _brandes_scores(indptr, indices, sources, max_d)
        return _local_scores(bidir.sparkSession, ids, bc, "node int, bc double")

    def finish(edges, levels, hold):
        # delta over levels deep -> shallow; contribution of w to
        # predecessor v is (sigma_v / sigma_w) * (1 + delta_w)
        parts: list[DataFrame] = []
        delta = None  # (src, node, delta) for the level below the current one
        for d in range(len(levels) - 2, -1, -1):
            below, one_plus = levels[d + 1], F.lit(1.0)
            if delta is not None:
                below = below.join(delta, ["src", "node"], "left")
                one_plus = 1.0 + F.coalesce("delta", F.lit(0.0))
            w_side = below.select(
                "src", F.col("node").alias("w"), (one_plus / F.col("sigma")).alias("w_term")
            )
            v_side = levels[d].select("src", F.col("node").alias("v"), "sigma")
            delta = hold(
                v_side.join(edges, v_side.v == edges.s)
                .select("src", "v", "sigma", F.col("d").alias("w"))
                .join(w_side, ["src", "w"])
                .groupBy("src", F.col("v").alias("node"))
                .agg(F.sum(F.col("sigma") * F.col("w_term")).alias("delta"))
                .transform(cut_lineage)
            )
            release(levels[d + 1])
            parts.append(delta.filter(F.col("node") != F.col("src")))
        if not parts:
            return local_rows(edges.sparkSession, [], "node int, bc double")
        return (
            functools.reduce(DataFrame.unionByName, parts)
            .groupBy(F.col("node").cast("int").alias("node"))
            .agg(F.round(F.sum("delta"), 6).alias("bc"))
            .filter(F.col("bc") > 0)
            .orderBy("node")
        )

    return _sweep_bfs(bidir, source_mod, max_d, finish)


def _local_scores(spark, ids, scores, schema: str) -> DataFrame:
    """Rows (ids[v], scores[v] rounded to 6 dp) of positive scores, in id order."""
    import numpy as np

    hit = np.flatnonzero(scores > 0)
    rows = [(i, round(x, 6)) for i, x in zip(ids[hit].tolist(), scores[hit].tolist())]
    return local_rows(spark, rows, schema).orderBy(schema.split()[0])


def _sweep_bfs(bidir: DataFrame, source_mod: int | None, max_d: int, finish):
    """The distributed tier of `harmonic_centrality` and
    `betweenness_sampled`: a multi-source BFS from the ids with `id %
    source_mod == 0` (None = all); levels[d] holds (src, node, sigma) at
    distance d, sigma the number of shortest paths. A level is one join
    plus one aggregate that sums sigma and drops the pairs of the two
    levels before it (on an undirected graph a neighbour of level d is
    at d-1, d or d+1). `finish(edges, levels, hold)` turns the levels
    into the result, which is cut; every held frame is released before
    return, so a single `release` frees the result."""
    par = bidir.sparkSession.sparkContext.defaultParallelism
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df)
        return df

    try:
        edges = hold(
            bidir.filter(F.col("s") != F.col("d"))
            .repartition(par, "s")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        srcs = edges.select(F.col("s").alias("id")).distinct()
        if source_mod is not None:
            srcs = srcs.filter(F.col("id") % source_mod == 0)
        levels = [
            hold(
                srcs.select(
                    F.col("id").alias("src"), F.col("id").alias("node"),
                    F.lit(1.0).alias("sigma"),
                ).transform(cut_lineage)
            )
        ]
        for _ in range(max_d):
            cand = (
                levels[-1].join(edges, levels[-1].node == edges.s)
                .select("src", F.col("d").alias("node"), "sigma", F.lit(0).alias("_seen"))
            )
            seen = [lv.select("src", "node", F.lit(0.0), F.lit(1)) for lv in levels[-2:]]
            nxt = hold(
                functools.reduce(DataFrame.union, seen, cand)
                .groupBy("src", "node")
                .agg(F.sum("sigma").alias("sigma"), F.max("_seen").alias("_seen"))
                .filter(F.col("_seen") == 0)
                .select("src", "node", "sigma")
                .transform(cut_lineage)
            )
            if nxt.isEmpty():
                break
            levels.append(nxt)
        return finish(edges, levels, hold).transform(cut_lineage)
    finally:
        for df in held:
            release(df)


def _md5_round(*cols: str, r: int):
    """md5 of the columns' decimal strings and the round index, joined by
    '|' — the same string `_md5_round_local` hashes on the driver."""
    return F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols], F.lit(str(r))))


def _md5_round_local(*parts) -> str:
    return hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()


def maximal_independent_set(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Luby's maximal-independent-set algorithm (Luby 1986) as pure
    DataFrame rounds: each round every still-active node draws a
    deterministic priority md5(node|round); a node enters the MIS iff
    its priority is strictly below every active neighbor's (md5 on
    distinct node ids cannot tie, so two adjacent nodes never both
    enter), then winners and their neighbors deactivate. Expected
    O(log n) rounds; per round one join + one map-side-combinable min
    aggregate over the SURVIVING edge set, which shrinks geometrically
    — never a re-scan of the original graph.

    Determinism is the point of the md5 priorities: the exact same MIS
    falls out of a driver-side replay, which is what graph_mis_gate
    certifies. edges: (src, dst), treated undirected, self-loops
    dropped. Returns (node,) — the MIS members among edge endpoints
    (callers with isolated vertices add them directly: they are always
    in the MIS).

    The rounds run on `lineage.shrink_rounds`. The residual is the
    directed edge set among active nodes plus one (v, v) row per active
    node, so a node whose neighbors have all left stays active; the tail
    cutover counts the edges only. Once they fit the tail, the remaining
    rounds run the identical md5-priority recurrence on the driver, with
    the same round indices and the same max_rounds bound, so the result
    is bit-equal (the gate's independent replay and the oracle certify
    it). A set left with active nodes is independent but NOT maximal,
    which downstream consumers cannot tell apart, so it raises
    ConvergenceError instead."""
    base = edges.filter(F.col("src") != F.col("dst"))
    links = base.select("src", "dst").unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cur = links.unionByName(links.select("src", F.col("src").alias("dst"))).distinct()
    spark = edges.sparkSession
    schema = T.StructType([T.StructField("node", cur.schema["src"].dataType)])

    def step(cur: DataFrame, rnd: ShrinkRound) -> DataFrame:
        pri = cur.filter(F.col("src") == F.col("dst")).select(
            F.col("src").alias("node"), _md5_round("src", r=rnd.index).alias("p")
        )
        links = cur.filter(F.col("src") != F.col("dst"))
        nbr_min = (
            links.join(pri.select(F.col("node").alias("dst"), F.col("p").alias("pd")), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("pd").alias("np"))
        )
        sel = rnd.emit(
            pri.join(nbr_min, "node", "left")
            .filter(F.col("np").isNull() | (F.col("p") < F.col("np")))
            .select("node")
        )
        removed = sel.unionByName(
            links.join(sel.withColumnRenamed("node", "src"), "src").select(
                F.col("dst").alias("node")
            )
        ).distinct()
        return cur.join(removed.withColumnRenamed("node", "src"), "src", "left_anti").join(
            removed.withColumnRenamed("node", "dst"), "dst", "left_anti"
        )

    def tail(rows, r: int):
        amap: defaultdict[object, set] = defaultdict(set)
        act = set()
        for s, d in rows:
            if s == d:
                act.add(s)
            else:
                amap[s].add(d)
        out: set = set()
        r0 = r
        while act:
            p = {v: _md5_round_local(v, r) for v in act}
            sel = {v for v in act if all(p[v] < p[u] for u in amap[v] if u in act)}
            out |= sel
            rem = set(sel)
            for v in sel:
                rem |= amap[v] & act
            act -= rem
            r += 1
        return local_rows(spark, [(v,) for v in sorted(out)], schema), r - r0

    return shrink_rounds(
        "maximal_independent_set",
        cur,
        step,
        max_rounds,
        tail=tail,
        finish=lambda cur: cur.select(F.col("src").alias("node")),
        size=F.sum((F.col("src") != F.col("dst")).cast("long")),
    )


def maximal_matching(edges: DataFrame, max_rounds: int = 40) -> DataFrame:
    """Deterministic maximal matching in parallel rounds (the
    Israeli-Itai shape with md5 edge priorities): each round every
    surviving edge draws priority md5(a|b|round); an edge is matched
    iff its priority is the strict minimum among all surviving edges
    at BOTH its endpoints (md5 on distinct canonical pairs cannot tie,
    so matched edges never share a vertex), then all edges touching a
    newly matched vertex drop out. The globally minimum surviving edge
    always matches, so the loop terminates; in expectation a constant
    fraction of vertices leaves per round. A maximal matching is also
    the classic 2-approximation to minimum vertex cover (take both
    endpoints).

    Per round: one vertex-keyed min aggregate (map-side combinable,
    built from the edge list's two orientations) + two broadcast-free
    semi/anti joins; the surviving edge set shrinks geometrically and
    the original input is never re-scanned. edges: (src, dst),
    undirected, self-loops dropped. Returns (a, b) canonical matched
    pairs.

    The rounds run on `lineage.shrink_rounds`, with the same driver-local
    tail as maximal_independent_set: once the surviving canonical edge
    set fits it, the remaining rounds run the identical md5-priority
    recurrence on the driver (continuing round indices, same max_rounds
    bound; bit-equal by determinism, and the gate's independent replay
    certifies it). Surviving edges past max_rounds make a valid but NOT
    maximal matching, so that raises ConvergenceError."""
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    spark = edges.sparkSession
    schema = cur.schema

    def step(cur: DataFrame, rnd: ShrinkRound) -> DataFrame:
        pe = cur.withColumn("p", _md5_round("a", "b", r=rnd.index))
        vmin = (
            pe.select(F.col("a").alias("v"), "p")
            .unionByName(pe.select(F.col("b").alias("v"), "p"))
            .groupBy("v")
            .agg(F.min("p").alias("mp"))
        )
        sel = rnd.emit(
            pe.join(vmin.select(F.col("v").alias("a"), F.col("mp").alias("ma")), "a")
            .join(vmin.select(F.col("v").alias("b"), F.col("mp").alias("mb")), "b")
            .filter((F.col("p") == F.col("ma")) & (F.col("p") == F.col("mb")))
            .select("a", "b")
        )
        mv = (
            sel.select(F.col("a").alias("v"))
            .unionByName(sel.select(F.col("b").alias("v")))
            .distinct()
        )
        return cur.join(mv.withColumnRenamed("v", "a"), "a", "left_anti").join(
            mv.withColumnRenamed("v", "b"), "b", "left_anti"
        )

    def tail(rows, r: int):
        cur_e = {(a, b) for a, b in rows}
        out: set = set()
        r0 = r
        while cur_e:
            p = {e: _md5_round_local(e[0], e[1], r) for e in cur_e}
            vmin: dict = {}
            for (a, b), pe_h in p.items():
                if a not in vmin or pe_h < vmin[a]:
                    vmin[a] = pe_h
                if b not in vmin or pe_h < vmin[b]:
                    vmin[b] = pe_h
            sel = {e for e in cur_e if p[e] == vmin[e[0]] and p[e] == vmin[e[1]]}
            out |= sel
            mv = {v for e in sel for v in e}
            cur_e = {e for e in cur_e if e[0] not in mv and e[1] not in mv}
            r += 1
        return local_rows(spark, sorted(out), schema), r - r0

    return shrink_rounds("maximal_matching", cur, step, max_rounds, tail=tail)


class UnionFind:
    """Disjoint sets over hashable ids (path compression): the driver-side
    union-find of the connected-components and spanning-forest tails."""

    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b) -> bool:
        """Merge the sets of a and b; False when they were one set already."""
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        self.parent[ra] = rb
        return True


def connected_components_star(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the scale-proof alternative to hash-min label
    propagation: hash-min needs O(diameter) rounds (a chain of length L
    takes L rounds), while star rounds contract every component to a
    star centered at its minimum node in O(log^2 n) worst case and a
    handful of rounds in practice, because each round rewires whole
    neighborhoods rather than advancing labels one hop.

    large-star(u): every neighbor v > u reconnects to m(u), the minimum
    of u's closed neighborhood. small-star(u): every neighbor v <= u,
    and u itself, reconnects to m(u). Both are one min-aggregate plus
    one join per round over the CURRENT edge set. The edge set is final
    once it is a star forest centered at each component's minimum, the
    fixpoint of both phases: then every node u either has no smaller
    neighbor or exactly one neighbor. The large-star phase counts the
    nodes that break this on its own min-map, as an observed metric, so
    the check costs no job; a round that counts none stops the loop
    (`lineage.shrink_rounds`) on the edge set it was handed.

    Output: (node, component) with component = min node id reachable,
    for every node with an edge to another node (a self-loop-only node
    has none). Tail: star rounds preserve each component's node set, so
    once the edge set fits the tail a driver union-find over it labels
    the components directly, skipping the remaining near-empty rounds
    (the gate's driver replay and the oracle certify equality). A
    partial contraction would give silently wrong labels, so running
    out of rounds raises ConvergenceError.
    """

    def _adj(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("n")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("n"))
        )

    def _minmap(adj: DataFrame, *extra) -> DataFrame:
        return adj.groupBy("u").agg(F.least(F.min("n"), F.first("u")).alias("m"), *extra)

    # NOTE (round-8 audit, measured negative result — do not "fix"
    # this again): each star phase references its min-map TWICE (join
    # side + self-attachment union branch) and Catalyst plans the
    # aggregate subtree twice (no ReusedExchange, verified on the
    # executed plan). Materializing it once via persist was tried and
    # LOSES at every tested scale (same-box A/B: sf0.1 21.6 s unpinned
    # vs 25.2 s pinned; same-session 30x/18M-edge runs: 88.0 s
    # unpinned, 98.4 s pinned, 55.1 s unpinned again) — the round's
    # cost is dominated by the distinct + join shuffles, and the
    # persist barrier serializes work AQE otherwise pipelines. The
    # duplicate aggregate is the cheaper evil; leave it.
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    spark = edges.sparkSession
    id_t = cur.schema["a"].dataType
    schema = T.StructType([T.StructField("node", id_t), T.StructField("component", id_t)])

    def step(cur: DataFrame, rnd: ShrinkRound) -> DataFrame | None:
        # large-star; the self-attachment branch's min-map also counts
        # the nodes that keep `cur` from being a min-centered star forest
        adj = _adj(cur)
        obs = Observation()
        attach = _minmap(
            adj, ((F.min("n") > F.first("u")) | (F.count("*") == 1)).alias("settled")
        ).observe(obs, F.sum((~F.col("settled")).cast("long")).alias("unsettled"))
        m = _minmap(adj)
        ls = rnd.cut(
            adj.join(m, "u")
            .filter(F.col("n") > F.col("u"))
            .select(F.least("n", "m").alias("a"), F.greatest("n", "m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .unionByName(
                # keep u's own attachment so components never split
                attach.filter(F.col("u") != F.col("m")).select(
                    F.col("m").alias("a"), F.col("u").alias("b")
                )
            )
            .distinct()
        )
        if not obs.get["unsettled"]:
            return None
        # small-star
        adj2 = _adj(ls)
        m2 = _minmap(adj2)
        return (
            adj2.join(m2, "u")
            .filter(F.col("n") < F.col("u"))
            .select(F.least("n", "m").alias("a"), F.greatest("n", "m").alias("b"))
            .unionByName(
                m2.select(F.least("u", "m").alias("a"), F.greatest("u", "m").alias("b"))
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def tail(rows, r: int):
        uf = UnionFind()
        for a, b in rows:
            uf.union(a, b)
        groups: dict = {}
        for v in uf.parent:
            groups.setdefault(uf.find(v), []).append(v)
        out = []
        for members in groups.values():
            lbl = min(members)
            out.extend((v, lbl) for v in members)
        return local_rows(spark, sorted(out), schema), 0

    def finish(cur: DataFrame) -> DataFrame:
        # a star forest: every edge is (component-min, member)
        centers = cur.select(F.col("a").alias("node"), F.col("a").alias("component"))
        members = cur.select(F.col("b").alias("node"), F.col("a").alias("component"))
        return (
            members.unionByName(centers)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    return shrink_rounds(
        "connected_components_star", cur, step, max_rounds, tail=tail, finish=finish
    )


def edge_support(
    und_edges: DataFrame, _pins: list[DataFrame] | None = None
) -> DataFrame:
    """Triangles-per-edge (edge 'support') of an undirected graph given
    as canonical (a<b) pairs — the building block of truss
    decomposition. Same degree-ordered orientation as triangle_stats /
    local_clustering (each triangle enumerated exactly once, oriented
    out-degree O(sqrt |E|) under skew); each triangle then credits its
    THREE edges via one narrow explode. Returns (a, b, support) for
    edges with support >= 1; zero-support edges have no row.

    `_pins` selects the materialization mode for the oriented table.
    With a list supplied (k_truss's distributed rounds), it is
    persisted hash-partitioned on `u` (NOT localCheckpoint-ed, which
    scans back as UnknownPartitioning — the round-7 lesson), so the
    wedge-enumerating self-join on `u` needs NO Exchange on either
    side: both aliases read the same cached layout and satisfy the
    join's distribution directly, removing the 2x O(E') shuffle + sort
    a merge self-join pays once the table is past broadcast size; the
    persisted handle lands in the list for the caller to unpersist
    after the round materializes. With _pins=None (one-shot callers,
    small graphs) the table is localCheckpoint-ed as before — at
    broadcastable sizes AQE turns the self-join into a
    BroadcastHashJoin anyway, and the extra repartition pass would be
    pure overhead."""
    deg = (
        und_edges.select(F.col("a").alias("node"))
        .unionByName(und_edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        und_edges.join(deg.alias("da"), F.col("a") == F.col("da.node"))
        .join(deg.alias("db"), F.col("b") == F.col("db.node"))
        .select(
            F.when(
                (F.col("da.deg") < F.col("db.deg"))
                | (
                    (F.col("da.deg") == F.col("db.deg"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    if _pins is not None:
        # pinned mode: materialize hash-partitioned on `u` so the
        # wedge self-join below runs with NO Exchange on either side
        e = e.repartition(
            int(
                und_edges.sparkSession.conf.get(
                    "spark.sql.shuffle.partitions", "200"
                )
            ),
            "u",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        _pins.append(e)
        e.count()  # materialize the pinned layout before the self-join
    else:
        e = e.transform(cut_lineage)
    paths = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    closing = und_edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = paths.join(closing, ["y", "z"])
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
                ),
                F.struct(
                    F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")
                ),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
            )
        ).alias("t")
    ).select("t.a", "t.b")
    return tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))


def k_truss(edges: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """k-truss decomposition by iterative support peeling (Cohen 2008):
    repeatedly delete every edge lying in fewer than k-2 triangles of
    the CURRENT subgraph until none remains — the standard cohesive-
    subgraph notion one step stronger than k-core (it requires tied-
    together neighborhoods, not just degree). Each round is one
    triangle enumeration over the surviving edges (which only shrink)
    plus a semi join, run by `lineage.shrink_rounds` until a round
    deletes nothing; rounds are bounded by the peeling depth, and the
    certificate that the FINAL edge set is truly a k-truss (min support
    >= k-2) is itself one distributed edge_support pass — checkable at
    any scale without the driver replay the gate adds at test sizes.

    Tail: the k-truss is the unique maximal subgraph with every edge in
    >= k-2 triangles, and simultaneous peeling converges to it from any
    intermediate state, so once the surviving edges fit the tail the
    peel finishes on the driver with the identical edge set (a
    distributed peel round is a triangle enumeration + semi join + cut
    even when it deletes nothing).

    edges: (src, dst) undirected; returns canonical (a, b) pairs of the
    k-truss subgraph (empty when no edge survives). For k <= 2 the
    support requirement is vacuous and the whole simple graph is
    returned — including support-0 edges, which edge_support emits no
    row for, so that case never reaches the peel."""
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    need = k - 2
    if need <= 0:
        return cur
    spark = edges.sparkSession
    schema = cur.schema

    def step(cur: DataFrame, rnd: ShrinkRound) -> DataFrame:
        # a residual past the tail is past plausible broadcast size too:
        # pin the oriented table's partitioning, which removes the
        # per-round 2x O(E') exchange of the wedge self-join
        sup = edge_support(cur, _pins=rnd.held)
        keep = sup.filter(F.col("support") >= need).select("a", "b")
        return cur.join(keep, ["a", "b"], "left_semi")

    def tail(rows, r: int):
        es = {(a, b) for a, b in rows}
        while True:
            nbrs: defaultdict = defaultdict(set)
            for a, b in es:
                nbrs[a].add(b)
                nbrs[b].add(a)
            drop = {e for e in es if len(nbrs[e[0]] & nbrs[e[1]]) < need}
            if not drop:
                break
            es -= drop
        return local_rows(spark, sorted(es), schema), 0

    return shrink_rounds("k_truss", cur, step, max_rounds, tail=tail, fixpoint=True)
