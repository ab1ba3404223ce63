"""Graph sampling / centrality extensions beyond the reference's two
analytics tasks: deterministic random walks (node2vec-style positive
sampling) and exact harmonic centrality on the fixture graph.

Both stay oracle-able by construction: the walk's "randomness" is an
md5-ranked neighbor choice (same hex in Spark and DuckDB), and harmonic
centrality runs on the embedded 17-edge fixture so the oracle can do
all-pairs BFS with a recursive CTE."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import edges_values_sql, fixture_citations
from ..lineage import release
from ..sources.local import local_rows
from ..sources.tables import load_table
from .entry_queries import _CIT_SQL, _citations, register

_WALK_STEPS = 3
_START_MOD = 97


def _walk_step(frontier: DataFrame, edges: DataFrame, step: int) -> DataFrame:
    """One deterministic walk step: from each walker's current node,
    choose the out-neighbor with the smallest md5(cur|nbr|step) digest.
    min_by is a hash aggregate (map-side combinable) — per step the cost
    is one shuffle on the walker id, never a window sort. Dead ends
    (no out-edges) keep a NULL via the left join and stay NULL after."""
    cur = frontier.columns[-1]
    step_col = f"n{step}"
    cand = frontier.join(
        edges.withColumnRenamed("from", "_f").withColumnRenamed("to", "_t"),
        F.col(cur) == F.col("_f"),
        "left",
    ).withColumn(
        "_h",
        F.md5(
            F.concat_ws(
                "|",
                F.col(cur).cast("string"),
                F.col("_t").cast("string"),
                F.lit(str(step)),
            )
        ),
    )
    return cand.groupBy(*frontier.columns).agg(
        F.min_by("_t", "_h").alias(step_col)
    )


def _walk_step_sql(prev: str, step: int) -> str:
    cols = ", ".join(f"n{j}" for j in range(1, step))
    keep = f"start, {cols}, " if cols else "start, "
    return f"""
s{step} AS (
  SELECT {keep}
         arg_min(cit."to", md5(CAST(s.n{step - 1} AS VARCHAR) || '|' ||
                               CAST(cit."to" AS VARCHAR) || '|' || '{step}'))
           AS n{step}
  FROM {prev} s LEFT JOIN cit ON s.n{step - 1} = cit."from"
  GROUP BY ALL
)"""


@register(
    "graph_random_walks",
    f"""
WITH cit AS ({_CIT_SQL}),
starts AS (
  SELECT DISTINCT "from" AS start, "from" AS n0 FROM cit
  WHERE "from" % {_START_MOD} = 0
),
{",".join(_walk_step_sql("starts" if k == 1 else f"s{k - 1}", k) for k in range(1, _WALK_STEPS + 1))}
SELECT start, n1, n2, n3 FROM s{_WALK_STEPS} ORDER BY start
""",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {_WALK_STEPS}-step out-edge walks from a hashed
    start sample — the positive-pair sampler for DeepWalk/node2vec-style
    embedding training (Perozzi et al., KDD'14), made reproducible by
    ranking neighbors with md5(cur|nbr|step) instead of an RNG (the
    standard seeded-walk trick: any uniform hash is a valid sampler and
    re-runs identically across engines and retries — at 100 TB a
    task-retry MUST NOT change the walk).

    Scale shape: each step is one equi-join current-node -> edge-list
    plus a map-side-combinable min_by aggregate; walker state is one row
    per walk, so W walks x S steps costs S joins on a frame of W rows —
    never materializing neighborhoods. Dead ends propagate NULL."""
    edges = _citations(spark, sf_dir)
    walks = (
        edges.select(F.col("from").alias("start"))
        .filter(F.col("start") % _START_MOD == 0)
        .distinct()
        .withColumn("n0", F.col("start"))
    )
    for k in range(1, _WALK_STEPS + 1):
        walks = _walk_step(walks, edges, k)
    return walks.select("start", "n1", "n2", "n3").orderBy("start")


@register(
    "fixture_harmonic_centrality",
    f"""
WITH RECURSIVE ed AS (SELECT * FROM (VALUES {edges_values_sql()}) e("from", "to")),
bidir AS (
  SELECT "from" AS s, "to" AS d FROM ed WHERE "from" <> "to"
  UNION SELECT "to", "from" FROM ed WHERE "from" <> "to"
),
nodes AS (SELECT DISTINCT s AS id FROM bidir),
r AS (
  SELECT id AS src, id AS node, 0 AS dist FROM nodes
  UNION
  SELECT r.src, b.d, r.dist + 1 FROM r JOIN bidir b ON r.node = b.s
  WHERE r.dist < 20
),
sp AS (SELECT src, node, min(dist) AS dist FROM r GROUP BY 1, 2)
SELECT src AS id,
       round(sum(CASE WHEN dist > 0 THEN 1.0 / dist ELSE 0 END), 6) AS harmonic
FROM sp GROUP BY 1 ORDER BY id
""",
)
def fixture_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact harmonic centrality sum(1/d(u,v)) on the undirected fixture
    graph (operators/graph.py `harmonic_centrality`).

    Exact all-pairs state is O(n^2) and is the point of this operator
    only at fixture/subgraph scale; the 100 TB path is the HyperBall
    harmonic estimator (Boldi-Vigna 2013) whose register state already
    exists in functions/sketches.py — same contract as exact-hop-plot
    vs graph_hyperball. Like the hop-plot, the operator runs its numpy
    kernel on the driver whenever the graph's CSR fits the broadcast
    budget, as the fixture's does; tests force the distributed tier."""
    from ..operators.graph import harmonic_centrality

    edges = fixture_citations(spark).filter(F.col("from") != F.col("to"))
    bidir = (
        edges.select(F.col("from").alias("s"), F.col("to").alias("d"))
        .union(edges.select(F.col("to").alias("s"), F.col("from").alias("d")))
        .distinct()
    )
    return harmonic_centrality(bidir)


@register(
    "fixture_betweenness",
    f"""
WITH RECURSIVE ed AS (SELECT * FROM (VALUES {edges_values_sql()}) e("from", "to")),
bidir AS (
  SELECT "from" AS s, "to" AS d FROM ed WHERE "from" <> "to"
  UNION SELECT "to", "from" FROM ed WHERE "from" <> "to"
),
nodes AS (SELECT DISTINCT s AS id FROM bidir),
walk AS (
  SELECT id AS src, id AS node, 0 AS dist, [id] AS path FROM nodes
  UNION ALL
  SELECT w.src, b.d, w.dist + 1, list_append(w.path, b.d)
  FROM walk w JOIN bidir b ON w.node = b.s
  WHERE NOT list_contains(w.path, b.d) AND w.dist < 20
),
sp AS (SELECT src, node, min(dist) AS md FROM walk GROUP BY 1, 2),
spaths AS (
  SELECT w.src, w.node, w.path
  FROM walk w JOIN sp ON w.src = sp.src AND w.node = sp.node AND w.dist = sp.md
  WHERE w.src <> w.node
),
sigma AS (SELECT src, node AS t, count(*) AS sg FROM spaths GROUP BY 1, 2),
interior AS (
  SELECT s.src, s.node AS t, u.v
  FROM spaths s, unnest(s.path[2:len(s.path) - 1]) AS u(v)
),
dep AS (SELECT src, t, v, count(*) AS cnt FROM interior GROUP BY 1, 2, 3)
SELECT CAST(d.v AS INT) AS node,
       round(sum(d.cnt * 1.0 / g.sg), 6) AS bc
FROM dep d JOIN sigma g ON d.src = g.src AND d.t = g.t
GROUP BY 1 ORDER BY node
""",
)
def fixture_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact betweenness centrality on the fixture graph (all sources,
    ordered-pair dependencies). The oracle is a from-first-principles
    replay: enumerate ALL simple paths with a recursive CTE, keep the
    shortest per (s, t), and sum per-vertex pass-through fractions
    sigma_st(v)/sigma_st — a completely different algorithm from the
    Brandes forward/backward sweep under test, which is the strongest
    kind of oracle. The driver's numpy Brandes runs at fixture size (the
    CSR fits the broadcast budget); tests force the distributed sweep
    too."""
    from ..operators.graph import betweenness_sampled

    edges = fixture_citations(spark).filter(F.col("from") != F.col("to"))
    bidir = (
        edges.select(F.col("from").alias("s"), F.col("to").alias("d"))
        .union(edges.select(F.col("to").alias("s"), F.col("from").alias("d")))
        .distinct()
    )
    return betweenness_sampled(bidir)


@register(
    "graph_betweenness_sampled",
    """
WITH cit AS (SELECT CAST(l_orderkey AS INT) AS f, CAST(l_partkey AS INT) AS t FROM lineitem),
edges AS MATERIALIZED (
  SELECT DISTINCT s, d FROM (
    SELECT f AS s, t AS d FROM cit UNION ALL SELECT t, f FROM cit
  ) WHERE s <> d
),
srcs AS MATERIALIZED (SELECT DISTINCT s AS id FROM edges WHERE s % 1997 = 0),
lvl1 AS MATERIALIZED (
  SELECT srcs.id AS src, e.d AS node FROM srcs JOIN edges e ON e.s = srcs.id
),
lvl2 AS MATERIALIZED (
  SELECT l.src, e.d AS w, CAST(count(*) AS DOUBLE) AS sigma
  FROM lvl1 l JOIN edges e ON e.s = l.node
  WHERE e.d <> l.src
    AND NOT EXISTS (SELECT 1 FROM lvl1 x WHERE x.src = l.src AND x.node = e.d)
  GROUP BY l.src, e.d
),
contrib AS (
  SELECT l.src, l.node AS v, 1.0 / s2.sigma AS term
  FROM lvl1 l
  JOIN edges e ON e.s = l.node
  JOIN lvl2 s2 ON s2.src = l.src AND s2.w = e.d
)
SELECT CAST(v AS INT) AS node, round(sum(term), 6) AS bc
FROM contrib GROUP BY v
HAVING round(sum(term), 6) > 0
ORDER BY node
""",
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled, hop-bounded betweenness (Brandes-Pich 2007 source
    sampling; k-bounded paths) on the lineitem-derived graph: sources
    are the deterministic hash sample id % 1997 == 0, paths bounded to
    2 hops. This is the 100 TB configuration — per-source state makes
    exact betweenness O(n * m); sampling + bounding turn it into
    O(S * m * k) with S and k chosen by budget. Fully hash-oracled: at
    k = 2 the Brandes recursion flattens into closed form — a level-2
    node w contributes sigma_v/sigma_w = 1/sigma_w to each level-1
    predecessor v and nothing deeper exists — so the DuckDB oracle
    computes the identical scores with two joins, no recursion. The
    general-k algorithm stays brute-forced in tests and certified by
    fixture_betweenness."""
    from ..operators.graph import betweenness_sampled

    edges = _citations(spark, sf_dir)
    bidir = (
        edges.select(F.col("from").alias("s"), F.col("to").alias("d"))
        .union(edges.select(F.col("to").alias("s"), F.col("from").alias("d")))
        .distinct()
    )
    return betweenness_sampled(bidir, source_mod=1997, max_d=2)


@register(
    "motif_fanout_top",
    f"""
WITH cit AS ({_CIT_SQL}),
pairs AS (
  SELECT e1."from" AS a, e1."to" AS b, e2."to" AS c
  FROM cit e1 JOIN cit e2 ON e1."from" = e2."from"
  WHERE e1."to" < e2."to"
)
SELECT a, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY a
ORDER BY n_pairs DESC, a LIMIT 20
""",
)
def motif_fanout_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif API over the big graph: the fan-out pattern
    (a)->(b); (a)->(c) compiled to joins by operators/motif.find_motifs,
    then an inequality filter (b < c, the caller-side distinctness
    contract) and a top-20 count — i.e. 'which orders co-reference the
    most part pairs'. The motif join is ONE self-equi-join keyed on the
    shared variable; top-k plans as TakeOrderedAndProject."""
    from ..operators.motif import find_motifs

    edges = _citations(spark, sf_dir).select(
        F.col("from").alias("src"), F.col("to").alias("dst")
    )
    m = find_motifs(edges, "(a)-[]->(b); (a)-[]->(c)")
    return (
        m.filter(F.col("b") < F.col("c"))
        .groupBy("a")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "a")
        .limit(20)
    )


@register(
    "fixture_motif_triangles",
    f"""
WITH ed AS (SELECT * FROM (VALUES {edges_values_sql()}) e("from", "to")),
bidir AS (
  SELECT "from" AS s, "to" AS d FROM ed WHERE "from" <> "to"
  UNION SELECT "to", "from" FROM ed WHERE "from" <> "to"
)
SELECT e1.s AS a, e2.s AS b, e3.s AS c
FROM bidir e1
JOIN bidir e2 ON e1.d = e2.s
JOIN bidir e3 ON e2.d = e3.s AND e3.d = e1.s
WHERE e1.s < e2.s AND e2.s < e3.s
ORDER BY a, b, c
""",
)
def fixture_motif_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle motif (a)->(b); (b)->(c); (c)->(a) on the
    bidirectionalized fixture graph: every undirected triangle appears
    as all 6 (a,b,c) permutations, and the canonical a<b<c filter keeps
    exactly one — so the motif API reproduces the fixture's undirected
    triangle census. Oracle replays the same three joins in SQL."""
    from ..operators.motif import find_motifs

    edges = fixture_citations(spark).filter(F.col("from") != F.col("to"))
    bidir = (
        edges.select(F.col("from").alias("src"), F.col("to").alias("dst"))
        .union(edges.select(F.col("to").alias("src"), F.col("from").alias("dst")))
        .distinct()
    )
    m = find_motifs(bidir, "(a)-[]->(b); (b)-[]->(c); (c)-[]->(a)")
    return (
        m.filter((F.col("a") < F.col("b")) & (F.col("b") < F.col("c")))
        .orderBy("a", "b", "c")
    )


@register(
    "scc_partition_gate",
    """
SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       TRUE AS partitions_match_tarjan
FROM (SELECT "from" AS node FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0
      UNION ALL
      SELECT "to" FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0)
""",
)
def scc_partition_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable correctness gate for the distributed SCC operator
    (trim + Orzan coloring — its raw labels stay rows-only): on the
    hash-induced subgraph (both endpoints % 4 == 0, ~1/16 of the edges),
    the component PARTITION produced distributed must equal a
    driver-side iterative Tarjan run exactly, compared as partitions
    (sets of node sets — labels cancel). The operator runs with
    local_threshold=0 so its small-residue Tarjan fast path is DISABLED
    here: the gate's whole point is distributed-path-vs-reference, and
    the reference side is the only _tarjan_scc call. The subgraph
    induction keeps the reference run driver-sized at any sweep SF
    while still exercising the full distributed code path on real data;
    full-graph equivalence at fixture scale is separately covered by
    the crafted/random-graph Tarjan tests."""
    from collections import defaultdict

    from ..operators.graph import _tarjan_scc, strongly_connected_components

    edges = (
        _citations(spark, sf_dir)
        .filter((F.col("from") % 4 == 0) & (F.col("to") % 4 == 0))
        .select(F.col("from").alias("src"), F.col("to").alias("dst"))
    )
    # fail-fast driver-size guard (same contract as the similarity
    # broadcast budget): the reference Tarjan run is driver-local, so
    # past ~500k induced edges the caller must tighten the induction
    # modulus instead of silently collecting gigabytes
    n_induced = edges.limit(500_001).count()
    if n_induced > 500_000:
        raise ValueError(
            "scc_partition_gate: induced subgraph exceeds 500k edges; "
            "raise the induction modulus for this data scale"
        )
    got = defaultdict(set)
    for r in strongly_connected_components(edges, local_threshold=0).collect():
        got[r["scc"]].add(r["node"])
    dist_partition = {frozenset(v) for v in got.values()}

    # independent driver-side reference: iterative Tarjan
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    nodes = {n for p in pairs for n in p}
    ref_partition = set(_tarjan_scc(pairs))
    return local_rows(
        spark,
        [(len(nodes), dist_partition == ref_partition)],
        "n_nodes bigint, partitions_match_tarjan boolean",
    )


@register(
    "graph_temporal_reachability",
    """
WITH te AS (
  SELECT CAST(l_orderkey AS INT) AS src, CAST(l_partkey AS INT) AS dst,
         CAST(l_shipdate AS DATE) AS t
  FROM lineitem
),
starts AS (SELECT DISTINCT src FROM te WHERE src % 997 = 0),
hop1 AS (
  SELECT DISTINCT s.src AS start, e.dst AS node, e.t
  FROM starts s JOIN te e ON e.src = s.src
),
hop2 AS (
  SELECT DISTINCT h.start, e2.dst AS node
  FROM hop1 h JOIN te e2 ON e2.src = h.node AND e2.t >= h.t
)
SELECT s.src AS start,
       CAST((SELECT count(DISTINCT node) FROM hop1 h1 WHERE h1.start = s.src)
            AS BIGINT) AS reach_1,
       CAST((SELECT count(*) FROM (
              SELECT node FROM hop2 h2 WHERE h2.start = s.src
              UNION SELECT node FROM hop1 h1 WHERE h1.start = s.src)) AS BIGINT)
         AS reach_2
FROM starts s ORDER BY start
""",
)
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-RESPECTING reachability (temporal-network semantics, Holme &
    Saramäki 2012): a 2-hop path a->b->c counts only if the second
    edge's timestamp is >= the first's — static reachability overcounts
    because it ignores that influence cannot flow backwards in time.
    Edge times come from l_shipdate; starts are the deterministic hash
    sample id % 997 == 0.

    Shape: hop-1 is one equi-join; hop-2 is an equi-join on the node PLUS
    the non-equi time predicate, which Spark evaluates as a post-join
    filter on the hash join (NOT a nested-loop — the equi key carries
    the join). Distinct-per-hop keeps frontier rows unique before the
    next expansion, exactly like the static BFS, with (start, node,
    min-arrival-time) as state; at depth > 2 the earliest-arrival
    frontier generalizes (keep min t per (start, node))."""
    te = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("int").alias("src"),
        F.col("l_partkey").cast("int").alias("dst"),
        F.col("l_shipdate").cast("date").alias("t"),
    )
    starts = te.filter(F.col("src") % 997 == 0).select("src").distinct()
    hop1 = (
        starts.join(te, "src")
        .select(F.col("src").alias("start"), F.col("dst").alias("node"), "t")
        .distinct()
    )
    e2 = te.select(
        F.col("src").alias("node"), F.col("dst").alias("node2"),
        F.col("t").alias("t2"),
    )
    hop2 = (
        hop1.join(e2, "node")
        .filter(F.col("t2") >= F.col("t"))
        .select("start", F.col("node2").alias("node"))
        .distinct()
    )
    r1 = hop1.groupBy("start").agg(F.countDistinct("node").alias("reach_1"))
    both = hop1.select("start", "node").union(hop2).distinct()
    r2 = both.groupBy("start").agg(F.count("*").alias("reach_2"))
    return (
        r1.join(r2, "start")
        .select("start", "reach_1", "reach_2")
        .orderBy("start")
    )


@register(
    "graph_mst_gate",
    """
SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       TRUE AS forest_matches_kruskal
FROM (SELECT "from" AS node FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to"
      UNION ALL
      SELECT "to" FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to")
""",
)
def graph_mst_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable correctness gate for the distributed Borůvka
    minimum-spanning-forest operator (same contract as
    scc_partition_gate): on the hash-induced subgraph (both endpoints
    % 4 == 0) with deterministic integer weights
    w(a,b) = (a*31 + b*17) % 997 + 1 on canonical a<b pairs, the
    distributed MSF edge set must EQUAL a driver-side Kruskal run under
    the identical (weight, a, b) total order — edge-set equality, not
    just total weight, because the strict order makes the MSF unique.
    The % 4 induction keeps the reference run driver-sized at any sweep
    SF while the distributed path runs the full Borůvka rounds."""
    from ..operators.mst import kruskal_reference, minimum_spanning_forest

    raw = (
        _citations(spark, sf_dir)
        .filter(
            (F.col("from") % 4 == 0)
            & (F.col("to") % 4 == 0)
            & (F.col("from") != F.col("to"))
        )
        .select(
            F.least("from", "to").alias("a"),
            F.greatest("from", "to").alias("b"),
        )
        .distinct()
        .withColumn(
            "weight",
            ((F.col("a") * 31 + F.col("b") * 17) % 997 + 1).cast("double"),
        )
        # persisted like the sibling gates: raw is read 4 times below
        # (guard count, operator input, replay collect, node count) and
        # would otherwise re-run the scan + distinct shuffle each time
        .persist()
    )
    n_induced = raw.limit(500_001).count()
    if n_induced > 500_000:
        raw.unpersist()
        raise ValueError(
            "graph_mst_gate: induced subgraph exceeds 500k edges; "
            "raise the induction modulus for this data scale"
        )
    edges = raw.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "weight"
    )
    forest = minimum_spanning_forest(edges)
    got = {(r["a"], r["b"], r["weight"]) for r in forest.collect()}
    release(forest)
    ref = kruskal_reference(
        [(r["a"], r["b"], r["weight"]) for r in raw.collect()]
    )
    n_nodes = (
        raw.select(F.col("a").alias("n"))
        .unionByName(raw.select(F.col("b").alias("n")))
        .distinct()
        .count()
    )
    raw.unpersist()
    return local_rows(
        spark,
        [(n_nodes, got == ref)],
        "n_nodes long, forest_matches_kruskal boolean",
    )


@register(
    "graph_mis_gate",
    """
SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       TRUE AS mis_matches_replay,
       TRUE AS is_independent,
       TRUE AS is_maximal
FROM (SELECT "from" AS node FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to"
      UNION ALL
      SELECT "to" FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to")
""",
)
def graph_mis_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-certificate gate for distributed Luby MIS on the
    hash-induced subgraph: (1) the distributed MIS equals a driver-side
    replay of the identical md5-priority rounds (possible only because
    the algorithm is deterministic by construction); (2) independence
    — no surviving edge has both endpoints in the MIS — and
    (3) maximality — every non-member has a member neighbor — are
    checked DISTRIBUTED, so at full scale the replay clause can be
    dropped and the structural certificates still hold on their own."""
    import hashlib
    from collections import defaultdict

    from ..operators.graph import maximal_independent_set

    raw = (
        _citations(spark, sf_dir)
        .filter(
            (F.col("from") % 4 == 0)
            & (F.col("to") % 4 == 0)
            & (F.col("from") != F.col("to"))
        )
        .select(F.col("from").alias("src"), F.col("to").alias("dst"))
        .distinct()
        .persist()
    )
    n_induced = raw.limit(500_001).count()
    if n_induced > 500_000:
        raw.unpersist()
        raise ValueError(
            "graph_mis_gate: induced subgraph exceeds 500k edges; "
            "raise the induction modulus for this data scale"
        )
    mis_df = maximal_independent_set(raw)
    got = {r["node"] for r in mis_df.collect()}

    # driver replay of the same deterministic rounds
    pairs = [(r["src"], r["dst"]) for r in raw.collect()]
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    active = set(adj)
    ref: set = set()
    rnd = 0
    while active and rnd < 40:
        p = {
            v: hashlib.md5(f"{v}|{rnd}".encode()).hexdigest() for v in active
        }
        sel = {
            v
            for v in active
            if all(p[v] < p[u] for u in adj[v] if u in active)
        }
        ref |= sel
        rem = set(sel)
        for v in sel:
            rem |= adj[v] & active
        active -= rem
        rnd += 1

    # distributed structural certificates, fused into ONE pass (r13,
    # guide §1.2): the former shape ran 3 actions (both_in count,
    # covered/uncovered anti-join count, nodes count), each re-scanning
    # the bidirectional edge set. One edge-level join marks dst
    # membership, one per-src aggregate derives (in_mis, has_mis
    # neighbor, # edges with both endpoints in the MIS), and one final
    # aggregate emits all three certificate numbers. Same booleans by
    # construction: every src appears in bidir for each of its edges,
    # so per-src max(dst_in) is exactly "has a MIS neighbor" and
    # sum(src_in * dst_in) counts MIS-MIS edges.
    bidir = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mis_flag = mis_df.withColumn("_in", F.lit(1))
    marked = bidir.join(
        mis_flag.withColumnRenamed("node", "dst").withColumnRenamed("_in", "_din"),
        "dst",
        "left",
    ).join(
        mis_flag.withColumnRenamed("node", "src").withColumnRenamed("_in", "_sin"),
        "src",
        "left",
    )
    per_node = marked.groupBy("src").agg(
        F.max(F.coalesce(F.col("_sin"), F.lit(0))).alias("in_mis"),
        F.max(F.coalesce(F.col("_din"), F.lit(0))).alias("has_mis_nbr"),
        F.sum(
            F.coalesce(F.col("_sin"), F.lit(0)) * F.coalesce(F.col("_din"), F.lit(0))
        ).alias("mis_mis_edges"),
    )
    cert = per_node.agg(
        F.count("*").alias("n_nodes"),
        F.sum("mis_mis_edges").alias("both_in"),
        F.sum(
            ((F.col("in_mis") == 0) & (F.col("has_mis_nbr") == 0)).cast("long")
        ).alias("uncovered"),
    ).collect()[0]
    raw.unpersist()
    release(mis_df)
    return local_rows(
        spark,
        [
            (
                cert["n_nodes"],
                got == ref,
                cert["both_in"] == 0,
                cert["uncovered"] == 0,
            )
        ],
        "n_nodes long, mis_matches_replay boolean, "
        "is_independent boolean, is_maximal boolean",
    )


@register(
    "graph_matching_gate",
    """
SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       TRUE AS matches_replay,
       TRUE AS is_valid_matching,
       TRUE AS is_maximal
FROM (SELECT "from" AS node FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to"
      UNION ALL
      SELECT "to" FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to")
""",
)
def graph_matching_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-certificate gate for distributed maximal matching on the
    hash-induced subgraph (same contract as graph_mis_gate): the
    distributed matching equals a driver replay of the identical
    md5-priority rounds; validity (no two matched edges share a vertex)
    and maximality (every induced edge touches a matched vertex) are
    verified DISTRIBUTED so the replay clause can be dropped at full
    scale. A maximal matching doubles as a 2-approx vertex cover."""
    import hashlib
    from collections import defaultdict

    from ..operators.graph import maximal_matching

    raw = (
        _citations(spark, sf_dir)
        .filter(
            (F.col("from") % 4 == 0)
            & (F.col("to") % 4 == 0)
            & (F.col("from") != F.col("to"))
        )
        .select(
            F.least("from", "to").alias("a"),
            F.greatest("from", "to").alias("b"),
        )
        .distinct()
        .persist()
    )
    n_induced = raw.limit(500_001).count()
    if n_induced > 500_000:
        raw.unpersist()
        raise ValueError(
            "graph_matching_gate: induced subgraph exceeds 500k edges; "
            "raise the induction modulus for this data scale"
        )
    m_df = maximal_matching(
        raw.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    got = {(r["a"], r["b"]) for r in m_df.collect()}

    # driver replay
    pairs = sorted({(r["a"], r["b"]) for r in raw.collect()})
    active = set(pairs)
    ref: set = set()
    rnd = 0
    while active and rnd < 40:
        p = {
            e: hashlib.md5(f"{e[0]}|{e[1]}|{rnd}".encode()).hexdigest()
            for e in active
        }
        vmin: dict = {}
        for (a, b), pe in p.items():
            for v in (a, b):
                if v not in vmin or pe < vmin[v]:
                    vmin[v] = pe
        sel = {e for e, pe in p.items() if vmin[e[0]] == pe and vmin[e[1]] == pe}
        ref |= sel
        mv = {v for e in sel for v in e}
        active = {e for e in active if e[0] not in mv and e[1] not in mv}
        rnd += 1

    # distributed certificates. The distinct matched-vertex set feeds
    # three consumers (validity count, both anti-join sides) — compute
    # it once (r13, guide §1.2: it was derived three times before; the
    # matching is already driver-sized here, so got's length replaces
    # the separate m_df.count() action too).
    mv = (
        m_df.select(F.col("a").alias("v"))
        .unionByName(m_df.select(F.col("b").alias("v")))
        .distinct()
        .persist()
    )
    n_matched_nodes = mv.count()
    valid = n_matched_nodes == 2 * len(got)  # no shared endpoints
    uncovered = (
        raw.join(mv.withColumnRenamed("v", "a"), "a", "left_anti")
        .join(mv.withColumnRenamed("v", "b"), "b", "left_anti")
        .count()
    )
    nodes = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .distinct()
        .count()
    )
    mv.unpersist()
    raw.unpersist()
    release(m_df)
    return local_rows(
        spark,
        [(nodes, got == ref, bool(valid), uncovered == 0)],
        "n_nodes long, matches_replay boolean, is_valid_matching boolean, "
        "is_maximal boolean",
    )


@register(
    "graph_cc_star_gate",
    """
SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_nodes,
       TRUE AS partitions_match_union_find
FROM (SELECT "from" AS node FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to"
      UNION ALL
      SELECT "to" FROM (SELECT CAST(l_orderkey AS INT) AS "from",
             CAST(l_partkey AS INT) AS "to" FROM lineitem) c
      WHERE "from" % 4 = 0 AND "to" % 4 = 0 AND "from" <> "to")
""",
)
def graph_cc_star_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correctness gate for large-star/small-star connected components
    on the hash-induced subgraph: the component partition (canonical
    min-id labels) must equal a driver-side union-find exactly. This is
    the engine's one CC operator — star contraction needs O(log) rounds
    where hash-min label propagation needs O(diameter) — so the gate
    certifies the scale path, while the unit tests pin the chain case
    and the distributed rounds past the local tail."""
    from ..operators.graph import connected_components_star

    raw = (
        _citations(spark, sf_dir)
        .filter(
            (F.col("from") % 4 == 0)
            & (F.col("to") % 4 == 0)
            & (F.col("from") != F.col("to"))
        )
        .select(F.col("from").alias("src"), F.col("to").alias("dst"))
        .distinct()
        .persist()
    )
    n_induced = raw.limit(500_001).count()
    if n_induced > 500_000:
        raw.unpersist()
        raise ValueError(
            "graph_cc_star_gate: induced subgraph exceeds 500k edges; "
            "raise the induction modulus for this data scale"
        )
    comp = connected_components_star(raw)
    got = {r["node"]: r["component"] for r in comp.collect()}
    release(comp)

    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    pairs = [(r["src"], r["dst"]) for r in raw.collect()]
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    # one min() PER COMPONENT, then fan out: the tempting one-liner
    # `{v: min(ms) for ms in comp.values() for v in ms}` re-scans the
    # member list once per member — O(m^2) per component, ~9 s on this
    # subgraph's one giant ~25k-node component and HOURS at the 500k-edge
    # guard ceiling if the graph is well-connected
    ref: dict = {}
    for ms in comp.values():
        m = min(ms)
        for v in ms:
            ref[v] = m
    raw.unpersist()
    return local_rows(
        spark,
        [(len(ref), got == ref)],
        "n_nodes long, partitions_match_union_find boolean",
    )


@register(
    "graph_ktruss_gate",
    """
SELECT CAST(count(*) AS BIGINT) AS n_input_edges,
       TRUE AS truss_matches_replay,
       TRUE AS min_support_ok
FROM (
  SELECT DISTINCT least(a.item, b.item) AS x, greatest(a.item, b.item) AS y
  FROM (SELECT DISTINCT l_orderkey AS ord, l_partkey % 200 AS item
        FROM lineitem) a
  JOIN (SELECT DISTINCT l_orderkey AS ord, l_partkey % 200 AS item
        FROM lineitem) b
    ON a.ord = b.ord AND a.item < b.item
)
""",
)
def graph_ktruss_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-certificate gate for distributed 4-truss peeling on the
    co-purchase projection (item buckets co-occurring in an order — the
    lineitem mapping itself is bipartite and trianglefree, so the truss
    runs on the projection where triangles actually live): (1) the
    distributed result equals a driver-side peeling replay; (2) the
    FINAL edge set's minimum support, recomputed distributed, is
    >= k-2 — the certificate that remains checkable when the replay is
    dropped at full scale."""
    from collections import defaultdict

    from ..operators.graph import edge_support, k_truss

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ord"),
            (F.col("l_partkey") % 200).alias("item"),
        )
        .distinct()
    )
    b = items.select(F.col("ord"), F.col("item").alias("item2"))
    proj = (
        items.join(b, "ord")
        .filter(F.col("item") < F.col("item2"))
        .select(F.col("item").alias("src"), F.col("item2").alias("dst"))
        .distinct()
        .persist()
    )
    n_edges = proj.count()
    if n_edges > 500_000:
        proj.unpersist()
        raise ValueError(
            "graph_ktruss_gate: projection exceeds 500k edges; raise the "
            "bucket modulus for this data scale"
        )
    K = 4
    truss = k_truss(proj, K)
    got = {(r["a"], r["b"]) for r in truss.collect()}

    # distributed certificate: min support of the final subgraph. ONE
    # edge_support pass feeding one aggregate (r13, guide §1.2): the
    # former two passes — min(support), then a filtered count — each
    # re-ran the full triangle enumeration, the gate's dominant stage.
    if got:
        row = (
            edge_support(truss.select(F.col("a"), F.col("b")))
            .agg(
                F.min("support").alias("m"),
                F.sum((F.col("support") >= K - 2).cast("long")).alias("n_ok"),
            )
            .collect()[0]
        )
        # every surviving edge must appear in the support table at all
        min_ok = row["m"] is not None and row["m"] >= K - 2 and (
            row["n_ok"] == len(got)
        )
    else:
        min_ok = True

    # driver replay
    pairs = {(r["src"], r["dst"]) for r in proj.collect()}
    cur = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    while cur:
        adj = defaultdict(set)
        for a, b in cur:
            adj[a].add(b)
            adj[b].add(a)
        sup = {
            (a, b): len(adj[a] & adj[b]) for a, b in cur
        }
        nxt = {e for e in cur if sup[e] >= K - 2}
        if nxt == cur:
            break
        cur = nxt
    proj.unpersist()
    release(truss)
    return local_rows(
        spark,
        [(n_edges, got == cur, bool(min_ok))],
        "n_input_edges long, truss_matches_replay boolean, "
        "min_support_ok boolean",
    )


@register(
    "graph_diameter_double_sweep",
    """
WITH RECURSIVE cit AS (
  SELECT CAST(l_orderkey AS INT) AS f, CAST(l_partkey AS INT) AS t
  FROM lineitem
  WHERE l_orderkey % 4 = 0 AND l_partkey % 4 = 0
        AND l_orderkey <> l_partkey
),
und AS (SELECT f AS s, t AS d FROM cit UNION SELECT t, f FROM cit),
b1 AS (
  SELECT 0 AS iter, (SELECT min(s) FROM und) AS node, 0 AS dist
  UNION ALL
  SELECT b1.iter + 1, und.d, MIN(b1.dist + 1)
  FROM b1 JOIN und ON b1.node = und.s WHERE b1.iter < 8
  GROUP BY 1, 2
),
d1 AS (SELECT node, MIN(dist) AS dist FROM b1 GROUP BY node),
far AS (SELECT node FROM d1 ORDER BY dist DESC, node LIMIT 1),
b2 AS (
  SELECT 0 AS iter, (SELECT node FROM far) AS node, 0 AS dist
  UNION ALL
  SELECT b2.iter + 1, und.d, MIN(b2.dist + 1)
  FROM b2 JOIN und ON b2.node = und.s WHERE b2.iter < 8
  GROUP BY 1, 2
),
d2 AS (SELECT node, MIN(dist) AS dist FROM b2 GROUP BY node)
SELECT (SELECT min(s) FROM und) AS start_node,
       (SELECT node FROM far) AS far_node,
       CAST(max(dist) AS INT) AS diameter_lower_bound,
       CAST(count(*) AS BIGINT) AS reached_from_far
FROM d2
""",
)
def graph_diameter_double_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien-Latapy-Habib 2009):
    BFS from a deterministic start (minimum node id of the hash-induced
    subgraph) to its farthest reachable node u, then BFS from u — u's
    eccentricity lower-bounds the component's diameter and is exact for
    trees. Two bounded multi-source-BFS calls (broadcast relaxation
    rounds, 8-hop cap keeps sweep cost fixed); the exact-hop contract
    means the oracle replays both sweeps as chained recursive CTEs.
    This is the cheap diameter estimate run before committing to the
    full hop-plot / HyperBall machinery."""
    from ..operators.graph import multi_source_bfs, prepare_bfs_edges

    cit = (
        _citations(spark, sf_dir)
        .filter(
            (F.col("from") % 4 == 0)
            & (F.col("to") % 4 == 0)
            & (F.col("from") != F.col("to"))
        )
    )
    und = (
        cit.select(F.col("from").alias("src"), F.col("to").alias("dst"))
        .unionByName(
            cit.select(F.col("to").alias("src"), F.col("from").alias("dst"))
        )
        .distinct()
        .persist()
    )
    start = und.agg(F.min("src").alias("s")).collect()[0]["s"]
    # both sweeps relax the SAME graph: build the augmented edge table
    # once (r13 — it was distinct+repartitioned+materialized per sweep)
    aug = prepare_bfs_edges(und)
    d1 = multi_source_bfs(und, [start], rounds=8, prepared=aug)
    far = (
        d1.orderBy(F.desc("dist"), "node").limit(1).collect()[0]["node"]
    )
    d2 = multi_source_bfs(und, [far], rounds=8, prepared=aug).persist()
    out = d2.agg(
        F.lit(start).cast("int").alias("start_node"),
        F.lit(far).cast("int").alias("far_node"),
        F.max("dist").cast("int").alias("diameter_lower_bound"),
        F.count("*").cast("bigint").alias("reached_from_far"),
    )
    rows = out.collect()
    aug.unpersist()
    und.unpersist()
    d2.unpersist()
    return local_rows(
        spark,
        rows,
        "start_node int, far_node int, diameter_lower_bound int, "
        "reached_from_far bigint",
    )
