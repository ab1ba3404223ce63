"""Query registry: every implemented operator as a (spark, sf_dir) -> DataFrame
callable plus (where SQL-expressible) a DuckDB oracle string.

Mapping of the citation-graph spec onto the driver's synthetic tables
(FIXTURES.md §6): edge-like table = `lineitem` (l_orderkey -> l_partkey as
from -> to), vertex-attribute table = `orders` (o_orderkey,
year(o_orderdate)). Graph-BFS queries additionally run on the in-repo
fixture graph, which the oracle embeds as a VALUES list.

Conventions (driver hash-compare requires them):
- every computed column aliased identically in Spark and SQL;
- aggregate counts/sums cast to BIGINT on the DuckDB side (DuckDB window
  sums are HUGEINT otherwise);
- years cast to INT both sides;
- floating-point outputs rounded to a fixed precision both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_rows
from ..sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Graph pipeline (SURVEY.md §2.9) on the TPC-H mapping
# --------------------------------------------------------------------------


def _citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge view: lineitem as (from=l_orderkey, to=l_partkey)."""
    return load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("int").alias("from"),
        F.col("l_partkey").cast("int").alias("to"),
    )


def _published(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-attribute view: orders as (id=o_orderkey, year)."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("int").alias("id"),
        F.year("o_orderdate").alias("year"),
    )


_PUB_SQL = "SELECT CAST(o_orderkey AS INT) AS id, CAST(year(o_orderdate) AS INT) AS year FROM orders"
_CIT_SQL = "SELECT CAST(l_orderkey AS INT) AS \"from\", CAST(l_partkey AS INT) AS \"to\" FROM lineitem"


@register(
    "graph_density",
    f"""
WITH pub AS ({_PUB_SQL}),
     cit AS ({_CIT_SQL}),
     outdeg AS (SELECT "from" AS f, count(*) AS c FROM cit GROUP BY 1),
     ey AS (SELECT pub.year, CAST(sum(c) AS BIGINT) AS e FROM pub
            JOIN outdeg ON pub.id = outdeg.f GROUP BY 1),
     ny AS (SELECT year, count(*) AS n FROM pub GROUP BY 1),
     nr AS (SELECT year, CAST(sum(n) OVER (ORDER BY year) AS BIGINT) AS "n(t)" FROM ny),
     er AS (SELECT year, CAST(sum(e) OVER (ORDER BY year) AS BIGINT) AS "e(t)" FROM ey)
SELECT nr.year AS year, "n(t)", "e(t)" FROM nr JOIN er USING (year) ORDER BY year
""",
)
def graph_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: cumulative node/edge density per year (SURVEY.md §2.9 G1;
    reference Analytics.scala:77-142)."""
    from ..operators.graph import density

    return density(_citations(spark, sf_dir), _published(spark, sf_dir))


@register(
    "graph_out_degree",
    f"""
WITH cit AS ({_CIT_SQL})
SELECT "from" AS node, count(*) AS out_degree FROM cit GROUP BY 1 ORDER BY 1
""",
)
def graph_out_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: out-degree per node (reference Analytics.scala:97)."""
    return (
        _citations(spark, sf_dir)
        .groupBy(F.col("from").alias("node"))
        .agg(F.count("*").alias("out_degree"))
        .orderBy("node")
    )


@register(
    "graph_canonical_pairs",
    f"""
WITH cit AS ({_CIT_SQL})
SELECT DISTINCT least("from", "to") AS a, greatest("from", "to") AS b
FROM cit WHERE "from" <> "to" ORDER BY a, b
""",
)
def graph_canonical_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: canonical unordered pairs with an edge (reference
    Analytics.scala:370-377)."""
    from ..operators.graph import canonical_pairs

    return canonical_pairs(_citations(spark, sf_dir), "from", "to").orderBy("a", "b")


@register(
    "graph_snapshot_edge_count",
    f"""
WITH pub AS ({_PUB_SQL}), cit AS ({_CIT_SQL}),
     snap AS (
       SELECT cit."from", cit."to" FROM cit
       JOIN pub pf ON cit."from" = pf.id
       JOIN pub pt ON cit."to" = pt.id
       WHERE pf.year <= 2024 AND pt.year <= 2024
     ),
     bidir AS (
       SELECT "from" AS src, "to" AS dst FROM snap WHERE "from" <> "to"
       UNION
       SELECT "to" AS src, "from" AS dst FROM snap WHERE "from" <> "to"
     )
SELECT CAST(count(*) AS BIGINT) AS n_directed_edges FROM bidir
""",
)
def graph_snapshot_edge_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: snapshot + bidirectional expansion (J3+P4+P8), counted.

    Both endpoints need attributes; the part side has no year, so the
    TPC-H mapping uses orders for the `from` endpoint and filters `to`
    through existence in orders too — matching the reference's inner-join
    phantom-drop semantics exactly (Analytics.scala:348-359).
    """
    from ..operators.graph import snapshot_edges

    edges = snapshot_edges(_citations(spark, sf_dir), _published(spark, sf_dir), 2024)
    return edges.agg(F.count("*").alias("n_directed_edges"))


@register(
    "graph_adjacency",
    f"""
WITH cit AS ({_CIT_SQL}),
     bidir AS (
       SELECT "from" AS src, "to" AS dst FROM cit WHERE "from" <> "to"
       UNION
       SELECT "to", "from" FROM cit WHERE "from" <> "to"
     )
SELECT src AS id,
       array_to_string(list_sort(list(DISTINCT dst)), ',') AS neighbors,
       CAST(count(DISTINCT dst) AS INT) AS degree
FROM bidir GROUP BY src ORDER BY id
""",
)
def graph_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3/A5: distributed adjacency list — node → sorted neighbor set
    (reference collects this to the driver and ships it per task closure,
    Analytics.scala:171,323-331; ours stays a DataFrame). Neighbors are
    emitted comma-joined so the oracle hash is representation-stable."""
    from ..operators.graph import adjacency, bidirectional

    adj = adjacency(bidirectional(_citations(spark, sf_dir)))
    return adj.select(
        "id",
        F.array_join("neighbors", ",").alias("neighbors"),
        F.size("neighbors").alias("degree"),
    ).orderBy("id")


@register(
    "graph_hopplot_d2",
    f"""
WITH cit AS ({_CIT_SQL}),
     bidir AS (
       SELECT DISTINCT "from" AS src, "to" AS dst FROM cit WHERE "from" <> "to"
       UNION
       SELECT DISTINCT "to", "from" FROM cit WHERE "from" <> "to"
     ),
     d1 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM bidir),
     d2cand AS (
       SELECT DISTINCT least(e1.src, e2.dst) AS a, greatest(e1.src, e2.dst) AS b
       FROM bidir e1 JOIN bidir e2 ON e1.dst = e2.src AND e1.src <> e2.dst
     ),
     d2new AS (SELECT a, b FROM d2cand EXCEPT SELECT a, b FROM d1),
     c1 AS (SELECT count(*) AS g1 FROM d1),
     c2 AS (SELECT count(*) AS g2 FROM d2new)
SELECT d, "g(d)", round(pct, 6) AS percent_of_total FROM (
  SELECT 1 AS d, CAST(g1 AS BIGINT) AS "g(d)",
         g1 * 1.0 / (g1 + g2) AS pct FROM c1, c2
  UNION ALL
  SELECT 2, CAST(g1 + g2 AS BIGINT), 1.0 FROM c1, c2
) ORDER BY d
""",
)
def graph_hopplot_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6-G8 frontier BFS on the full-size edge table (not the fixture),
    depth-capped at 2 so the oracle can state it without recursion: the
    one-hop extension join, canonical dedupe, anti-join against seen, and
    cumulative counts — exercised at data scale (~1.2M directed edges at
    sf0.1)."""
    from ..operators.graph import bidirectional, hop_plot

    edges = bidirectional(_citations(spark, sf_dir))
    rows = hop_plot(edges, max_d=2, strict_stop=False)
    total = rows[-1].pairs if rows else 1
    df = local_rows(
        spark, [(r.d, r.pairs) for r in rows], schema="d int, `g(d)` long"
    )
    return df.select(
        "d",
        F.col("g(d)"),
        F.round(F.col("g(d)") / F.lit(float(total)), 6).alias("percent_of_total"),
    ).orderBy("d")


# --------------------------------------------------------------------------
# Relational inventory (SURVEY.md §2.2-2.7) on native TPC-H columns
# --------------------------------------------------------------------------


@register(
    "running_total_orders",
    """
WITH oy AS (SELECT CAST(year(o_orderdate) AS INT) AS year, count(*) AS n,
                   sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total
            FROM orders GROUP BY 1)
SELECT year,
       CAST(sum(n) OVER (ORDER BY year) AS BIGINT) AS cum_orders,
       CAST(sum(total) OVER (ORDER BY year) AS DOUBLE) AS cum_price,
       CAST(sum(total) OVER (ORDER BY year) * 100 AS BIGINT) AS cum_price_cents
FROM oy ORDER BY year
""",
)
def running_total_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: running totals over year (reference Analytics.scala:22-25).
    Money runs in exact DecimalType internally (plans/money.py) and the
    ~4e9 cumulative sum emits a BIGINT cents column so it hash-compares
    exactly, not through the float band (r12 M08 class)."""
    from pyspark.sql import Window

    from .money import cents_pair, money

    oy = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("year"))
        .agg(F.count("*").alias("n"), F.sum(money("o_totalprice")).alias("total"))
    )
    w = Window.orderBy("year").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return oy.select(
        "year",
        F.sum("n").over(w).alias("cum_orders"),
        *cents_pair(F.sum("total").over(w), "cum_price"),
    ).orderBy("year")


@register(
    "attr_join_customer_orders",
    """
SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment,
       count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY 1, 2 ORDER BY 1
""",
)
def attr_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: equi inner join attribute lookup + aggregate (reference
    Analytics.scala:39-40). Customer side is broadcast (small dim)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), c["c_custkey"] == o["o_custkey"], "inner")
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("custkey")
    )


@register(
    "double_vertex_join",
    """
SELECT CAST(year(o.o_orderdate) AS INT) AS order_year, p.p_brand AS brand,
       count(*) AS n_items,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS price_sum,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) * 100 AS BIGINT) AS price_sum_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def double_vertex_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: edge ⋈ vertex ⋈ vertex — attributes attached to both endpoints
    of each edge row (reference Analytics.scala:348-359). price_sum runs
    in exact DecimalType internally and emits a dollars+cents pair
    (plans/money.py: float-band blind-spot fix)."""
    from .money import money, money_sum_pair

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "inner")
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "inner")
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.count("*").alias("n_items"),
            *money_sum_pair(money("l_extendedprice"), "price_sum"),
        )
        .orderBy("order_year", "brand")
    )


@register(
    "anti_join_idle_customers",
    """
SELECT c.c_custkey AS custkey, c.c_name AS name
FROM customer c ANTI JOIN (
  SELECT * FROM orders WHERE o_orderdate >= DATE '2000-01-01'
) o ON c.c_custkey = o.o_custkey
ORDER BY custkey
""",
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/U2: left anti join — keys absent from the probe side (reference
    subtractByKey, Analytics.scala:287). Probe side is date-restricted
    (orders since 2000) so the result is non-empty at every SF — the
    testdata gives every customer at least one all-time order, which made
    the unrestricted anti join a vacuous 0-row check."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"))
        .orderBy("custkey")
    )


from .hll_oracle_sql import (  # noqa: E402 — used by the two registrations below
    effective_diameter_oracle_sql,
    hyperball_oracle_sql,
)


@register("graph_hyperball", hyperball_oracle_sql(max_d=2))
def graph_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate hop-plot via HyperBall (per-node HyperLogLog counters,
    functions/sketches.py) — the 100 TB replacement for the exact pair
    BFS: state O(|V|*2^p) instead of O(connected pairs). Fully
    hash-oracled: the sketch is deterministic (xxhash64 registers,
    max-absorb rounds), so the DuckDB oracle replays it from scratch —
    xxhash64 re-derived in HUGEINT modular arithmetic, dense recursive
    absorb, the same alpha/linear-counting estimate and rel-tol stop
    (plans/hll_oracle_sql.py) — and must land on identical rows."""
    from ..functions.sketches import hyperball_hopplot
    from ..operators.graph import bidirectional

    edges = bidirectional(_citations(spark, sf_dir), dedup=False)
    rows = hyperball_hopplot(edges, p=6, max_d=2)
    return local_rows(
        spark,
        [(d, float(round(g, 2))) for d, g in rows],
        schema="d int, est_pairs double",
    )


@register("graph_effective_diameter_approx", effective_diameter_oracle_sql(max_d=20))
def graph_effective_diameter_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate effective diameter at data scale: HyperBall hop-plot
    (functions/sketches.py) + the reference's interpolation rule
    (docs/PA1.pdf p.3 §3) — the end-to-end diameter path that works when
    the exact pair BFS can't (O(|V|*2^p) state vs O(pairs)). Fully
    hash-oracled via the same deterministic-sketch replay as
    graph_hyperball (plans/hll_oracle_sql.py), including the 0.9-crossing
    interpolation."""
    from ..functions.sketches import hyperball_hopplot
    from ..operators.graph import HopPlotRow, bidirectional, effective_diameter

    edges = bidirectional(_citations(spark, sf_dir), dedup=False)
    counts = hyperball_hopplot(edges, p=6, max_d=20)
    total = counts[-1][1] if counts else 1.0
    rows = [HopPlotRow(d, int(g), g / total) for d, g in counts]
    d_star = effective_diameter(rows)
    data = [(float(round(d_star, 4)),)] if d_star is not None else []
    return local_rows(spark, data, schema="effective_diameter double")


# --------------------------------------------------------------------------
# Centrality / structure (beyond-reference graph analytics)
# --------------------------------------------------------------------------


@register(
    "graph_degree_distribution",
    f"""
WITH cit AS ({_CIT_SQL}),
     bidir AS (
       SELECT DISTINCT "from" AS src, "to" AS dst FROM cit WHERE "from" <> "to"
       UNION
       SELECT DISTINCT "to", "from" FROM cit WHERE "from" <> "to"
     ),
     deg AS (SELECT src AS node, COUNT(*) AS degree FROM bidir GROUP BY src)
SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree ORDER BY degree
""",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the undirected citation graph — the first plot
    of any graph-census pipeline (densification analysis, reference
    report.pdf p.2 studies the same graph's degree evolution). Two hash
    aggregates, no joins."""
    from ..operators.graph import bidirectional, degree_distribution

    return degree_distribution(bidirectional(_citations(spark, sf_dir)))


@register(
    "graph_cocitation_triangles",
    f"""
WITH cit AS ({_CIT_SQL}),
     cc AS (
       SELECT DISTINCT e1."to" AS a, e2."to" AS b
       FROM cit e1 JOIN cit e2 ON e1."from" = e2."from" AND e1."to" < e2."to"
     ),
     deg AS (
       SELECT node, COUNT(*) AS d FROM (
         SELECT a AS node FROM cc UNION ALL SELECT b FROM cc
       ) GROUP BY node
     ),
     tri AS (
       SELECT COUNT(*) AS t
       FROM cc x JOIN cc y ON x.b = y.a JOIN cc z ON z.a = x.a AND z.b = y.b
     )
SELECT (SELECT COUNT(*) FROM cc)::BIGINT AS n_edges,
       (SELECT SUM(d * (d - 1) / 2) FROM deg)::BIGINT AS n_wedges,
       (SELECT t FROM tri)::BIGINT AS n_triangles,
       ROUND(3.0 * (SELECT t FROM tri) / (SELECT SUM(d * (d - 1) / 2) FROM deg), 6)
         AS clustering_coeff
""",
)
def graph_cocitation_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-citation graph (Small 1973): parts cited
    by a common order become an undirected edge; triangles counted with
    degree-ordered orientation (operators/graph.py triangle_stats) so the
    wedge join survives power-law skew. One-row global census
    (n_edges, n_wedges, n_triangles, clustering_coeff)."""
    from ..operators.graph import co_citation, triangle_stats

    return triangle_stats(co_citation(_citations(spark, sf_dir)))


@register(
    "graph_pagerank",
    f"""
WITH RECURSIVE
cit AS ({_CIT_SQL}),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT "from" AS node FROM cit UNION ALL SELECT "to" FROM cit
  )
),
cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT "from" AS src, CAST(COUNT(*) AS DOUBLE) AS od FROM cit GROUP BY "from"),
eaug AS (
  SELECT c."from" AS src, c."to" AS dst, 1.0 / o.od AS w
  FROM cit c JOIN outdeg o ON c."from" = o.src
  UNION ALL
  SELECT node, node, 0.0 FROM nodes
),
pr AS (
  SELECT 0 AS iter, node, 1.0 / cnt.n AS rank FROM nodes, cnt
  UNION ALL
  SELECT pr.iter + 1, e.dst AS node, 0.15 / cnt.n + 0.85 * SUM(pr.rank * e.w)
  FROM pr JOIN eaug e ON pr.node = e.src CROSS JOIN cnt
  WHERE pr.iter < 10
  GROUP BY pr.iter + 1, e.dst, cnt.n
)
SELECT node, ROUND(rank * 1e6, 3) AS rank_ppm
FROM pr WHERE iter = 10 ORDER BY node
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 10 fixed iterations, damping 0.85, dangling mass decayed
    (operators/graph.py pagerank — zero-weight self-loop formulation, the
    same join+agg round shape as HyperBall). The DuckDB oracle states the
    identical recurrence as a recursive CTE with GROUP BY, so this
    iterative operator is fully hash-checked, not rows-only. Ranks are
    emitted as ppm (x 1e6) so rounded values carry ~9 significant digits
    through the driver's string hash."""
    from ..operators.graph import pagerank

    edges = _citations(spark, sf_dir).select(
        F.col("from").alias("src"), F.col("to").alias("dst")
    )
    return (
        pagerank(edges, iterations=10, damping=0.85)
        .select("node", F.round(F.col("rank") * 1e6, 3).alias("rank_ppm"))
        .orderBy("node")
    )


@register(
    "graph_ppr",
    f"""
WITH RECURSIVE
cit AS ({_CIT_SQL}),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT "from" AS node FROM cit UNION ALL SELECT "to" FROM cit
  )
),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 3),
outdeg AS (SELECT "from" AS src, CAST(COUNT(*) AS DOUBLE) AS od FROM cit GROUP BY "from"),
eaug AS (
  SELECT c."from" AS src, c."to" AS dst, 1.0 / o.od AS w
  FROM cit c JOIN outdeg o ON c."from" = o.src
  UNION ALL
  SELECT node, node, 0.0 FROM nodes
),
pr AS (
  SELECT 0 AS iter, node,
         CASE WHEN node IN (SELECT node FROM seeds) THEN 1.0 / 3.0 ELSE 0.0 END AS rank
  FROM nodes
  UNION ALL
  SELECT pr.iter + 1, e.dst AS node,
         CASE WHEN e.dst IN (SELECT node FROM seeds) THEN 0.15 / 3.0 ELSE 0.0 END
           + 0.85 * SUM(pr.rank * e.w)
  FROM pr JOIN eaug e ON pr.node = e.src
  WHERE pr.iter < 10
  GROUP BY pr.iter + 1, e.dst
)
SELECT node, ROUND(rank * 1e6, 3) AS rank_ppm
FROM pr WHERE iter = 10 AND rank > 0 ORDER BY node
""",
)
def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) from the 3
    smallest node ids: the teleport term restricts to the seed set, so
    rank measures proximity to the seeds — the recommendation/expansion
    primitive. Zero-rank nodes (unreached from the seeds in 10 rounds)
    are dropped on BOTH sides so the result is seed-local, not
    graph-sized. Same zero-shuffle broadcast rounds as graph_pagerank;
    oracle replays the recurrence with a seed-conditional teleport."""
    from ..operators.graph import pagerank

    edges = _citations(spark, sf_dir).select(
        F.col("from").alias("src"), F.col("to").alias("dst")
    )
    nodes = edges.select(F.col("src").alias("n")).unionByName(
        edges.select(F.col("dst").alias("n"))
    )
    seeds = [r["n"] for r in nodes.distinct().orderBy("n").limit(3).collect()]
    return (
        pagerank(edges, iterations=10, damping=0.85, seeds=seeds)
        .filter(F.col("rank") > 0)
        .select("node", F.round(F.col("rank") * 1e6, 3).alias("rank_ppm"))
        .orderBy("node")
    )


def _kcore_unrolled_oracle(rounds: int = 12, k: int = 3) -> str:
    """12 peel rounds UNROLLED as a chain of MATERIALIZED CTEs.

    The previous recursive-CTE oracle was correct but serial: DuckDB 1.0
    executes the recursive step single-threaded, so each round paid two
    full window sorts of the 2|E| bidirected rows on one core — 39 s at
    sf0.1 for a peel whose fixpoint is reached after ONE round (the
    round-10 phase-profile). Unrolling replaces recursion with plain
    parallel hash group-by + hash joins; MATERIALIZED pins are load-
    bearing (each p_i is referenced three times — DuckDB 1.0 re-inlines
    non-materialized CTEs at every reference). Post-fixpoint rounds are
    identity (monotone peeling), so round 12 == the fixpoint; measured
    1.9 s at sf0.1, value-identical to the recursive form at all three
    SFs."""
    parts = [f"""cit AS MATERIALIZED ({_CIT_SQL}),
p0 AS MATERIALIZED (
  SELECT DISTINCT least("from","to") AS a, greatest("from","to") AS b
  FROM cit WHERE "from" <> "to"
)"""]
    for i in range(rounds):
        parts.append(f"""d{i} AS MATERIALIZED (
  SELECT s, count(*) AS dg FROM (
    SELECT a AS s FROM p{i} UNION ALL SELECT b FROM p{i}
  ) GROUP BY 1
)""")
        parts.append(f"""p{i + 1} AS MATERIALIZED (
  SELECT a, b FROM p{i}
  JOIN d{i} da ON da.s = p{i}.a JOIN d{i} db ON db.s = p{i}.b
  WHERE da.dg >= {k} AND db.dg >= {k}
)""")
    return "WITH " + ",\n".join(parts) + f"""
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_deg
FROM (SELECT a AS node FROM p{rounds} UNION ALL SELECT b FROM p{rounds})
GROUP BY node ORDER BY node
"""


@register("graph_kcore", _kcore_unrolled_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the undirected citation graph: nodes surviving iterative
    peeling (operators/graph.py k_core), with their in-core degree. The
    DuckDB oracle unrolls 12 peel rounds as materialized CTE stages
    (see _kcore_unrolled_oracle — the recursive-CTE form ran
    single-threaded), far past the observed fixpoint depth (2 rounds at
    sf0.01, 1 at sf0.1; monotone peeling makes later rounds identity)."""
    from ..operators.graph import canonical_pairs, k_core

    return (
        k_core(canonical_pairs(_citations(spark, sf_dir), "from", "to"), k=3)
        .select(F.col("node").cast("long").alias("node"), "core_deg")
        .orderBy("node")
    )


@register(
    "graph_lpa",
    f"""
WITH RECURSIVE
cit AS ({_CIT_SQL}),
und AS (
  SELECT DISTINCT least("from","to") AS a, greatest("from","to") AS b
  FROM cit WHERE "from" <> "to"
),
nodes AS (
  -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB evaluates an inner
  -- CTE's plain UNION with ALL semantics (observed 1.x quirk), which
  -- would duplicate every seed row |degree| times
  SELECT DISTINCT node FROM (
    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
  )
),
adj AS (
  SELECT a AS node, b AS nbr FROM und
  UNION ALL SELECT b, a FROM und
  UNION ALL SELECT node, node FROM nodes
),
lab AS (
  SELECT 0 AS iter, node, node AS community FROM nodes
  UNION ALL
  SELECT v.iter + 1, v.node,
         arg_max(v.community, v.cnt * 4294967296 - v.community) AS community
  FROM (
    SELECT l.iter, a.node, l.community, CAST(count(*) AS BIGINT) AS cnt
    FROM adj a JOIN lab l ON a.nbr = l.node
    WHERE l.iter < 5
    GROUP BY 1, 2, 3
  ) v
  GROUP BY 1, 2
)
SELECT CAST(node AS BIGINT) AS node, CAST(community AS BIGINT) AS community
FROM lab WHERE iter = 5 ORDER BY node
""",
)
def graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities after 5 rounds
    (operators/graph.py label_propagation): deterministic — self-vote
    damping, ties toward the smallest label — so the DuckDB oracle
    replays the IDENTICAL recurrence in a recursive CTE (arg_max keyed
    by cnt*2^32 - community encodes the same (max count, min label)
    choice; Spark-side early stop is sound because a stable round is the
    identity)."""
    from ..operators.graph import canonical_pairs, label_propagation

    und = canonical_pairs(_citations(spark, sf_dir), "from", "to")
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return (
        label_propagation(edges, max_iter=5)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("community").cast("long").alias("community"),
        )
        .orderBy("node")
    )


@register(
    "graph_scc",
    """
WITH RECURSIVE
cit AS MATERIALIZED (SELECT DISTINCT CAST(l_orderkey AS INT) AS f,
               CAST(l_partkey AS INT) AS t FROM lineitem),
nodes AS (SELECT DISTINCT n FROM
          (SELECT f AS n FROM cit UNION ALL SELECT t FROM cit)),
-- every node on a directed cycle appears as BOTH a source and a target
-- (its cycle edges alone witness that), so all non-trivial SCCs live in
-- the induced subgraph on cand; paths within an SCC also stay inside it
cand AS MATERIALIZED (SELECT DISTINCT f AS n FROM cit
                      WHERE f IN (SELECT t FROM cit)),
ie AS MATERIALIZED (SELECT f, t FROM cit
       WHERE f IN (SELECT n FROM cand) AND t IN (SELECT n FROM cand)),
-- seeded decomposition: extract the (expected-giant) SCC of the
-- max-degree core node first via single-source forward/backward
-- reachability (LINEAR in visited edges, unlike the all-pairs
-- closure), then run the quadratic closure only on the residue.
-- EXACT for ANY seed — a poor seed only costs time, never correctness.
seed AS (
  SELECT n FROM (
    SELECT n, count(*) AS deg FROM (
      SELECT f AS n FROM ie UNION ALL SELECT t FROM ie
    ) GROUP BY n
  ) ORDER BY deg DESC, n LIMIT 1
),
fwd AS (SELECT n AS v FROM seed UNION SELECT e.t FROM fwd JOIN ie e ON fwd.v = e.f),
bwd AS (SELECT n AS v FROM seed UNION SELECT e.f FROM bwd JOIN ie e ON bwd.v = e.t),
giant AS MATERIALIZED (SELECT f2.v FROM fwd f2 JOIN bwd b2 ON f2.v = b2.v),
res_e AS MATERIALIZED (SELECT f, t FROM ie
          WHERE f NOT IN (SELECT v FROM giant)
            AND t NOT IN (SELECT v FROM giant)),
reach AS (
  SELECT f AS a, t AS b FROM res_e
  UNION
  SELECT r.a, e.t FROM reach r JOIN res_e e ON r.b = e.f
),
mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
res_lab AS (
  SELECT c.n AS v, LEAST(c.n, COALESCE(MIN(m.u), c.n)) AS lbl
  FROM cand c LEFT JOIN mutual m ON c.n = m.v
  WHERE c.n NOT IN (SELECT v FROM giant)
  GROUP BY c.n
),
res_sizes AS (SELECT lbl, count(*) AS sz FROM res_lab GROUP BY lbl),
nontriv_all AS (
  SELECT sz FROM res_sizes WHERE sz > 1
  UNION ALL
  SELECT count(*) AS sz FROM giant HAVING count(*) > 1
),
nontriv AS MATERIALIZED (SELECT sz, count(*) AS cnt
                         FROM nontriv_all GROUP BY sz)
SELECT CAST(scc_size AS BIGINT) AS scc_size,
       CAST(n_sccs AS BIGINT) AS n_sccs FROM (
  SELECT 1 AS scc_size,
         (SELECT count(*) FROM nodes)
         - COALESCE((SELECT SUM(sz*cnt) FROM nontriv), 0) AS n_sccs
  UNION ALL
  SELECT sz, cnt FROM nontriv
) WHERE n_sccs > 0 ORDER BY scc_size
""",
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly-connected-component SIZE distribution of the directed
    citation mapping (operators/graph.py strongly_connected_components:
    trim acyclic fringe, color the cyclic residue). On this mapping the
    overlapping orderkey/partkey id ranges create one giant SCC plus
    singletons — (scc_size, n_sccs) is the stable, compact contract.

    Hash-verified (upgraded from rows-only in round 5; oracle made
    sf0.1-capable in round 9): the DuckDB oracle trims to the src∩dst
    core — every node of a directed cycle appears as both a source and
    a target, and intra-SCC paths stay inside the SCC, so the induced
    subgraph preserves exactly the non-trivial SCCs. An all-pairs
    closure of the core is quadratic in the giant SCC (>90 GB at sf0.1,
    the round-8 sweep hole), so the oracle decomposes: the SCC of the
    max-degree core node is extracted first via single-source
    forward/backward recursive reachability (linear in visited edges),
    and the quadratic closure runs only on the residue (~400 of ~19.6k
    core nodes at sf0.1). The decomposition is exact for ANY seed — a
    poor seed costs time, never correctness. CTEs referenced more than
    once are MATERIALIZED (DuckDB otherwise re-inlines the recursion
    per reference: 111 s -> 0.3 s at sf0.1). Singleton count is
    recovered as |V| minus the non-trivial mass. The operator is
    additionally verified against a driver-side Tarjan on crafted and
    random graphs in tests, and at full 600k-edge sf0.1 scale by
    scc_partition_gate's Tarjan replay."""
    from ..operators.graph import strongly_connected_components

    edges = _citations(spark, sf_dir).select(
        F.col("from").alias("src"), F.col("to").alias("dst")
    )
    return (
        strongly_connected_components(edges)
        .groupBy("scc")
        .agg(F.count("*").alias("n"))
        .groupBy(F.col("n").alias("scc_size"))
        .agg(F.count("*").alias("n_sccs"))
        .orderBy("scc_size")
    )


@register(
    "graph_hits",
    f"""
WITH RECURSIVE
cit AS ({_CIT_SQL}),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT "from" AS node FROM cit UNION ALL SELECT "to" FROM cit
  )
),
msgs AS (
  SELECT "from" AS frm, "to" AS t, 1 AS kind FROM cit
  UNION ALL
  SELECT "to" AS frm, "from" AS t, 2 AS kind FROM cit
  UNION ALL
  SELECT node, node, 0 FROM nodes
),
hk AS (
  SELECT 0 AS iter, node,
         CAST(1.0 AS DOUBLE) AS hub, CAST(1.0 AS DOUBLE) AS auth
  FROM nodes
  UNION ALL
  SELECT hk.iter + 1, m.t AS node,
         SUM(CASE WHEN m.kind = 2 THEN hk.auth ELSE CAST(0.0 AS DOUBLE) END) AS hub,
         SUM(CASE WHEN m.kind = 1 THEN hk.hub ELSE CAST(0.0 AS DOUBLE) END) AS auth
  FROM hk JOIN msgs m ON hk.node = m.frm
  WHERE hk.iter < 10
  GROUP BY hk.iter + 1, m.t
),
fin AS (SELECT node, hub, auth FROM hk WHERE iter = 10),
mx AS (SELECT max(hub) AS mh, max(auth) AS ma FROM fin)
SELECT node,
       round(hub / mx.mh * 1e6, 3) AS hub_ppm,
       round(auth / mx.ma * 1e6, 3) AS auth_ppm
FROM fin, mx ORDER BY node
""",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities, 10 Jacobi rounds (operators/graph.py hits —
    one pre-expanded message join per round, zero-shuffle with the state
    broadcast; same round mechanics as graph_pagerank). Scores are
    normalized by their max AT OUTPUT (per-round normalization is a
    scalar that cancels and is not expressible inside recursive SQL) and
    emitted in ppm so the driver's hash carries ~9 significant digits.
    The DuckDB oracle replays the identical recurrence as a recursive
    CTE over the same message expansion."""
    from ..operators.graph import hits

    edges = _citations(spark, sf_dir).select(
        F.col("from").alias("src"), F.col("to").alias("dst")
    )
    state = hits(edges, iterations=10)
    mx = state.agg(
        F.max("hub").alias("mh"), F.max("auth").alias("ma")
    )
    return (
        state.join(F.broadcast(mx))
        .select(
            "node",
            F.round(F.col("hub") / F.col("mh") * 1e6, 3).alias("hub_ppm"),
            F.round(F.col("auth") / F.col("ma") * 1e6, 3).alias("auth_ppm"),
        )
        .orderBy("node")
    )


@register(
    "graph_link_prediction",
    f"""
WITH cit AS ({_CIT_SQL}),
und AS (
  SELECT DISTINCT least("from", "to") AS a, greatest("from", "to") AS b
  FROM cit WHERE "from" <> "to"
),
nbrs AS (
  SELECT a AS z, b AS x FROM und UNION ALL SELECT b AS z, a AS x FROM und
),
deg AS (SELECT z, count(*) AS deg FROM nbrs GROUP BY z),
mid AS (
  SELECT n.z, n.x, d.deg FROM nbrs n JOIN deg d ON n.z = d.z
  WHERE d.deg BETWEEN 2 AND 10000
),
wedges AS (
  SELECT m1.x AS a, m2.x AS b, 1.0 / ln(CAST(m1.deg AS DOUBLE)) AS aa_w
  FROM mid m1 JOIN mid m2 ON m1.z = m2.z AND m1.x < m2.x
),
scores AS (
  SELECT w.a, w.b, count(*) AS cn, round(sum(w.aa_w), 6) AS adamic_adar
  FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.a = w.a AND e.b = w.b)
  GROUP BY w.a, w.b
)
SELECT a, b, cn, adamic_adar FROM scores
ORDER BY adamic_adar DESC, cn DESC, a, b
LIMIT 100
""",
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the undirected citation graph: top-100
    non-adjacent pairs by Adamic-Adar over common neighbors
    (operators/graph.py link_prediction — wedge join through the middle
    node with a hub cap, anti-join against existing edges, heap top-k).
    The order key is the ROUNDED score, so cross-engine float-sum
    noise (~1e-15) cannot flip the top-k boundary."""
    from ..operators.graph import canonical_pairs, link_prediction

    und = canonical_pairs(_citations(spark, sf_dir), a="from", b="to")
    return link_prediction(und, top_k=100, max_degree=10_000).select(
        "a", "b", "cn", "adamic_adar"
    )


@register(
    "graph_sssp",
    f"""
WITH RECURSIVE
cit AS ({_CIT_SQL}),
ew AS (SELECT "from" AS src, "to" AS dst,
              CAST(1 + ("to" % 5) AS DOUBLE) AS w FROM cit),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ew UNION ALL SELECT dst FROM ew
  )
),
eaug AS (
  SELECT src, dst, w FROM ew
  UNION ALL
  SELECT node, node, CAST(0 AS DOUBLE) FROM nodes
),
src0 AS (SELECT min("from") AS s FROM cit),
sp AS (
  SELECT 0 AS iter, s AS node, CAST(0 AS DOUBLE) AS dist FROM src0
  UNION ALL
  SELECT sp.iter + 1, e.dst AS node, MIN(sp.dist + e.w) AS dist
  FROM sp JOIN eaug e ON sp.node = e.src
  WHERE sp.iter < 15
  GROUP BY sp.iter + 1, e.dst
)
SELECT node, round(dist, 1) AS dist FROM sp WHERE iter = 15 ORDER BY node
""",
)
def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest distances within 15 hops
    (operators/graph.py sssp_bounded — bounded Bellman-Ford with
    zero-weight self-loops, broadcast distance table, zero-shuffle
    rounds; weights are the deterministic 1 + (dst % 5)). Distances are
    min-selected sums of integer-valued weights — exact in double — so
    the recursive-CTE oracle matches without tolerance."""
    from ..operators.graph import sssp_bounded

    cit = _citations(spark, sf_dir)
    edges_w = cit.select(
        F.col("from").cast("long").alias("src"),
        F.col("to").cast("long").alias("dst"),
        (1 + F.col("to") % 5).cast("double").alias("w"),
    )
    source = cit.agg(F.min("from")).first()[0]
    return (
        sssp_bounded(edges_w, source=int(source), rounds=15)
        .select("node", F.round("dist", 1).alias("dist"))
        .orderBy("node")
    )


@register(
    "graph_clustering_coefficient",
    f"""
WITH cit AS ({_CIT_SQL}),
und AS (SELECT DISTINCT least(x."to", y."to") AS a, greatest(x."to", y."to") AS b
        FROM cit x JOIN cit y ON x."from" = y."from" AND x."to" <> y."to"),
adj AS (SELECT a AS x, b AS y FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT x, count(*) AS d FROM adj GROUP BY 1),
tri AS (SELECT a1.x AS v, count(*) AS t
        FROM adj a1 JOIN adj a2 ON a1.x = a2.x AND a1.y < a2.y
        JOIN und e ON e.a = a1.y AND e.b = a2.y GROUP BY 1)
SELECT deg.x AS node, CAST(d AS BIGINT) AS degree,
       round(2.0 * COALESCE(t, 0) / (d * (d - 1)), 6) AS cc
FROM deg LEFT JOIN tri ON tri.v = deg.x
WHERE d >= 2 ORDER BY cc DESC, node LIMIT 100
""",
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the co-citation
    projection, top-100 by (cc desc, node): triangles enumerated once
    with degree-ordered orientation (operators/graph.py
    `local_clustering` — oriented out-degree is O(sqrt|E|), so the wedge
    join survives power-law hubs), each triangle crediting its three
    corners via one narrow explode. The oracle recomputes per-node
    triangles with an independent naive neighbor-pair self-join."""
    from ..operators.graph import co_citation, local_clustering

    und = co_citation(_citations(spark, sf_dir))
    return local_clustering(und, top_k=100)


@register(
    "hyperball_accuracy_gate",
    f"""
WITH cit AS ({_CIT_SQL}),
bidir AS (
  SELECT "from" AS s, "to" AS d FROM cit WHERE "from" <> "to"
  UNION SELECT "to", "from" FROM cit WHERE "from" <> "to"
),
d1 AS (SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b FROM bidir),
d2 AS (
  SELECT DISTINCT least(x.s, e.d) AS a, greatest(x.s, e.d) AS b
  FROM bidir x JOIN bidir e ON x.d = e.s
  WHERE x.s <> e.d
)
SELECT CAST((SELECT count(*) FROM d1) AS BIGINT) AS exact_d1,
       CAST((SELECT count(*) FROM (SELECT * FROM d1 UNION SELECT * FROM d2))
            AS BIGINT) AS exact_d2,
       TRUE AS d1_within_10pct, TRUE AS d2_within_10pct
""",
)
def hyperball_accuracy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable accuracy certificate for HyperBall (whose raw
    estimates stay rows-only — HLL register contents are
    engine-specific): the estimated connected-pair counts at depths 1
    and 2 must land within 10% of the EXACT counts, which the oracle
    recomputes independently with plain distinct-pair SQL. p=6 registers
    give ~13% theoretical rsd per node but per-node errors cancel in the
    global sum (measured ~1% at sf0.1, BASELINE.md) — 10% is a >5-sigma
    gate on the aggregate. Both sides are deterministic, so the booleans
    are stable; a register-merge or union bug flips one and
    hash-mismatches."""
    from ..functions.sketches import hyperball_hopplot
    from ..operators.graph import bidirectional, hop_plot

    edges = bidirectional(_citations(spark, sf_dir))
    exact = {r.d: r.pairs for r in hop_plot(edges, max_d=2, strict_stop=False)}
    est = dict(
        hyperball_hopplot(
            bidirectional(_citations(spark, sf_dir), dedup=False), p=6, max_d=2
        )
    )
    ok = {
        d: abs(est.get(d, 0.0) - exact[d]) <= 0.10 * exact[d] for d in (1, 2)
    }
    return local_rows(
        spark,
        [(int(exact[1]), int(exact[2]), bool(ok[1]), bool(ok[2]))],
        "exact_d1 bigint, exact_d2 bigint, d1_within_10pct boolean, "
        "d2_within_10pct boolean",
    )
