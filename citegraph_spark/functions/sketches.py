"""HyperBall: approximate neighborhood function / hop-plot via per-node
HyperLogLog counters (Boldi & Vigna, "In-Core Computation of Geometric
Centralities with HyperBall", 2013; HyperANF, WWW'11 — public papers).

Why it exists: the exact hop-plot (operators/graph.py) materializes the
set of connected pairs — O(pairs) state, ~77 M rows for the reference's
1997 snapshot and quadratic-ish in node count at 100 TB graph scale.
HyperBall replaces the pair set with one HLL counter per node
(m = 2^p registers): per round, each node's counter absorbs its
neighbors' counters (register-wise max), and sum-of-estimates gives
N(d) = #(u,v) pairs with dist(u,v) <= d. State is O(|V| * m), messages
are O(|E| * m) per round — linear in the graph, independent of pair
count.

Spark-first design — NO Python UDFs, no RDDs:

- Counters are DENSE: one row per node with m tinyint register columns
  (`init_counters_dense`). A message is ONE ~m-byte row per edge
  instead of one row per (edge × nonzero register), and the
  register-wise max-union is an m-column `groupBy(node).max` — a hash
  aggregate that stays in whole-stage codegen.
- The edge table is augmented ONCE with self-loops (v, v), so a round
  is join + aggregate with NO union against the previous counters (the
  self-loop message carries each node's own ball forward). Duplicate
  edges are harmless (max is idempotent), so the edge feed skips its
  dedup shuffle.
- The one-hop absorb joins the self-loop-augmented edge list with the
  counters, one `lineage.relax_rounds` round per hop. When the counter
  table fits the round-state budget (|V| * (m + overhead) bytes), the
  counters are BROADCAST and the edges are pre-partitioned by `src`:
  the join is map-side and the group-by key
  (src, aliased `node`) already matches the edges' partitioning, so a
  whole round runs with ZERO shuffle — only the ~|V|*m-byte broadcast
  republish per round. Past the budget (1e9-node graphs at 100 TB
  scale), the same plan degrades gracefully to a shuffled hash join +
  exchange, still linear in |E|*m per round.
- Round state is materialized with `cut_lineage` (localCheckpoint by
  default, reliable checkpoint behind the session knob; row-level block
  store, also truncates lineage) rather than `persist` — the columnar
  cache encode of 65 columns costs ~10x the checkpoint. Whole-stage
  codegen is disabled around the loop: Janino recompiles the huge
  64-column generated class for every round's distinct plan, and at
  O(|V|*m) volumes the compile dwarfs the interpreted eval it saves.
- The HLL estimate (alpha_m * m^2 / sum(2^-M_j), with the small-range
  linear-counting correction) is a pure column expression over
  (non-zero registers, implicit-zero count).
- Hashing is `xxhash64` (JVM built-in); rho (leading-zero rank) is
  computed exactly with integer ops via base-2 string length —
  no floating-point log2 edge cases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import cut_lineage, relax_rounds, release


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def init_counters_dense(nodes: DataFrame, p: int = 6, node_col: str = "node") -> DataFrame:
    """Singleton HLL counter per DISTINCT node, directly in the dense
    (node, r0..r{m-1}) layout: r_i = rho if i == idx else 0.

    `nodes` may have duplicates (e.g. the src column of an edge list):
    the m-way `when` projection runs once per distinct node, not once
    per input row, and the only shuffle is the distinct itself (8-byte
    rows). rho (leading-zero rank of the hash suffix) is exact integer
    arithmetic, via the length of its base-2 string.

    The m register projections are built as ONE selectExpr (r13
    optimization, guide §4 — the Python boundary): constructing them
    with per-column pyspark.sql.functions calls cost ~1 s of driver
    Py4J round-trips per invocation at m=64; the SQL strings parse
    JVM-side into the identical Catalyst expressions in one call."""
    m = 1 << p
    h = F.xxhash64("node")
    w = F.shiftrightunsigned(h, p)
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = F.when(w == 0, F.lit(64 - p + 1)).otherwise(F.lit(64 - p) - bitlen + 1)
    base = (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("_idx", h.bitwiseAND(F.lit(m - 1)).cast("int"))
        .withColumn("_rho", rho.cast("int"))
    )
    regs = [
        f"cast(CASE WHEN _idx = {i} THEN _rho ELSE 0 END AS tinyint) AS r{i}"
        for i in range(m)
    ]
    return base.selectExpr("node", *regs)


def _estimate_sql(p: int) -> str:
    """Per-row HLL estimate over dense register columns r0..r{m-1} as a
    single SQL string — rides a `DataFrame.observe` on the absorb job
    (hyperball_hopplot) and the standalone estimate_total_dense pass.

    r13 optimization (guide §§1.2, 4): 2^-r is computed as
    1.0 / shiftleft(1L, r) — exact for every register value (r <=
    64-p+1 < 63, and both pow(2.0,-r) and the shifted divide return the
    identical IEEE double), but an integer shift instead of a
    transcendental pow call per (row x register).

    r13 optimization round 2 (guide §1/§7 — JIT-profiled): the previous
    2m-term UNROLLED tree (64 divides + 63 adds for the denominator plus
    64 CASEs + 63 adds for the zero count) Janino-compiles into ~130
    tiny generated methods (SpecificMutableProjection::Add_N$/Divide_N$)
    per fresh plan; in a one-shot-per-query JVM (the bench, any batch
    job) those methods flood the C2 compile queue — measured 40-140 s
    of HotSpot compiler CPU per hyperball invocation with every task
    meanwhile executing at the 10x-slower profiling tier. The same math
    as ONE array fold (`aggregate` HOF over array(r0..r{m-1})) generates
    a constant-size expression tree instead. Bit-identical by
    construction: the fold's running double sum evaluates
    ((0.0+t0)+t1)+...+t{m-1} and 0.0+t0 == t0 exactly for t0 > 0, so
    the summation order matches the old left-associated `t0 + t1 + ...`
    term for term; the zero count is integer arithmetic."""
    m = 1 << p
    alpha = _alpha(m)
    arr = "array(" + ",".join(f"r{i}" for i in range(m)) + ")"
    # denominator: primitive-double left fold (no per-element struct —
    # the named_struct accumulator variant A/B'd ~1.5x slower from
    # InternalRow/boxing churn in the interpreted HOF eval); zero count:
    # array_remove is a single builtin scan, no lambda at all. Both
    # sub-expressions are duplicated across the CASE branches exactly as
    # the unrolled original duplicated its `raw`/`zeros` terms.
    denom = f"aggregate({arr}, 0.0D, (acc, x) -> acc + (1.0D / cast(shiftleft(1L, x) as double)))"
    zeros = f"({m} - size(array_remove({arr}, 0Y)))"
    raw = f"({alpha * m * m!r}D / ({denom}))"
    return (
        f"CASE WHEN {raw} <= {2.5 * m!r}D AND ({zeros}) > 0 "
        f"THEN {float(m)!r}D * ln({float(m)!r}D / ({zeros})) "
        f"ELSE {raw} END"
    )


def estimate_total_dense(counters: DataFrame, p: int = 6) -> float:
    """Sum over nodes of the HLL estimates of |ball(v)| on the dense
    layout — the neighborhood function N(d) (a zero register contributes
    2^0 = 1 to the denominator)."""
    row = counters.agg(F.expr(f"sum({_estimate_sql(p)}) AS total")).first()
    return float(row["total"] or 0.0)


def hyperball_hopplot(
    edges: DataFrame,
    p: int = 6,
    max_d: int = 20,
    rel_tol: float = 1e-3,
) -> list[tuple[int, float]]:
    """Approximate hop-plot: [(d, estimated #unordered connected pairs at
    dist <= d)] until the neighborhood function stabilizes (relative
    change < rel_tol) or max_d; [] for a graph with no vertex.

    `edges`: (src, dst), both orientations. Standard error of each HLL
    estimate is ~1.04/sqrt(2^p) (p=6 -> ~13 %); sums over nodes
    concentrate tighter, and for balls far smaller than m the
    linear-counting regime is near-exact.

    The rounds run through `lineage.relax_rounds`: counters fitting the
    round-state budget (|V| * (m + row overhead)) are broadcast each
    round — with the self-loop-augmented edge table pre-partitioned by
    src, a round is then a single zero-shuffle job. Larger vertex sets
    fall back to a shuffled join transparently. Each round's estimate
    rides its lineage cut as an `observe` metric, which also decides the
    rel_tol stop.
    """
    spark = edges.sparkSession
    m = 1 << p
    cols = [f"r{i}" for i in range(m)]
    # materialize the raw edge lineage ONCE, with codegen still on (it
    # may hang off arbitrary upstream joins); everything below reads
    # this row-level checkpoint
    edges = edges.transform(cut_lineage)
    # codegen off: Janino would recompile the huge 64-column class for
    # every round's distinct plan. AQE coalescing off: the per-round
    # state is small enough that AQE would squash it to ONE partition,
    # serializing the (interpreted) loop stages.
    codegen_before = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    coalesce_before = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        counters = init_counters_dense(
            edges.select(F.col("src").alias("node")), p=p
        ).transform(cut_lineage)
        n = counters.count()
        if n == 0:
            release(counters)
            return []
        # self-loops make absorb a pure join+agg (each node's own ball
        # rides the (v, v) message) — no union with the previous
        # counters, so the broadcast path needs no exchange at all.
        # Loops come from the checkpointed counters (already distinct),
        # so the upstream edge lineage is scanned once here, not twice.
        edges_aug = edges.unionByName(
            counters.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        max_aggs = [F.expr(f"max({c}) AS {c}") for c in cols]

        def step(edges_aug: DataFrame, counters: DataFrame) -> DataFrame:
            return (
                edges_aug.join(counters, edges_aug["dst"] == counters["node"], "inner")
                .select(edges_aug["src"].alias("node"), *cols)
                .groupBy("node")
                .agg(*max_aggs)
            )

        out: list[tuple[int, float]] = []
        totals = [float(n)]  # N(0): every node reaches itself

        def stop(d: int, total) -> bool:
            total = float(total or 0.0)
            out.append((d, max(0.0, (total - n) / 2.0)))
            prev = totals[-1]
            totals.append(total)
            return prev > 0 and abs(total - prev) / prev < rel_tol

        release(
            relax_rounds(
                edges_aug,
                counters,
                step,
                max_d,
                state_bytes=n * (m + 32),
                keys=("src", "dst"),
                observe=F.expr(f"sum({_estimate_sql(p)})").alias("total"),
                stop=stop,
            )
        )
        return out
    finally:
        release(edges)
        spark.conf.set("spark.sql.codegen.wholeStage", codegen_before)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce_before)
