"""TPC-H-shaped relational coverage: the full §2 operator inventory on
native columns — scan+filter pushdown, multi-agg, rollup, pivot,
semi/anti joins, set ops, distinct, sorts/limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datetime import date

from ..sources.local import local_rows
from ..sources.tables import load_table
from .date_filters import date_window as _date_window
from .entry_queries import register
from .money import cents_pair, charge, disc_price, money, money_sum_pair


@register(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) * 100 AS BIGINT) AS sum_base_price_cents,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) * 100 AS BIGINT) AS sum_disc_price_cents,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4)) * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4)) * (1 + CAST(l_tax AS DECIMAL(12,2)))), 2) * 100 AS BIGINT) AS sum_charge_cents,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) < DATE '2025-06-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan with pushed-down date filter + 8-agg groupBy.
    The filter and 7-column projection reach the parquet scan
    (PushedFilters/ReadSchema — verified in tests/test_plans.py).

    Money sums run in exact DecimalType internally (plans/money.py,
    reference Analytics.scala:42 fixed-point semantics) and emit
    DOUBLE-dollars + BIGINT-cents pairs: the int64 cents column makes a
    sub-cent defect (the r12 M08 mutant) hash-visible at ~5e8 magnitudes
    where the float band is blind, without putting canonicalizer-hostile
    DECIMAL on the wire (tests/test_oracle_dtypes.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(_date_window("l_shipdate", None, date(2025, 6, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(money("l_quantity")), 2).cast("double").alias("sum_qty"),
            *money_sum_pair(money("l_extendedprice"), "sum_base_price"),
            *money_sum_pair(disc_price(), "sum_disc_price"),
            *money_sum_pair(charge(), "sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_unshipped_revenue",
    """
SELECT o.o_orderkey AS orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, orderkey
LIMIT 10
""",
)
def q3_unshipped_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → top-10 by
    revenue. Customer side broadcast; deterministic tie-break on key."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate", "priority")
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(10)
    )


@register(
    "rollup_returns",
    """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (grouping-set aggregate — absent
    from the reference, free from Catalyst)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "pivot_status_by_flag",
    """
SELECT l_returnflag,
       round(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 0), 2) AS F,
       round(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 0), 2) AS O
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: linestatus values to columns (sum of quantity)."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return pv.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("F"),
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("O"),
    ).orderBy("l_returnflag")


@register(
    "semi_join_active_parts",
    """
SELECT p.p_partkey AS partkey, p.p_brand AS brand
FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45)
ORDER BY partkey
""",
)
def semi_join_active_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): parts with at least one high-quantity
    lineitem."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        p.join(li, p["p_partkey"] == li["l_partkey"], "left_semi")
        .select(F.col("p_partkey").alias("partkey"), F.col("p_brand").alias("brand"))
        .orderBy("partkey")
    )


@register(
    "union_nation_keys",
    """
SELECT DISTINCT n_nationkey AS nationkey FROM (
  SELECT c_nationkey AS n_nationkey FROM customer
  UNION ALL
  SELECT s_nationkey AS n_nationkey FROM supplier
) ORDER BY nationkey
""",
)
def union_nation_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: union + distinct of two projections."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct().orderBy("nationkey")


@register(
    "distinct_flag_status",
    """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
""",
)
def distinct_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/A4: distinct over a projection (hash-agg dedupe with map-side
    partial — the reference's reduceByKey-pick-one, Analytics.scala:279)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "filter_project_pushdown",
    """
SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price
FROM lineitem
WHERE l_returnflag = 'R' AND l_quantity > 40
ORDER BY orderkey, linenumber
""",
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4: projection + conjunctive predicate; both reach the parquet
    scan (PushedFilters in the physical plan — asserted in tests)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 40))
        .select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("linenumber"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("net_price"),
        )
        .orderBy("orderkey", "linenumber")
    )


@register(
    "multi_join_region_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) AS DOUBLE) AS revenue,
       CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) * 100 AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def multi_join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join; every dim side broadcast, so the
    fact table is never shuffled before aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(*money_sum_pair(disc_price(), "revenue"))
        .orderBy("region", "nation")
    )


@register(
    "approx_distinct_parts",
    """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_within_5pct
FROM lineitem
""",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct count (HyperLogLog++): the scale path for
    cardinality over 100 TB — constant memory vs countDistinct's shuffle
    of every key. The HLL estimate itself is engine-specific, so the
    hashable output is the exact count plus an in-query certificate that
    the estimate lands within 5% (2.5 sigma at rsd=0.02) of it — the
    oracle asserts the same exact count and TRUE. Production at scale
    runs the approx aggregate alone; the exact column here is the
    verification harness, not the plan."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.countDistinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", rsd=0.02)
    return li.agg(
        exact.alias("exact_parts"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


@register(
    "window_rank_lag",
    """
WITH sy AS (
  SELECT c.c_mktsegment AS segment, CAST(year(o.o_orderdate) AS INT) AS year,
         round(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 2) AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT segment, year,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev * 100 AS BIGINT) AS revenue_cents,
       CAST(rank() OVER (PARTITION BY year ORDER BY rev DESC) AS INT)
         AS rank_in_year,
       CAST(rev - lag(rev) OVER (PARTITION BY segment ORDER BY year) AS DOUBLE)
         AS yoy_delta,
       CAST((rev - lag(rev) OVER (PARTITION BY segment ORDER BY year)) * 100 AS BIGINT)
         AS yoy_delta_cents
FROM sy ORDER BY segment, year
""",
)
def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions beyond the reference's single running
    total (SURVEY.md §2.5): rank within year + lag-based year-over-year
    delta per market segment. Both windows partition on real keys, so at
    cluster scale every partition is independent (no single-partition
    window hazard)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sy = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("year"),
        )
        .agg(F.round(F.sum(money("o_totalprice")), 2).alias("rev"))
    )
    w_rank = Window.partitionBy("year").orderBy(F.col("rev").desc())
    w_lag = Window.partitionBy("segment").orderBy("year")
    delta = F.col("rev") - F.lag("rev").over(w_lag)
    return sy.select(
        "segment",
        "year",
        *cents_pair(F.col("rev"), "revenue"),
        F.rank().over(w_rank).alias("rank_in_year"),
        *cents_pair(delta, "yoy_delta"),
    ).orderBy("segment", "year")


@register(
    "cube_flag_status",
    """
SELECT coalesce(l_returnflag, 'ALL') AS flag,
       coalesce(l_linestatus, 'ALL') AS status,
       count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY flag, status
""",
)
def cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all 4 aggregation levels in one pass (Catalyst
    expands to grouping sets with a single shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
            "n",
            "qty",
        )
        .orderBy("flag", "status")
    )


@register(
    "intersect_customer_nations",
    """
SELECT n_nationkey AS nationkey FROM nation
INTERSECT
SELECT c_nationkey FROM customer
ORDER BY nationkey
""",
)
def intersect_customer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op (absent from the reference — SURVEY.md §2.7):
    nation keys that actually have customers. Catalyst plans it as a
    left-semi aggregate join."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    return n.intersect(c).orderBy("nationkey")


@register(
    "percentile_prices",
    """
SELECT l_returnflag AS flag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY 1 ORDER BY 1
""",
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    SQL-standard continuous quantile — matches DuckDB quantile_cont
    bit-for-bit after rounding)."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = lambda q: F.round(F.expr(f"percentile(l_extendedprice, {q})"), 4)  # noqa: E731
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(pct(0.5).alias("p50"), pct(0.9).alias("p90"), pct(0.99).alias("p99"))
        .orderBy("flag")
    )


@register(
    "approx_percentile_prices",
    """
SELECT l_returnflag AS flag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
       TRUE AS p50_in_bound,
       TRUE AS p90_in_bound
FROM lineitem GROUP BY 1 ORDER BY 1
""",
)
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) — the 100 TB
    path: mergeable constant-memory summaries instead of a global sort.
    The sketch value is engine-specific, so the hashable output is the
    exact interpolated percentile plus an in-query certificate that the
    GK estimate (accuracy 10000, rank error <= n/10000) lands inside the
    exact [q-0.002, q+0.002] quantile envelope — 20x the guaranteed
    rank error, deterministic at every SF. Production at scale runs the
    approx aggregate alone; the exact columns are the harness.

    The exact side runs through `grouped_exact_percentiles` (bounded
    state: global_rank + rank-targeted conditional aggregation, every
    step spillable) instead of `F.percentile`, whose collect-the-group
    aggregation buffer OOMed — not spilled — at 6M rows/group on the
    r12 spill board's 35 MiB floor (its one ERROR row, now green)."""
    from ..operators.relational import grouped_exact_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    qs = [0.498, 0.5, 0.502, 0.898, 0.9, 0.902]
    names = ["p498", "p50", "p502", "p898", "p90", "p902"]
    ex = grouped_exact_percentiles(
        li.select(F.col("l_returnflag").alias("flag"), "l_extendedprice"),
        "flag",
        "l_extendedprice",
        qs,
        names,
    )
    apx = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("a50"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("a90"),
    )
    return (
        ex.join(apx, "flag")
        .select(
            "flag",
            F.round("p50", 4).alias("p50_exact"),
            F.round("p90", 4).alias("p90_exact"),
            F.col("a50").between(F.col("p498"), F.col("p502")).alias("p50_in_bound"),
            F.col("a90").between(F.col("p898"), F.col("p902")).alias("p90_in_bound"),
        )
        .orderBy("flag")
    )


@register(
    "window_ntile_cume",
    """
SELECT o_orderkey,
       o_orderstatus,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(o_totalprice - first_value(o_totalprice) OVER w, 2) AS delta_min
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderstatus, o_totalprice, o_orderkey
""",
)
def window_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (§2.5 beyond rank/lag): ntile
    quartiles, percent_rank, cume_dist, first_value delta — one window
    spec shared by all four, partitioned on a real key. The order-by
    includes o_orderkey so ntile's tie assignment is deterministic
    cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(
                F.col("o_totalprice") - F.first("o_totalprice").over(w), 2
            ).alias("delta_min"),
        )
        .orderBy("o_orderstatus", "pct_rank", "o_orderkey")
    )


@register(
    "except_all_supplier_flags",
    """
WITH n AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'N'),
     r AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
     d AS (SELECT l_suppkey FROM n EXCEPT ALL SELECT l_suppkey FROM r)
SELECT l_suppkey, CAST(count(*) AS BIGINT) AS surplus
FROM d GROUP BY l_suppkey ORDER BY l_suppkey
""",
)
def except_all_supplier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, §2.7 beyond except-by-key): per
    supplier, how many more non-returned than returned line items —
    multiplicity preserved, then aggregated. Spark plans exceptAll as a
    count-tagged aggregate + generate, one shuffle on the row value."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.filter(F.col("l_returnflag") == "N").select("l_suppkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_suppkey")
    return (
        n.exceptAll(r)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("surplus"))
        .orderBy("l_suppkey")
    )


@register(
    "scalar_functions_showcase",
    """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS INT) AS days_since_95,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(isodow(o_orderdate) AS INT) AS weekday_iso,
       upper(o_orderpriority) AS prio_upper,
       replace(lower(o_orderpriority), '-', '_') AS prio_snake,
       lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS key_padded,
       substring(o_orderpriority, 3, 4) AS prio_word,
       concat_ws('|', o_orderstatus, CAST(year(o_orderdate) AS VARCHAR)) AS status_year,
       CAST(length(o_orderpriority) AS INT) AS prio_len,
       reverse(o_orderstatus) AS status_rev,
       round(sqrt(o_totalprice), 6) AS sqrt_price,
       round(ln(o_totalprice), 6) AS ln_price,
       round(log10(o_totalprice), 6) AS log10_price,
       CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
       CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
       round(abs(o_totalprice - 50000.0), 2) AS price_center_dist,
       CAST(o_orderkey % 7 AS BIGINT) AS key_mod7
FROM orders
WHERE o_orderkey % 97 = 0
ORDER BY o_orderkey
""",
)
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 scalar-function surface in one oracle-checked pass: date
    extraction/truncation/arithmetic (year/quarter/month/last_day/
    date_trunc/datediff/date_add/ISO weekday), string ops (upper/lower/
    replace/lpad/substring/concat_ws/length/reverse), and math
    (sqrt/ln/log10/ceil/floor/abs/mod). All narrow JVM expressions fused
    into the scan; the filter prunes at the parquet row-group level."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
            F.last_day("o_orderdate").alias("month_end"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
            F.datediff("o_orderdate", F.lit("1995-01-01")).alias("days_since_95"),
            F.date_add("o_orderdate", 30).alias("due_date"),
            (F.weekday("o_orderdate") + 1).alias("weekday_iso"),
            F.upper("o_orderpriority").alias("prio_upper"),
            F.replace(F.lower("o_orderpriority"), F.lit("-"), F.lit("_")).alias(
                "prio_snake"
            ),
            F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("key_padded"),
            F.substring("o_orderpriority", 3, 4).alias("prio_word"),
            F.concat_ws(
                "|", "o_orderstatus", F.year("o_orderdate").cast("string")
            ).alias("status_year"),
            F.length("o_orderpriority").alias("prio_len"),
            F.reverse("o_orderstatus").alias("status_rev"),
            F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
            F.round(F.log("o_totalprice"), 6).alias("ln_price"),
            F.round(F.log10("o_totalprice"), 6).alias("log10_price"),
            F.ceil("o_totalprice").alias("ceil_price"),
            F.floor("o_totalprice").alias("floor_price"),
            F.round(F.abs(F.col("o_totalprice") - 50000.0), 2).alias("price_center_dist"),
            (F.col("o_orderkey") % 7).alias("key_mod7"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q5_local_supplier_volume",
    """
SELECT n_name AS nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) <  DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, nation
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with the c_nationkey = s_nationkey
    locality condition. Plan: region→nation→supplier collapse into ONE
    broadcast dim (region is 5 rows, nation 25, supplier 1%% of lineitem
    and pre-filtered to 1/5 of that); lineitem⨝orders is the only
    shuffle join, with the date filter pushed to the orders scan so the
    probe side shrinks before the exchange. The nationkey-equality is
    applied as a join condition (not a post-filter) so it prunes during
    the broadcast probe."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        _date_window("o_orderdate", date(1996, 1, 1), date(1997, 1, 1))
    )
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


@register(
    "q10_returned_items",
    """
SELECT c.c_custkey AS custkey, c.c_name AS name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       round(c.c_acctbal, 2) AS acctbal, n.n_name AS nation
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-10-01'
  AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter. The
    returnflag filter is pushed to the lineitem scan (dictionary-encoded
    column → row-group pruning); the quarter filter shrinks orders before
    its shuffle join; nation is broadcast; top-20 via
    TakeOrderedAndProject (no global sort)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").filter(
        _date_window("o_orderdate", date(1996, 10, 1), date(1997, 1, 1))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("custkey", "name", "revenue", "acctbal", "nation")
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(20)
    )


@register(
    "q18_large_orders",
    """
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 200
)
SELECT c.c_name AS name, c.c_custkey AS custkey, o.o_orderkey AS orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       round(o.o_totalprice, 2) AS totalprice,
       round(sum(l.l_quantity), 2) AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY 1, 2, 3, 4, 5
ORDER BY totalprice DESC, orderkey
LIMIT 100
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders above a bulk-quantity
    threshold. The HAVING subquery is a map-side-combined aggregate over
    lineitem only (2 narrow columns read); its survivors semi-join back
    into lineitem BEFORE the orders/customer joins, so the expensive
    joins see only qualifying orders. Top-100 via TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        li.join(big.withColumnRenamed("l_orderkey", "bk"), li["l_orderkey"] == F.col("bk"), "left_semi")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("totalprice").desc(), "orderkey")
        .limit(100)
    )


@register(
    "q4_order_priority",
    """
SELECT o_orderpriority AS priority, count(*) AS order_count
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: the test lineitem has no commit/receipt
    dates, so "late" = shipped >30 days after order date): count orders
    per priority that have at least one late lineitem. The EXISTS becomes
    a LEFT SEMI join whose non-equi ship-date condition is evaluated
    during the join probe; orders is pre-shrunk by the pushed-down date
    range, and lineitem contributes only (l_orderkey, l_shipdate) so the
    scan reads 2 columns. At 100 TB both sides shuffle once on orderkey —
    the semi join never materializes the (order x lineitem) multiset."""
    o = load_table(spark, sf_dir, "orders").filter(
        _date_window("o_orderdate", date(1996, 1, 1), date(1997, 1, 1))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAY")),
            "left_semi",
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("order_count"))
        .orderBy("priority")
    )


@register(
    "q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INT) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. Both nation lookups broadcast (25 rows); supplier joins its
    nation BEFORE touching lineitem so the disjunctive nation-pair
    predicate can half-apply early (suppliers outside both nations are
    dropped pre-shuffle). The only big shuffles are lineitem⨝orders and
    ⨝customer on their natural keys; the pair filter completes after the
    customer-nation broadcast probe."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(*pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q14_promo_revenue",
    """
SELECT round(
         100.0 * sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-03-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from PROMO parts.
    Conditional aggregation (CASE inside sum) over a broadcast join —
    part is the dimension side; the one-month ship-date range is pushed
    to the lineitem scan so the fact side shrinks ~60x before the probe.
    Produces a single row; no shuffle beyond the final 1-group agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        _date_window("l_shipdate", date(1996, 3, 1), date(1996, 4, 1))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_share")
        )
    )


@register(
    "q19_disjunctive_filter",
    """
SELECT CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) AS DOUBLE) AS revenue,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) * 100 AS BIGINT) AS revenue_cents
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 25)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40
       AND l_quantity BETWEEN 20 AND 35)
""",
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive (brand, size,
    quantity) branches. The join stays a plain equi join on partkey with
    the disjunction as a residual filter — Catalyst pushes the
    brand/size half of each branch below the join to the part scan and
    derives l_quantity range bounds for the lineitem scan; the join
    itself broadcasts the (pre-filtered) part side."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 40)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(branch)
        .agg(*money_sum_pair(disc_price(), "revenue"))
    )


@register(
    "sketch_mergeable_distinct",
    """
SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_customers,
       TRUE AS merged_within_3pct
FROM customer
""",
)
def sketch_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE cardinality sketches (Apache Datasketches HLL): one
    sketch per nation over customer keys, then `hll_union_agg` merges the
    25 sketches into a global distinct estimate WITHOUT re-touching the
    base table. This is the 100 TB pattern: materialize per-partition /
    per-day sketch rows once, answer rollup cardinality queries from the
    sketch table at interactive cost (a distinct-count over any nation
    subset is a union of kilobyte sketches, not a re-scan + key shuffle).
    The binary sketches are engine-specific, so the hashable output is
    the exact count plus an in-query certificate that the MERGED
    estimate lands within 3% of it (lgk=14 -> rsd ~0.8%, so 3% is
    >3 sigma); tests additionally bound each per-nation estimate.
    Production at scale runs the sketch path alone — the exact column
    is the verification harness, not the plan."""
    c = load_table(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey", 14).alias("sk")
    )
    merged = per_nation.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk", True)).alias("approx")
    )
    exact = c.agg(F.countDistinct("c_custkey").alias("exact_customers"))
    return exact.crossJoin(F.broadcast(merged)).select(  # 1x1 scalar join
        "exact_customers",
        (
            F.abs(F.col("approx") - F.col("exact_customers"))
            <= 0.03 * F.col("exact_customers")
        ).alias("merged_within_3pct"),
    )


@register(
    "unpivot_part_measures",
    """
SELECT p_partkey, measure, round(value, 2) AS value
FROM (
  SELECT p_partkey,
         CAST(p_size AS DOUBLE) AS size,
         p_retailprice AS retailprice
  FROM part WHERE p_partkey <= 200
) UNPIVOT (value FOR measure IN (size, retailprice))
ORDER BY p_partkey, measure
""",
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long melt): two per-part measures rotated into
    (p_partkey, measure, value) rows — the inverse of the pivot query.
    `DataFrame.unpivot` is a narrow projection (an Expand node: each
    input row emits one row per measure with no shuffle), so it scales
    linearly and keeps column pruning — only the 3 referenced columns
    are read."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").alias("retailprice"),
        )
    )
    return (
        p.unpivot("p_partkey", ["size", "retailprice"], "measure", "value")
        .select("p_partkey", "measure", F.round("value", 2).alias("value"))
        .orderBy("p_partkey", "measure")
    )


@register(
    "outer_join_nation_presence",
    """
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_customers
  FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
  FROM supplier GROUP BY 1
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(c.n_customers, 0) AS n_customers,
       coalesce(s.n_suppliers, 0) AS n_suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
ORDER BY nationkey
""",
)
def outer_join_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: per-nation customer and supplier presence,
    keeping nations that appear on only one side (nulls coalesced to 0).
    Both sides are pre-aggregated to one row per nation BEFORE the outer
    join, so the join input is |nations|-sized regardless of table scale
    — the aggregate-then-outer-join shape that keeps full-outer joins
    viable at 100 TB (outer joins can't broadcast, so shrink first)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


@register(
    "sql_api_region_revenue",
    """
SELECT r.r_name AS region,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) AS DOUBLE) AS revenue,
       CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) * 100 AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, year(o.o_orderdate)
ORDER BY region, o_year
""",
)
def sql_api_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string front door: the same engine surface exposed via
    `spark.sql` over registered temp views — users who write ANSI SQL
    instead of DataFrame chains get the identical Catalyst plan
    (broadcast dims, one fact shuffle). The reference has no SQL parser
    at all (SURVEY.md §3: queries are CLI task names); this query pins
    our engine's parser path end-to-end against the DuckDB oracle."""
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlapi_{t}")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(c, n, r) */
               r.r_name AS region,
               CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                              AS DECIMAL(16,4))), 2) AS DOUBLE) AS revenue,
               CAST(round(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(12,2)))
                              AS DECIMAL(16,4))), 2) * 100 AS BIGINT) AS revenue_cents
        FROM sqlapi_lineitem l
        JOIN sqlapi_orders o ON l.l_orderkey = o.o_orderkey
        JOIN sqlapi_customer c ON o.o_custkey = c.c_custkey
        JOIN sqlapi_nation n ON c.c_nationkey = n.n_nationkey
        JOIN sqlapi_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, year(o.o_orderdate)
        ORDER BY region, o_year
        """
    )


@register(
    "equidepth_histogram_prices",
    """
WITH r AS (SELECT CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
                  row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
                  count(*) OVER () AS n
           FROM orders)
SELECT CAST(((rnk - 1) * 8) // n AS INT) AS bucket,
       count(*) AS n_rows,
       CAST(round(min(o_totalprice), 2) AS DOUBLE) AS lo,
       CAST(round(max(o_totalprice), 2) AS DOUBLE) AS hi,
       CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS value_sum,
       CAST(round(sum(o_totalprice), 2) * 100 AS BIGINT) AS value_sum_cents
FROM r GROUP BY 1 ORDER BY 1
""",
)
def equidepth_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-bucket equi-depth histogram of order prices via the
    distributed global-rank operator (range repartition + per-partition
    offsets — never a single-partition sort; operators/relational.py
    `global_rank`). Bucket assignment is pure integer math, so the
    NTILE-free oracle formulation hash-matches exactly. The money column
    is pre-cast to exact DECIMAL(12,2) (plans/money.py: lossless) and the
    ~9e8-magnitude value_sum additionally emits a BIGINT cents column so
    it compares exactly across engines instead of through the float band
    (r12 mutation-M08 class)."""
    from ..operators.relational import equidepth_histogram

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice", money("o_totalprice")
    )
    h = equidepth_histogram(orders, "o_totalprice", "o_orderkey", n_buckets=8)
    return h.select(
        "bucket",
        "n_rows",
        F.col("lo").cast("double").alias("lo"),
        F.col("hi").cast("double").alias("hi"),
        *cents_pair(F.col("value_sum"), "value_sum"),
    )


@register(
    "csv_sink_roundtrip",
    """
SELECT n_nationkey, n_name, n_regionkey
FROM nation ORDER BY n_name
""",
)
def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted single-file CSV sink round-trip (S8/S9, reference
    DataFrameSaver.scala:8-25): write nation through
    save_sorted_csv_single (distributed sort, then coalesce(1) so the
    order survives into the single output file), read the file back with
    the original schema, and return the rows. The batch oracle certifies
    the write path's content — a dropped header, re-typed column, or
    doubled part file would hash-mismatch. A lost sort would not: the
    hash sorts rows, so the row order of the part file is pinned by
    `tests/test_sources.py::test_sorted_csv_sink_writes_rows_in_sort_order`
    instead. Rows are materialized
    before the temp dir is removed (single-file CSV is small by
    contract; `save_parquet` is the scale path)."""
    import shutil
    import tempfile

    from ..sources.sinks import save_sorted_csv_single

    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = tempfile.mkdtemp(prefix="csv_sink_roundtrip_")
    try:
        path = f"{out}/nation_sorted"
        save_sorted_csv_single(n, path, "n_name")
        back = spark.read.option("header", "true").schema(n.schema).csv(path)
        return local_rows(spark, back.collect(), back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


_BLOOM_WORDS = 1024  # 64 Kib bitmap
_BLOOM_K = 3


def build_bloom_words(keys, n_words: int = _BLOOM_WORDS, k: int = _BLOOM_K) -> list[int]:
    """Build a blocked-bitmap Bloom filter over a key DataFrame column
    as a list of `n_words` 64-bit words, entirely with JVM expressions:
    each key sets `k` bits at xxhash64(key, seed) positions; per-word
    masks are OR-combined by ONE hash aggregate on word index (at most
    `n_words` groups — constant, never data-scaled), and only the tiny
    word table is collected. This is the classic engine-built runtime
    filter (Spark's own `spark.sql.optimizer.runtime.bloomFilter` does
    the same under AQE); building it manually keeps the bitmap
    inspectable and lets callers ship it into any predicate."""
    bits = n_words * 64
    masks = []
    for seed in range(k):
        # shiftleft/shiftright need expression form: the PySpark wrappers
        # only take a Python-int bit count, not a column
        h = f"pmod(xxhash64(key, {seed}), {bits})"
        masks.append(
            keys.select(
                F.expr(f"CAST({h} / 64 AS INT)").alias("w"),
                F.expr(f"shiftleft(1L, CAST({h} % 64 AS INT))").alias("m"),
            )
        )
    union = masks[0]
    for m in masks[1:]:
        union = union.unionByName(m)
    rows = (
        union.groupBy("w")
        .agg(F.expr("bit_or(m)").alias("mask"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["mask"]
    return words


def bloom_might_contain(words: list[int], key_expr: str, k: int = _BLOOM_K):
    """Membership predicate against a broadcast word list: true iff all
    `k` probed bits are set. The word list enters the plan as an array
    LITERAL — no join, no shuffle; codegen folds it into the scan stage,
    so the probe side is filtered during the TABLE SCAN, before any
    exchange. False positives possible, false negatives never — callers
    must re-verify survivors with the exact join. `key_expr` is a SQL
    expression string naming the probe key."""
    bits = len(words) * 64
    arr = F.lit(words)
    cond = F.lit(True)
    for seed in range(k):
        h = f"pmod(xxhash64({key_expr}, {seed}), {bits})"
        word = F.element_at(arr, F.expr(f"CAST({h} / 64 AS INT) + 1"))
        bit = word.bitwiseAND(F.expr(f"shiftleft(1L, CAST({h} % 64 AS INT))"))
        cond = cond & (bit != 0)
    return cond


@register(
    "bloom_semi_join_revenue",
    """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) AS DOUBLE) AS revenue,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))), 2) * 100 AS BIGINT) AS revenue_cents
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 250000)
GROUP BY 1 ORDER BY 1
""",
)
def bloom_semi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter (Bloom) pruned semi-join: revenue of lineitems
    belonging to big-ticket orders. The build side's keys are folded
    into a 64 Kib Bloom bitmap (one constant-size aggregate + a
    1024-row collect); the probe scan applies `bloom_might_contain`
    BEFORE the shuffle, so only candidate rows pay exchange cost; the
    exact semi-join then removes Bloom false positives, making the
    result identical to the plain IN-subquery the oracle states.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling ~selectivity of it: the bitmap is O(1) size,
    build cost is one pass over the (small) dim side, and the probe
    filter is pure codegen arithmetic in the scan stage. Spark's AQE
    can inject the same filter automatically
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`); doing it
    explicitly certifies the mechanism and keeps it available where the
    optimizer declines. tests/test_plans.py asserts the filter
    actually prunes and never drops a true match."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    build = orders.filter(F.col("o_totalprice") > 250000).select(
        F.col("o_orderkey").alias("key")
    )
    words = build_bloom_words(build)
    candidates = lineitem.filter(
        bloom_might_contain(words, "l_orderkey")
    )
    exact = candidates.join(
        build.select(F.col("key").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "left_semi",
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            *money_sum_pair(disc_price(), "revenue"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "skyline_parts",
    """
SELECT p.p_partkey, round(p.p_retailprice, 2) AS price,
       CAST(p.p_size AS INT) AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
)
ORDER BY price, size, p.p_partkey
""",
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts minimizing (retail price,
    size): no other part is at-most-equal on both dims and strictly
    better on one. The oracle states dominance from first principles
    (NOT EXISTS); the operator (operators/relational.py skyline_2d)
    computes it with one per-distinct-price aggregate, a distributed
    running min over price (global_cumsum machinery — range partitions
    + collected per-partition prefix, no global sort), and a semi-join
    back — the O(n log n) sort-based 2-D skyline, distributed."""
    from ..operators.relational import skyline_2d

    part = load_table(spark, sf_dir, "part")
    return (
        skyline_2d(part, "p_retailprice", "p_size")
        .select(
            "p_partkey",
            F.round("p_retailprice", 2).alias("price"),
            F.col("p_size").cast("int").alias("size"),
        )
        .orderBy("price", "size", "p_partkey")
    )


@register(
    "customer_rfm_segments",
    """
WITH mx AS (SELECT max(o_orderdate) AS dmax FROM orders),
base AS (
  SELECT o_custkey AS custkey,
         CAST(CAST((SELECT dmax FROM mx) AS DATE) - CAST(max(o_orderdate) AS DATE) AS INT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT *,
         CAST(ntile(4) OVER (ORDER BY recency_days, custkey) AS INT) AS r,
         CAST(ntile(4) OVER (ORDER BY frequency DESC, custkey) AS INT) AS f,
         CAST(ntile(4) OVER (ORDER BY monetary DESC, custkey) AS INT) AS m
  FROM base
)
SELECT custkey, recency_days, frequency, monetary, r, f, m,
       CASE WHEN r = 1 AND f = 1 THEN 'champion'
            WHEN r = 4 AND f >= 3 THEN 'at_risk'
            WHEN f = 1 THEN 'loyal'
            WHEN r = 1 THEN 'recent'
            ELSE 'regular' END AS segment
FROM scored ORDER BY custkey
""",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles with
    deterministic key tie-breaks, then rule-based segments) — the
    classic customer-analytics shape: one grouped aggregate over the
    fact table, three ntile windows over the ALREADY-AGGREGATED
    per-customer table (cardinality = customers, not orders — the
    windows never see the fact table), and a broadcast scalar anchor
    for recency. Quartile 1 = best in every dimension. If the customer
    table itself outgrows one window partition (1e9+ customers), each
    ntile swaps for the distributed `global_rank` machinery
    (operators/relational.py) bucketed into quartiles — same outputs,
    no global sort."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("dmax"))
    base = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "custkey",
            F.datediff("dmax", "last_order").cast("int").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    r = F.ntile(4).over(Window.orderBy("recency_days", "custkey")).cast("int")
    f = F.ntile(4).over(
        Window.orderBy(F.desc("frequency"), "custkey")
    ).cast("int")
    m = F.ntile(4).over(Window.orderBy(F.desc("monetary"), "custkey")).cast("int")
    scored = base.select("*", r.alias("r"), f.alias("f"), m.alias("m"))
    seg = (
        F.when((F.col("r") == 1) & (F.col("f") == 1), "champion")
        .when((F.col("r") == 4) & (F.col("f") >= 3), "at_risk")
        .when(F.col("f") == 1, "loyal")
        .when(F.col("r") == 1, "recent")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg).orderBy("custkey")


@register(
    "cdc_apply_changes",
    """
WITH changes AS (
  SELECT s_suppkey AS key,
         CASE WHEN s_suppkey % 7 = 0 THEN 'D'
              WHEN s_suppkey % 3 = 0 THEN 'U' ELSE 'I' END AS op,
         CASE WHEN s_suppkey % 3 = 0 AND s_suppkey % 7 <> 0
              THEN round(s_acctbal + 500.0, 2) ELSE round(s_acctbal, 2) END
           AS acctbal,
         2 AS version
  FROM supplier WHERE s_suppkey % 2 = 0
),
snapshot AS (
  SELECT s_suppkey AS key, round(s_acctbal, 2) AS acctbal, 1 AS version
  FROM supplier
)
SELECT s.key,
       round(coalesce(c.acctbal, s.acctbal), 2) AS acctbal,
       CAST(coalesce(c.version, 1) AS INT) AS version
FROM snapshot s LEFT JOIN changes c USING (key)
WHERE c.op IS NULL OR c.op <> 'D'
ORDER BY s.key
""",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY CHANGES (MERGE with deletes — the semantics
    upsert_parquet lacks): a deterministic change batch over even
    supplier keys carries inserts, updates (+500), and DELETES (keys
    divisible by 7); applying it to the version-1 snapshot keeps the
    latest surviving row per key and removes tombstoned keys entirely.
    Implemented as ONE shuffle: union snapshot + changes tagged by
    (version, priority), max_by-struct per key picks the winner, then a
    tombstone filter — no window sort, no per-op passes, which is what
    keeps CDC replay O(|snapshot| + |changes|) per partition at 100 TB
    (and composes with dynamic partition overwrite for the write-back).
    The oracle states the same semantics declaratively (LEFT JOIN +
    coalesce + anti-delete filter)."""
    supplier = load_table(spark, sf_dir, "supplier")
    snapshot = supplier.select(
        F.col("s_suppkey").alias("key"),
        F.round("s_acctbal", 2).alias("acctbal"),
        F.lit(1).alias("version"),
        F.lit("I").alias("op"),
    )
    even = supplier.filter(F.col("s_suppkey") % 2 == 0)
    op = (
        F.when(F.col("s_suppkey") % 7 == 0, "D")
        .when(F.col("s_suppkey") % 3 == 0, "U")
        .otherwise("I")
    )
    changes = even.select(
        F.col("s_suppkey").alias("key"),
        F.when(
            (F.col("s_suppkey") % 3 == 0) & (F.col("s_suppkey") % 7 != 0),
            F.round(F.col("s_acctbal") + 500.0, 2),
        ).otherwise(F.round("s_acctbal", 2)).alias("acctbal"),
        F.lit(2).alias("version"),
        op.alias("op"),
    )
    merged = (
        snapshot.unionByName(changes)
        .groupBy("key")
        .agg(F.max(F.struct("version", "op", "acctbal")).alias("_top"))
        .select(
            "key",
            F.round(F.col("_top.acctbal"), 2).alias("acctbal"),
            F.col("_top.version").cast("int").alias("version"),
            F.col("_top.op").alias("op"),
        )
    )
    return merged.filter(F.col("op") != "D").drop("op").orderBy("key")


@register(
    "basket_lift_top",
    """
WITH items AS (
  SELECT DISTINCT l_orderkey AS ord, l_partkey % 50 AS item FROM lineitem
),
n AS (SELECT count(DISTINCT ord) AS n_orders FROM items),
supp AS (SELECT item, count(*) AS s FROM items GROUP BY item),
pairs AS (
  SELECT a.item AS x, b.item AS y, count(*) AS s_xy
  FROM items a JOIN items b ON a.ord = b.ord AND a.item < b.item
  GROUP BY 1, 2
)
SELECT x, y, CAST(s_xy AS BIGINT) AS support,
       round(s_xy * 1.0 * n_orders / (sa.s * sb.s), 6) AS lift
FROM pairs JOIN supp sa ON sa.item = x JOIN supp sb ON sb.item = y, n
WHERE s_xy >= 5
ORDER BY lift DESC, x, y LIMIT 25
""",
)
def basket_lift_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift (association-rule mining's
    scoring core): item-group pairs co-purchased in the same order,
    scored by lift = P(x,y) / (P(x)P(y)) and thresholded on support
    first — the support floor is what keeps the pair space tractable at
    scale (classic Apriori pruning: a pair can't be frequent if either
    item isn't). Items are 50-bucketed part keys so pair support clears the
    floor at every test scale. One self-join on the order key, two broadcast
    joins against the (tiny, aggregated) per-item support table, top-k
    as TakeOrderedAndProject."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("ord"),
            (F.col("l_partkey") % 50).alias("item"),
        )
        .distinct()
    )
    n_orders = items.select("ord").distinct().count()
    supp = items.groupBy("item").agg(F.count("*").alias("s"))
    b = items.select(F.col("ord").alias("ord"), F.col("item").alias("y"))
    pairs = (
        items.join(b, "ord")
        .filter(F.col("item") < F.col("y"))
        .groupBy(F.col("item").alias("x"), "y")
        .agg(F.count("*").alias("s_xy"))
        .filter(F.col("s_xy") >= 5)
    )
    sa = supp.select(F.col("item").alias("x"), F.col("s").alias("s_x"))
    sb = supp.select(F.col("item").alias("y"), F.col("s").alias("s_y"))
    return (
        pairs.join(F.broadcast(sa), "x")
        .join(F.broadcast(sb), "y")
        .select(
            "x", "y",
            F.col("s_xy").alias("support"),
            F.round(
                F.col("s_xy") * F.lit(float(n_orders)) / (F.col("s_x") * F.col("s_y")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "x", "y")
        .limit(25)
    )
