"""Storage-layout query registrations: partitioned/z-ordered/upserted
parquet, ORC and JSON-lines round-trips.

These certify the WRITE paths in `sources/sinks.py` end-to-end (the same
way `csv_sink_roundtrip` certifies S8/S9, reference
DataFrameSaver.scala:8-25): each query writes through the sink under
test, reads the files back, and returns rows a DuckDB oracle recomputes
from the ORIGINAL table — a dropped partition, re-typed column, lost
merge, or wrong z-key bit math hash-mismatches.

Scale notes are on the sinks themselves (sinks.py); the layout-dependent
EFFECTS (partition pruning, row-group skipping) are asserted on query
plans in tests/test_sources.py and tests/test_storage_queries.py — an
oracle can only certify values, not file layout.

All temp output is written under a per-query `tempfile.mkdtemp` and
removed in `finally`; results are materialized before cleanup (small by
construction — aggregates or ≤ a few hundred rows).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_rows
from ..sources.tables import load_table
from .entry_queries import register
from .money import money, money_sum_pair


def _materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Pin rows driver-side so the backing temp files can be deleted."""
    return local_rows(spark, df.collect(), df.schema)


@register(
    "parquet_partitioned_roundtrip",
    """
SELECT CAST(month(o_orderdate) AS INT) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) * 100 AS BIGINT) AS revenue_cents
FROM orders
WHERE year(o_orderdate) = 1995
GROUP BY 1 ORDER BY 1
""",
)
def parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet round-trip: write orders partitioned by
    order year (the layout a 100 TB fact table would use), read the
    directory back, and aggregate ONE year. The read-back filter prunes
    to a single partition directory (PartitionFilters in the scan, plan
    asserted in tests); the oracle recomputes from the raw table, so a
    row landing in the wrong partition or a partition column losing its
    value in the directory-encoding round-trip hash-mismatches."""
    from ..sources.sinks import save_parquet

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = tempfile.mkdtemp(prefix="parquet_part_rt_")
    try:
        save_parquet(orders, f"{out}/orders", partition_by=["o_year"])
        back = spark.read.parquet(f"{out}/orders").filter(F.col("o_year") == 1995)
        res = (
            back.groupBy(F.month("o_orderdate").alias("month"))
            .agg(
                F.count("*").alias("n_orders"),
                *money_sum_pair(money("o_totalprice"), "revenue"),
            )
            .orderBy("month")
        )
        return _materialize(spark, res)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "parquet_upsert_merge",
    """
WITH updates AS (
  SELECT s_suppkey, round(s_acctbal + 100.0, 2) AS s_acctbal, 2 AS version
  FROM supplier WHERE s_suppkey % 3 = 0
)
SELECT s.s_suppkey,
       round(coalesce(u.s_acctbal, s.s_acctbal), 2) AS s_acctbal,
       CAST(coalesce(u.version, 1) AS INT) AS version
FROM supplier s LEFT JOIN updates u USING (s_suppkey)
ORDER BY s_suppkey
""",
)
def parquet_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE round-trip (sinks.upsert_parquet): seed a
    keyed snapshot at version 1, upsert a higher-version batch touching
    every third key, read the merged table back. The oracle states merge
    semantics declaratively (LEFT JOIN + coalesce), so a lost update,
    duplicated key, or wrong version-precedence hash-mismatches. The
    sink's dedup is a single max_by-struct shuffle — no window sort —
    which is what keeps MERGE viable per-partition at 100 TB."""
    from ..sources.sinks import upsert_parquet

    supplier = load_table(spark, sf_dir, "supplier")
    base = supplier.select(
        "s_suppkey",
        F.round("s_acctbal", 2).alias("s_acctbal"),
        F.lit(1).alias("version"),
    )
    updates = (
        supplier.filter(F.col("s_suppkey") % 3 == 0)
        .select(
            "s_suppkey",
            F.round(F.col("s_acctbal") + 100.0, 2).alias("s_acctbal"),
            F.lit(2).alias("version"),
        )
    )
    out = tempfile.mkdtemp(prefix="parquet_upsert_")
    try:
        path = f"{out}/supplier_state"
        upsert_parquet(spark, base, path, ["s_suppkey"], "version")
        upsert_parquet(spark, updates, path, ["s_suppkey"], "version")
        res = (
            spark.read.parquet(path)
            .select(
                "s_suppkey",
                F.round("s_acctbal", 2).alias("s_acctbal"),
                F.col("version").cast("int").alias("version"),
            )
            .orderBy("s_suppkey")
        )
        return _materialize(spark, res)
    finally:
        shutil.rmtree(out, ignore_errors=True)


_ZBITS = 8

# DuckDB bit-interleave replay of sinks.zorder_key(bits=8): the z-key is
# a sum of disjoint bit contributions, so arithmetic + replaces bit-or.
_ZKEY_SQL = " + ".join(
    f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
    for i in range(_ZBITS)
)


@register(
    "parquet_zorder_roundtrip",
    f"""
WITH pts AS (
  SELECT l_orderkey, l_linenumber,
         l_partkey % 256 AS x, l_suppkey % 256 AS y
  FROM lineitem
),
keyed AS (SELECT *, CAST({_ZKEY_SQL} AS BIGINT) AS zkey FROM pts)
SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, zkey
FROM keyed
WHERE x BETWEEN 0 AND 15 AND y BETWEEN 0 AND 15
ORDER BY zkey, l_orderkey, l_linenumber
""",
)
def parquet_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout round-trip: key lineitem points by the Morton
    interleave of two bounded dims (sinks.zorder_key), write
    range-partitioned + sorted by zkey (sinks.save_sorted_parquet), read
    back, and select a 2-D square. The oracle replays the interleave
    bit-for-bit in SQL, certifying the key math; the LAYOUT payoff (the
    square touches few files / row groups because z-sorting gives both
    dims locality) is asserted on file min/max stats in
    tests/test_sources.py — 100 TB scans prune on exactly those stats."""
    from ..sources.sinks import save_sorted_parquet, zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        (F.col("l_partkey") % 256).cast("long").alias("x"),
        (F.col("l_suppkey") % 256).cast("long").alias("y"),
    )
    keyed = li.withColumn("zkey", zorder_key(F.col("x"), F.col("y"), bits=_ZBITS))
    out = tempfile.mkdtemp(prefix="parquet_zorder_")
    try:
        save_sorted_parquet(keyed, f"{out}/li_z", ["zkey"], target_partitions=8)
        back = spark.read.parquet(f"{out}/li_z")
        res = (
            back.filter(F.col("x").between(0, 15) & F.col("y").between(0, 15))
            .select("l_orderkey", "l_linenumber", "x", "y", "zkey")
            .orderBy("zkey", "l_orderkey", "l_linenumber")
        )
        return _materialize(spark, res)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "orc_sink_roundtrip",
    """
SELECT n_nationkey, n_name, n_regionkey,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(c_acctbal), 2) AS total_acctbal
FROM nation JOIN customer ON c_nationkey = n_nationkey
GROUP BY 1, 2, 3 ORDER BY n_nationkey
""",
)
def orc_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip: write customer to ORC (Spark's other
    first-class columnar format — same predicate-pushdown and
    column-pruning contract as parquet), read it back, join to nation
    and aggregate. The oracle recomputes from the original parquet, so
    any type coercion or value drift through the ORC encode/decode
    hash-mismatches (DECIMAL/DATE round-tripping is where ORC writers
    historically diverged)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        customer.write.mode("overwrite").orc(f"{out}/customer")
        back = spark.read.orc(f"{out}/customer")
        res = (
            nation.join(back, back.c_nationkey == nation.n_nationkey)
            .groupBy("n_nationkey", "n_name", "n_regionkey")
            .agg(
                F.count("*").alias("n_customers"),
                F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            )
            .orderBy("n_nationkey")
        )
        return _materialize(spark, res)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "json_sink_roundtrip",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) * 100 AS BIGINT) AS revenue_cents,
       CAST(min(o_orderdate) AS VARCHAR) AS first_date
FROM orders WHERE o_orderstatus = 'O'
GROUP BY 1 ORDER BY 1
""",
)
def json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round-trip: write open orders as
    newline-delimited JSON, read back with the ORIGINAL schema applied
    (schema-on-read — the 100 TB contract for semi-structured landing
    zones is an explicit schema, never inference, which costs a full
    extra pass), then aggregate. DATE and DECIMAL-ish DOUBLE columns
    cross the text encoding; the oracle recomputes from parquet, so any
    lossy serialization hash-mismatches."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    out = tempfile.mkdtemp(prefix="json_rt_")
    try:
        orders.write.mode("overwrite").json(f"{out}/orders")
        back = spark.read.schema(orders.schema).json(f"{out}/orders")
        res = (
            back.groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                *money_sum_pair(money("o_totalprice"), "revenue"),
                F.min("o_orderdate").cast("string").alias("first_date"),
            )
            .orderBy("o_orderpriority")
        )
        return _materialize(spark, res)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "bucketed_join_roundtrip",
    """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_quantity), 2) AS total_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
""",
)
def bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join round-trip: write lineitem and orders
    bucketed+sorted on the join key (8 buckets), join the bucketed
    tables with broadcast disabled, and aggregate. The query SELF-ASSERTS
    the layout payoff — it raises if the join plan contains an Exchange —
    so the sweep certifies both values (oracle: plain join-agg on the
    originals) and the shuffle-free physical plan. Bucketing is THE
    repeatedly-joined-fact-table layout at 100 TB: the shuffle is paid
    once at write, every subsequent join on the key is exchange-free."""
    import contextlib
    import io
    import uuid

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    out = tempfile.mkdtemp(prefix="bucketed_join_")
    tag = uuid.uuid4().hex[:8]
    t_li, t_o = f"bj_li_{tag}", f"bj_o_{tag}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name, df, key in ((t_li, li, "l_orderkey"), (t_o, o, "o_orderkey")):
            (
                df.write.mode("overwrite")
                .option("path", f"{out}/{name}")
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(t_li).join(
            spark.table(t_o), F.col("l_orderkey") == F.col("o_orderkey")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        if "Exchange" in buf.getvalue():
            raise RuntimeError("bucketed join planned a shuffle Exchange")
        res = (
            j.groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_items"),
                F.round(F.sum("l_quantity"), 2).alias("total_qty"),
            )
            .orderBy("o_orderstatus")
        )
        return _materialize(spark, res)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in (t_li, t_o):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(out, ignore_errors=True)


@register(
    "parquet_schema_evolution",
    """
WITH unioned AS (
  SELECT n_nationkey, n_name, NULL AS n_comment_len FROM nation
  WHERE n_nationkey % 2 = 0
  UNION ALL
  SELECT n_nationkey, n_name, CAST(length(n_name) AS INT) AS n_comment_len
  FROM nation WHERE n_nationkey % 2 = 1
)
SELECT n_nationkey, n_name, n_comment_len FROM unioned ORDER BY n_nationkey
""",
)
def parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round-trip: two writer generations land in one
    directory — generation 1 without a column, generation 2 with a new
    INT column — and `mergeSchema` reconciles them on read, null-filling
    the old files. This is the 100 TB schema-drift contract: additive
    columns must be readable across the whole history without rewriting
    old partitions. (mergeSchema costs a footer read per file, so
    production tables pin the merged schema in a catalog; the capability
    under test is the null-fill reconciliation itself.) The oracle
    states the expected reconciliation as a UNION with explicit NULLs —
    a type conflict or dropped column hash-mismatches."""
    nation = load_table(spark, sf_dir, "nation")
    gen1 = nation.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey", "n_name"
    )
    gen2 = nation.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey",
        "n_name",
        F.length("n_name").cast("int").alias("n_comment_len"),
    )
    out = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        gen1.write.mode("overwrite").parquet(f"{out}/t/gen=1")
        gen2.write.mode("overwrite").parquet(f"{out}/t/gen=2")
        back = (
            spark.read.option("mergeSchema", "true")
            .parquet(f"{out}/t")
            .select("n_nationkey", "n_name", "n_comment_len")
            .orderBy("n_nationkey")
        )
        return _materialize(spark, back)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@register(
    "xml_sink_roundtrip",
    """
SELECT n_regionkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(n_name) AS VARCHAR) AS first_name
FROM nation GROUP BY 1 ORDER BY 1
""",
)
def xml_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source round-trip (Spark 4's built-in XML data source —
    spark-xml folded into core): write the nation dimension as
    row-tagged XML, read it back with the ORIGINAL schema applied (same
    schema-on-read contract as the JSON round-trip: explicit schema,
    never an inference pass), aggregate. The oracle recomputes from
    parquet, so any lossy text serialization of keys or names
    hash-mismatches. XML completes the text-format matrix (CSV, JSON
    lines, XML) for interop with legacy landing zones."""
    nation = load_table(spark, sf_dir, "nation")
    out = tempfile.mkdtemp(prefix="xml_rt_")
    try:
        (
            nation.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "nations")
            .option("rowTag", "nation")
            .save(f"{out}/nation")
        )
        back = (
            spark.read.schema(nation.schema)
            .format("xml")
            .option("rowTag", "nation")
            .load(f"{out}/nation")
        )
        res = (
            back.groupBy("n_regionkey")
            .agg(
                F.count("*").alias("n"),
                F.min("n_name").cast("string").alias("first_name"),
            )
            .orderBy("n_regionkey")
        )
        return _materialize(spark, res)
    finally:
        shutil.rmtree(out, ignore_errors=True)
