"""Parquet test-table loaders (TESTDATA.md).

`spark.read.parquet` gives a real FileSourceScanExec, so Catalyst's
predicate pushdown and column pruning reach the scan — unlike the
reference's `createDataFrame(rdd, schema)` LogicalRDD sources, which block
pushdown (SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long via nanosAsLong; truncate to micros
        # with integer DIV (ns values exceed 2^53 — float division would
        # lose precision)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in schemas.TESTDATA_TABLES}


def round_robin(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's shuffle parallelism.
    Two uses, both a shuffle boundary placed on purpose:

    - Widen a narrow scan before expensive per-row work (r13, guide
      §2.6). Spark sizes scan splits as max(openCostInBytes,
      bytes/parallelism), so a small single-file table arrives as 1-3
      partitions and any expensive map pass over it (shingle
      construction, minhash signatures, HOF probes, Python kernels) runs
      nearly serial on a many-core session. Callers opt in ONLY where
      that map work is the measured bottleneck.
    - Sit between a Python kernel and a global sort above it. The sort's
      RangePartitioner samples its input in a job of its own before the
      shuffle write; straight over a `mapInPandas` that sample re-runs
      the kernel. Behind this exchange the sampler reads the kernel's
      shuffle files, so the kernel runs once, and the sort stays
      parallel (unlike `repartition(1)`, which funnels the output
      through one task). `tools/plan_lint.py` flags the missing
      boundary.

    The exchange moves the narrow projection once; at cluster scale
    (inputs >> cores x openCost) the scan is already wide and this is a
    cheap shuffle, never the fact-table re-shuffle guide §2.3 warns
    about. Results are layout-independent (scramble boards) for every
    consumer."""
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartition(n_shuffle)
