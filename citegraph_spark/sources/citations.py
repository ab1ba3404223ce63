"""Citation-graph text loaders (SURVEY.md §2.1 S1-S6).

The reference parses whitespace-delimited text with RDD lambdas
(reference DataFrameLoader.scala:28-74). We express the same semantics as
DataFrame column expressions over a `(value STRING)` frame of lines, so the
whole load is JVM-side, codegen'd, and visible to Catalyst.

The lines come from Hadoop's `textFile(path, defaultParallelism)`, wrapped
as a Dataset on the JVM (no Python RDD, no Python worker), not from
`spark.read.text`. The file-source reader packs files into partitions of
at least `spark.sql.files.openCostInBytes` (4 MB by default), so it parses
a smaller file, the 3.9 MB hep-th citation list among them, in one task
on any number of cores. `textFile` splits each file over the session's
task slots; at cluster scale its split is still the block size. Both
readers go through Hadoop's line reader, so paths, globs, directories,
CRLF and compression codecs behave alike. No session-wide setting is
changed: a global `openCostInBytes` would re-plan every file scan.

Parsing rules:

- `#` comment lines and blank lines dropped        (S4)
- tokens split on whitespace, trimmed, cast to int (S5, F1/F2/F5)
- rows with nulls dropped                          (P5)
- published dates: year = first 4 chars of yyyy-mm-dd (F3)
- cross-listed id normalization: 9-digit ids starting `11` lose the
  prefix (`11<id>` → `<id>`)                       (F4; DataFrameLoader.scala:64-68)
- dedupe on id, deterministically keeping the MIN year (the reference's
  `dropDuplicates("id")` keeps an arbitrary row — DataFrameLoader.scala:73;
  we make it deterministic, divergence documented in SURVEY.md §7.5)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas


#: The first two tokens of `split(trim(value), '\s+')`. A literal pattern
#: in `regexp_extract` is compiled once per task; `split` compiles its
#: pattern again on every row. A line with fewer than two tokens does not
#: match and yields "" for both.
_TWO_TOKENS = r"^(\S*)\s+(\S*)"


def _lines(spark: SparkSession, path: str) -> DataFrame:
    """`(value STRING)`, one row per line of the text at `path`, read in
    about `defaultParallelism` splits of equal bytes (a file compressed
    with an unsplittable codec, such as gzip, is one split)."""
    sc = spark.sparkContext
    rdd = spark._jsc.textFile(path, sc.defaultParallelism).rdd()
    encoder = spark._jvm.org.apache.spark.sql.Encoders.STRING()
    return DataFrame(spark._jsparkSession.createDataset(rdd, encoder).toDF(), spark)


def _non_comment_lines(lines: DataFrame) -> DataFrame:
    return lines.filter(
        (~F.col("value").contains("#")) & (F.trim(F.col("value")) != "")
    )


def _token(i: int):
    return F.regexp_extract(F.trim(F.col("value")), _TWO_TOKENS, i)


def load_citations(spark: SparkSession, path: str) -> DataFrame:
    """`(from INT, to INT)` directed edge list from whitespace text."""
    lines = _non_comment_lines(_lines(spark, path))
    # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW on a
    # malformed or empty token; null -> na.drop reproduces the
    # reference's drop-bad-rows behavior (DataFrameLoader.scala:37)
    df = lines.select(
        _token(1).try_cast("int").alias("from"),
        _token(2).try_cast("int").alias("to"),
    )
    return df.na.drop()


def normalize_paper_id(col):
    """Cross-listed-paper id fix: 9-digit ids with a `11` prefix are
    duplicates of the un-prefixed id (reference DataFrameLoader.scala:64-68)."""
    s = col.cast("string")
    return (
        F.when(
            (F.length(s) == 9) & s.startswith("11"), F.substring(s, 3, 7)
        )
        .otherwise(s)
        .try_cast("int")
    )


def published_dates_from_lines(lines: DataFrame) -> DataFrame:
    """Shared core of `load_published_dates` over an already-loaded
    `(value STRING)` lines DataFrame: comment/blank filter, whitespace
    tokenize, 11-prefix normalization, year slice, deterministic
    min-year dedupe. Factored out (round-12 mutation audit, mutants
    M02/M03) so the `loader_normalize_ids` oracle exercises THIS code
    instead of an inline copy — loader mutations are now gate-visible."""
    # a one-token line has no date: "" -> null -> dropped
    df = _non_comment_lines(lines).select(
        normalize_paper_id(_token(1)).alias("id"),
        F.substring(_token(2), 1, 4).try_cast("int").alias("year"),
    ).na.drop()
    return df.groupBy("id").agg(F.min("year").alias("year"))


def load_published_dates(spark: SparkSession, path: str) -> DataFrame:
    """`(id INT, year INT)` from `id<TAB>yyyy-mm-dd` text, normalized and
    deduped (deterministic min-year per id)."""
    return published_dates_from_lines(_lines(spark, path))


def load_nodepairs(spark: SparkSession, path: str) -> DataFrame:
    """Precomputed `(year, total_pairs)` totals (reference
    Application.scala:26-32 collects these to the driver; we keep a
    DataFrame and collect only the tiny per-year dict at the call site)."""
    return spark.read.csv(path, schema=schemas.NODEPAIRS, comment="#")
