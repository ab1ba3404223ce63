"""Frequency sketches: Misra-Gries heavy hitters (mergeable summaries).

Misra & Gries 1982; mergeability per Agarwal, Cormode, Huang, Phillips,
Wei, Yi, "Mergeable Summaries" (PODS'12): two k-counter MG summaries
merge by (1) summing counts per key, (2) if more than k keys survive,
subtracting the (k+1)-th largest count from every key and dropping the
non-positive. The merged summary's undercount stays <= N/(k+1) for N
total stream items — so any item with true frequency > N/(k+1) is
GUARANTEED present, and for every reported item
    est <= true <= est + N/(k+1).

Spark shape (two-level, the same pattern as the HLL rollup in
plans/relational_queries.py):

  stage 1  mapInPandas over the token stream: one MG summary per
           PARTITION (Arrow-batched; per batch an exact value_counts,
           merged into the running summary with the rule above — a batch
           is itself a trivially-exact MG summary). Output: <= k rows
           per partition.
  stage 2  the <= k*P summary rows (a few KB) hash-shuffle to one
           reducer; applyInPandas runs the same merge once more.

At 100 TB the Arrow transfer of stage 1 IS the token stream — that is
the unavoidable cost of a Python-side sketch; everything after stage 1
is O(k * partitions). The exact JVM alternative (explode + groupBy +
top-k) is registered alongside as `heavy_hitters_exact` — the sketch
exists for the single-pass bounded-memory regime where the full
(token, count) map no longer fits a shuffle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_rows


def _mg_merge(counters: dict[str, int], batch: dict[str, int], k: int) -> dict[str, int]:
    """Merge an exact (or MG) summary `batch` into `counters`, keeping
    <= k keys via the Agarwal et al. decrement rule."""
    for key, cnt in batch.items():
        counters[key] = counters.get(key, 0) + int(cnt)
    if len(counters) > k:
        # (k+1)-th largest count is the decrement
        dec = sorted(counters.values(), reverse=True)[k]
        counters = {key: c - dec for key, c in counters.items() if c - dec > 0}
    return counters


def misra_gries_topn(
    tokens_df: DataFrame, col: str = "tok", k: int = 64, topn: int = 20
) -> DataFrame:
    """Approximate top-`topn` heavy hitters of the token stream with a
    k-counter Misra-Gries summary per partition, merged once.

    Output: (tok, est_cnt) sorted by est_cnt desc, tok asc — est_cnt is
    a LOWER bound on the true count, short by at most N/(k+1).
    """
    summary_schema = "tok string, cnt long"

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf[col].value_counts()
            counters = _mg_merge(counters, vc.to_dict(), k)
        yield pd.DataFrame(
            {"tok": list(counters.keys()), "cnt": list(counters.values())}
        )

    def mg_final(pdf: pd.DataFrame) -> pd.DataFrame:
        counters: dict[str, int] = {}
        for tok, cnt in zip(pdf["tok"], pdf["cnt"]):
            counters = _mg_merge(counters, {tok: int(cnt)}, k)
        out = pd.DataFrame({"tok": list(counters.keys()), "est_cnt": list(counters.values())})
        return out.sort_values(["est_cnt", "tok"], ascending=[False, True]).head(topn)

    partials = tokens_df.select(F.col(col).alias(col)).mapInPandas(
        mg_partition, summary_schema
    )
    merged = partials.groupBy().applyInPandas(mg_final, "tok string, est_cnt long")
    return merged.orderBy(F.desc("est_cnt"), "tok")


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005 — public)
# --------------------------------------------------------------------------


def _cms_buckets(key: str, depth: int, width: int) -> list[int]:
    """All `depth` bucket indices for a key from ONE md5 digest —
    deterministic across processes, partitions, and engines (no
    PYTHONHASHSEED dependence). Rows derive by Kirsch-Mitzenmacher
    double hashing, bucket_r = (h1 + r·h2) mod width, from the two
    8-byte digest halves — one interpreter-level hash per unique key
    instead of one per (key, row), which profiled as the hot loop of
    the sketch builder."""
    d = hashlib.md5(key.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stepping
    return [(h1 + r * h2) % width for r in range(depth)]


def count_min_estimates(
    tokens_df: DataFrame,
    query_keys: list[str],
    col: str = "tok",
    depth: int = 5,
    width: int = 2048,
) -> DataFrame:
    """Count-Min sketch point estimates for `query_keys` over the token
    stream: depth x width counter matrix, est(key) = min over rows of
    the key's bucket. One-sided error: est >= true always, and
    est <= true + 2N/width with probability >= 1 - 2^-depth.

    Spark shape (mergeable-summary two-level, same as Misra-Gries
    above): mapInPandas builds ONE sketch per partition (exact
    value_counts per Arrow batch folded into the matrix), emitted as
    depth*width (cell_idx, cnt) rows; cell-wise summation — CMS merge IS
    vector addition — happens in a single JVM-side groupBy(cell).sum,
    so the reduce stage never touches Python. The queried keys are then
    estimated from the merged matrix in one tiny driver-side pass.
    State: depth*width*8 bytes per partition (80 KB at 5x2048) —
    constant in N, the point of a sketch at 100 TB.
    """
    spark = tokens_df.sparkSession

    def sketch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        m = np.zeros((depth, width), dtype=np.int64)
        rows_idx = np.arange(depth)
        for pdf in batches:
            for key, cnt in pdf[col].value_counts().items():
                m[rows_idx, _cms_buckets(str(key), depth, width)] += int(cnt)
        flat = m.ravel()
        nz = np.flatnonzero(flat)
        yield pd.DataFrame({"cell": nz.astype("int64"), "cnt": flat[nz]})

    cells = (
        tokens_df.select(F.col(col).alias(col))
        .mapInPandas(sketch_partition, "cell long, cnt long")
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = {int(r["cell"]): int(r["cnt"]) for r in cells.collect()}
    rows = []
    for key in query_keys:
        est = min(
            merged.get(r * width + b, 0)
            for r, b in enumerate(_cms_buckets(key, depth, width))
        )
        rows.append((key, est))
    return local_rows(spark, rows, "tok string, est_cnt long").orderBy(
        F.desc("est_cnt"), "tok"
    )
