"""Distributed k-means (Lloyd's algorithm) over an embedding column.

The clustering pass a curation pipeline needs (semantic dedup à la
SemDeDup — Abbas et al. 2023, topic bucketing, and the trained coarse
quantizer for IVF similarity search, cf. functions/similarity.py).

Spark-first shape, no RDDs:
- Centroids are tiny (k × dim floats) — they live on the driver and are
  broadcast each round; the data stays distributed and is never
  collected.
- Assignment is one Arrow-batched numpy pass per partition
  (`mapInPandas`): argmax of query·centroidᵀ — a BLAS matmul, not a
  per-row UDF.
- The update step is DataFrame aggregation: posexplode the vector to
  (cell, dim_idx, val) and average per (cell, dim_idx) — map-side
  partial aggregation reduces each partition to at most k × dim rows
  before the shuffle, so shuffle volume is O(partitions × k × dim),
  independent of row count.
- Seeding is deterministic (the k vectors with smallest md5-bucketed
  ids): reproducible across runs/engines, no RNG state.

At 100 TB: every round is one narrow pass + one bounded shuffle; the
driver holds only k × dim floats. Convergence in a handful of rounds is
typical for coarse quantizers (IVF needs rough cells, not optimality).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import cut_lineage

__all__ = ["kmeans_fit", "kmeans_assign", "kmeans_summary"]


def _seed_centroids(
    emb: DataFrame, k: int, id_col: str, vec_col: str
) -> np.ndarray:
    """Deterministic seeds: vectors of the k ids with smallest
    (md5-bucket, id) — an engine-portable pseudo-random draw that avoids
    the pathological 'first k rows of one file' seeding."""
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    rows = (
        emb.select(id_col, vec_col, h.cast("bigint").alias("_h"))
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    return np.array([r[1] for r in rows], dtype=np.float64)


def kmeans_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, sq_dist): nearest centroid per vector by Euclidean
    distance. One broadcast + one vectorized pass; narrow, no shuffle."""
    spark = emb.sparkSession
    b_cents = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = b_cents.value  # (k, dim)
        c_sq = (c * c).sum(axis=1)  # (k,)
        for pdf in it:
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            # ||v - c||^2 = ||v||^2 - 2 v·c + ||c||^2 ; argmin over c
            d2 = (v * v).sum(axis=1, keepdims=True) - 2.0 * (v @ c.T) + c_sq
            cell = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cell": cell.astype(np.int32),
                    "sq_dist": np.maximum(d2[np.arange(len(cell)), cell], 0.0),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        batches, schema="id bigint, cell int, sq_dist double"
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 10,
    max_iter: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, DataFrame]:
    """Lloyd's iterations until centroid shift < tol or max_iter.

    Returns (centroids ndarray (k, dim), final assignment DataFrame
    (id, cell, sq_dist)). Empty cells keep their previous centroid."""
    cents = _seed_centroids(emb, k, id_col, vec_col)
    emb = emb.select(id_col, vec_col)
    spark = emb.sparkSession

    for _ in range(max_iter):
        # assign + partial-sum in ONE Arrow pass: each batch emits at most
        # k rows of per-cell (count, sum-vector) — the shuffle to the
        # final aggregate is O(partitions × k), never O(rows), and the
        # vectors are neither joined back nor re-shuffled
        b_cents = spark.sparkContext.broadcast(cents)

        def partials(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c = b_cents.value
            c_sq = (c * c).sum(axis=1)
            acc = np.zeros_like(c)
            cnt = np.zeros(c.shape[0], dtype=np.int64)
            for pdf in it:
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
                )
                d2 = (v * v).sum(axis=1, keepdims=True) - 2.0 * (v @ c.T) + c_sq
                cell = d2.argmin(axis=1)
                np.add.at(acc, cell, v)
                np.add.at(cnt, cell, 1)
            nz = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {
                    "cell": nz.astype(np.int32),
                    "n": cnt[nz],
                    "s": [acc[i].tolist() for i in nz],
                }
            )

        rows = (
            emb.mapInPandas(
                partials, schema="cell int, n bigint, s array<double>"
            )
            .groupBy("cell")
            .agg(
                F.sum("n").alias("n"),
                *[
                    F.sum(F.element_at("s", i + 1)).alias(f"s{i}")
                    for i in range(cents.shape[1])
                ],
            )
            .collect()
        )
        new_cents = cents.copy()
        for r in rows:
            if r["n"] > 0:
                new_cents[r["cell"]] = (
                    np.array([r[f"s{i}"] for i in range(cents.shape[1])])
                    / r["n"]
                )
        shift = float(np.abs(new_cents - cents).max())
        cents = new_cents
        if shift < tol:
            break

    return cents, kmeans_assign(emb, cents, id_col, vec_col)


def kmeans_summary(
    emb: DataFrame,
    k: int = 10,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster size and inertia (sum of squared distances) — the
    one-DataFrame view of a fitted clustering."""
    _, assign = kmeans_fit(emb, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    return (
        assign.groupBy("cell")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum("sq_dist"), 4).alias("inertia"),
        )
        .orderBy("cell")
    )


def _kcenter_dist_expr(center):
    """Euclidean distance from `_v` to the literal `center`, built as ONE
    SQL string (r13 optimization, guide §4): the Column-API form
    (F.array of d lits + a zip_with closure + a fold closure) cost ~d+6
    Py4J round-trips per selected center. repr() + D-suffix literals
    round-trip float64 exactly, so the Catalyst expression is identical."""
    from pyspark.sql import functions as F

    lits = ", ".join(f"{float(x)!r}D" for x in center)
    return F.expr(
        f"sqrt(aggregate(zip_with(_v, array({lits}), "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
    )


def kcenter_greedy(
    df,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Gonzalez (1985) greedy k-center — the classic coreset-selection /
    diversity-sampling primitive for training-data curation: pick the
    point farthest from everything selected so far, k times. The
    selected set 2-approximates the optimal k-center radius.

    Fully distributed and fully deterministic: the running min-distance
    column is updated against ONLY the newest center each round
    (least(mind, dist-to-new-center)), so each of the k rounds is one
    scan + one max_by aggregate — O(k·n·d) work, O(d) driver traffic
    per round, no pairwise matrix anywhere. Ties broken by smallest id,
    distances accumulated in float64 so the DuckDB oracle (unrolled
    CTEs over list_distance) reproduces values bit-comparably.

    Returns the SELECTED rows as a list of (rank, id, radius) tuples
    where radius is the point's min-distance to the previously selected
    set at selection time (the greedy max-min radius sequence, weakly
    decreasing); rank 1 is the deterministic seed (smallest id).
    """
    from pyspark.sql import functions as F

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col).alias("_id"), v.alias("_v")
    ).persist()

    first = base.orderBy("_id").limit(1).collect()[0]
    out = [(1, first["_id"], 0.0)]
    center = first["_v"]

    cur = base.withColumn("_mind", F.lit(float("inf")))
    for rank in range(2, k + 1):
        d = _kcenter_dist_expr(center)
        cur = cur.withColumn("_mind", F.least(F.col("_mind"), d))
        if rank % 4 == 0:
            cur = cur.transform(cut_lineage)
        # farthest-first: max mind, ties to the smallest id
        best = cur.agg(
            F.max_by(
                F.struct("_id", "_v", "_mind"),
                F.struct(F.col("_mind"), -F.col("_id")),
            ).alias("b")
        ).select("b.*").collect()[0]
        out.append((rank, best["_id"], float(best["_mind"])))
        center = best["_v"]
    base.unpersist()
    return out


def _pca_step_plan(base, vec: list[float], d: int):
    """One power-iteration step over the cached `_v` projection: the
    fold-dot is projected ONCE per row (higher-order functions are not
    CSE'd across aggregates — measured 1.5x on the whole step), then the
    d+1 sums are ONE struct-wrapped aggregate.

    Everything is built as two SQL strings (r13 optimization, guide §4 —
    the Python boundary): the previous per-element Column-API
    construction (F.array of d lits, two lambda closures, d+1 aggregate
    calls) cost ~1 s of driver Py4J round-trips PER ITERATION at d=64,
    dominating the ~0.2 s of actual execution. repr() literals with a D
    suffix round-trip float64 exactly (shortest-repr parse is
    correctly-rounded), so the Catalyst plan is identical to the old
    expression tree."""
    from pyspark.sql import functions as F

    lits = ", ".join(f"{x!r}D" for x in vec)
    dot_sql = (
        f"aggregate(zip_with(_v, array({lits}), (a, b) -> a * b), "
        "0.0D, (acc, x) -> acc + x)"
    )
    agg_sql = (
        "struct(sum(_dot) as t, "
        + ", ".join(f"sum(_dot * _v[{j}]) as s{j}" for j in range(d))
        + ")"
    )
    return base.select("_v", F.expr(dot_sql).alias("_dot")).agg(
        F.expr(agg_sql).alias("_s")
    )


def pca_power_top1(
    df,
    vec_col: str = "embedding",
    n_iters: int = 12,
):
    """Top principal component by power iteration where every step is
    ONE JVM-side aggregate pass over the cached corpus — no Python in
    the row path and no materialized covariance matrix. Uses the moment
    identity sum((x-mu)((x-mu)·v)) = s - t*mu with s_j = sum(dot*x_j)
    and t = sum(dot), so each iteration is d+1 map-side-combinable sums
    (O(d) driver traffic, O(n·d) work) — the same shape at 100 TB.
    Start vector: the coordinate axis of maximum variance
    (deterministic, never orthogonal to the top component in practice).

    Returns (n_rows, eigenvalue_trajectory, eigenvector, residual) where
    residual = ||C v - lambda v|| / lambda at the final step.
    """
    import math

    from pyspark.sql import functions as F

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(v.alias("_v")).persist()
    d = len(base.first()["_v"])

    # 2d+1 aggregates built as ONE struct-wrapped SQL string (r13
    # optimization, guide §4 — the Python boundary): per-column
    # pyspark.sql.functions calls cost one Py4J round-trip each (~130
    # driver round-trips here, ~1 s at d=64); the string parses JVM-side
    # into the identical Catalyst aggregates in one call.
    stats_sql = "struct(count(*) as n, " + ", ".join(
        [f"avg(_v[{j}]) as m{j}" for j in range(d)]
        + [f"var_pop(_v[{j}]) as s{j}" for j in range(d)]
    ) + ")"
    stats = base.agg(F.expr(stats_sql).alias("_s")).collect()[0]["_s"]
    n = stats["n"]
    mu = [stats[f"m{j}"] for j in range(d)]
    var = [stats[f"s{j}"] for j in range(d)]
    vec = [0.0] * d
    vec[max(range(d), key=lambda j: var[j])] = 1.0

    lams = []
    resid = float("inf")
    for _ in range(n_iters):
        row = _pca_step_plan(base, vec, d).collect()[0]["_s"]
        t = row["t"]
        cv = [(row[f"s{j}"] - t * mu[j]) / n for j in range(d)]
        lam = sum(cv[j] * vec[j] for j in range(d))  # Rayleigh quotient
        lams.append(lam)
        # residual ||C v - lam v|| / lam BEFORE renormalizing
        resid = math.sqrt(
            sum((cv[j] - lam * vec[j]) ** 2 for j in range(d))
        ) / abs(lam)
        nrm = math.sqrt(sum(x * x for x in cv))
        vec = [x / nrm for x in cv]

    base.unpersist()
    return n, lams, vec, resid
