"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB design requires:

- `cosine_topk_bruteforce`: exact top-k. The corpus matrix is broadcast
  to executors and each partition computes a vectorized numpy matmul
  against it (`mapInPandas` — one Arrow batch in, BLAS kernel, top-k
  out). This is the right physical strategy when one side fits in
  memory (query-batch × corpus); the per-pair JVM expression alternative
  is ~20× slower (measured at sf0.1: 32 s → 1.5 s).
- `lsh_ann_topk`: random-hyperplane LSH. Bucket assignment is a single
  numpy pass per partition; candidates share a bucket in >=1 of several
  hash tables, so join cost scales with bucket occupancy, not |corpus|².
  Candidate verification attaches both vectors by id-join (shuffle —
  the scale path; no driver collect) and scores them with a vectorized
  pandas UDF.

Hyperplanes are deterministic (md5-seeded) — reproducible across runs
and engines. Ranking is by cosine rounded to 6 dp with neighbor-id
tie-break, so results are stable cross-engine for the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import round_robin

TOPK_SCHEMA = "vec_id bigint, neighbor_id bigint, cosine double, rank int"


#: Max corpus matrix size the brute-force path may collect+broadcast.
#: Same 256 MiB as the iterative operators' round-state budget
#: (`lineage.STATE_BROADCAST_BYTES`), but here a hard limit: the
#: driver-collect shortcut must FAIL FAST above it instead of silently
#: OOMing the driver at scale.
BROADCAST_BUDGET_BYTES = 256 << 20


class CorpusTooLargeError(ValueError):
    """Raised when the corpus exceeds the brute-force broadcast budget.

    The caller should route to the scale paths instead: `lsh_ann_topk`
    (bucketed candidates, shuffle verify), `ivf_topk` (centroid-pruned
    cells), or `pq_topk` (32× compressed ADC shortlist)."""


def _corpus_matrix(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    budget_bytes: int = BROADCAST_BUDGET_BYTES,
):
    """Collect (ids, L2-normalized matrix) — only valid when the corpus
    side fits driver/executor memory (64-dim × 1 M rows = 256 MB: fine;
    beyond that, use lsh_ann_topk or IVF partitioning).

    Guarded: estimates the matrix size from (row count × widest vector)
    in one small aggregate job BEFORE collecting, and raises
    `CorpusTooLargeError` above `budget_bytes`, so an over-budget corpus
    costs that job instead of a driver OOM. The corpus then arrives in
    one Arrow collect (`toArrow`), read column-wise; every float32 widens
    to float64 exactly, so the matrix equals the old Row-by-Row build bit
    for bit (a null element is NaN in both)."""
    n, dim = emb.select(F.count(F.lit(1)), F.max(F.size(vec_col))).first()
    dim = max(dim or 0, 0)
    est = n * dim * 8 + n * 8  # float64 matrix + int64 ids
    if est > budget_bytes:
        raise CorpusTooLargeError(
            f"corpus matrix ~{est >> 20} MiB ({n} rows × {dim} dims) exceeds "
            f"the {budget_bytes >> 20} MiB brute-force broadcast budget; use "
            "lsh_ann_topk / ivf_topk / pq_topk for corpora beyond broadcast "
            "size"
        )
    table = emb.select(id_col, vec_col).toArrow()
    ids = np.asarray(table.column(0).to_numpy(), dtype=np.int64)
    flat = table.column(1).combine_chunks().flatten()
    m = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(ids), dim)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return ids, m / norms


def cosine_topk_bruteforce(
    emb: DataFrame, k: int = 3, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k neighbors per vector. Output:
    (vec_id, neighbor_id, cosine, rank); rank by cosine (6 dp) desc,
    neighbor_id asc."""
    spark = emb.sparkSession
    ids, mat = _corpus_matrix(emb, id_col, vec_col)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = b_ids.value, b_mat.value
        pos = {v: i for i, v in enumerate(c_ids)}
        # vectorized equivalent of the per-row lexsort((c_ids, -row))
        # (r13, guide §4.2): pre-order columns by ascending neighbor id
        # once, then a STABLE argsort on -sims keeps id order for tied
        # cosines — element-for-element the same selection, computed as
        # one C-level sort per matrix instead of a Python loop of
        # per-row lexsorts.
        by_id = np.argsort(c_ids, kind="stable")
        ids_sorted = c_ids[by_id]
        mat_sorted_t = c_mat[by_id].T
        for pdf in it:
            q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            sims = np.round((q / qn) @ mat_sorted_t, 6)
            vids = pdf[id_col].to_numpy()
            for r, vid in enumerate(vids):
                self_i = pos.get(vid)
                if self_i is not None:
                    # self exclusion: position within the id-sorted order
                    sims[r, np.searchsorted(ids_sorted, vid)] = -np.inf
            kk = min(k, sims.shape[1])  # tiny-corpus edge: fewer than k
            order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            n_rows = order.shape[0]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vids, kk),
                    "neighbor_id": ids_sorted[order].ravel(),
                    "cosine": np.take_along_axis(sims, order, axis=1).ravel(),
                    "rank": np.tile(np.arange(1, kk + 1), n_rows),
                }
            )

    # round-robin on both sides of the kernel: the embeddings table is
    # one parquet file, so the scan alone would run the whole corpus pass
    # as a single task (the similarity_pq query spent 6.7 s in three
    # 1-task jobs); and the sort's range sampler must read shuffle files,
    # not re-run the kernel (sources/tables.py round_robin)
    scored = round_robin(emb.select(id_col, vec_col)).mapInPandas(
        batches, schema=TOPK_SCHEMA
    )
    return round_robin(scored).orderBy("vec_id", "rank")


def embedding_near_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) with a < b and
    round(cosine, 6) >= threshold. Exact — every qualifying pair is found.

    Physical strategy mirrors `cosine_topk_bruteforce`: the corpus matrix
    is broadcast once, each partition scores its rows against it with one
    BLAS matmul (Arrow batch in, pairs out). Output size is data-bound
    (matching pairs only), so the shuffle after is tiny. Beyond
    broadcastable corpus size, swap the candidate step for `lsh_buckets`
    and verify with `_cosine_udf` — same output contract, approximate
    recall."""
    spark = emb.sparkSession
    ids, mat = _corpus_matrix(emb, id_col, vec_col)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat = b_ids.value, b_mat.value
        for pdf in it:
            q = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            qn = np.linalg.norm(q, axis=1, keepdims=True)
            qn[qn == 0] = 1.0
            sims = np.round((q / qn) @ c_mat.T, 6)
            vids = pdf[id_col].to_numpy()
            # a < b keeps each unordered pair exactly once; one 2-D
            # nonzero instead of a per-row Python loop (r13, guide §4.2)
            mask = (c_ids[None, :] > vids[:, None]) & (sims >= threshold)
            rr, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"a": vids[rr], "b": c_ids[jj], "cosine": sims[rr, jj]}
            )

    pairs = emb.select(id_col, vec_col).mapInPandas(
        batches, schema="a bigint, b bigint, cosine double"
    )
    # a shuffle boundary under the sort, so its sampler does not re-run
    # the kernel (sources/tables.py round_robin)
    return round_robin(pairs).orderBy("a", "b")


def ivf_cell_count(n: int, target_cell_size: int = 32, floor: int = 16) -> int:
    """Derive the IVF cell count from the corpus size: hold the expected
    cell size roughly constant (n_cells ∝ N / target_cell_size, rounded
    up to a power of two). This is the sizing rule BASELINE.md's 10x/30x
    pipeline rehearsals validated — a FIXED n_cells means per-cell lists
    grow with N and total probe cost goes quadratic (the 16-cell default
    ran 41x slower at 10x corpus), while this rule keeps per-query cost
    ~flat. The floor keeps sweep-scale behavior byte-identical to the
    historical fixed-16 default (any N <= floor*target_cell_size → 16),
    so the hash-verified similarity_ivf oracle is unaffected."""
    if n <= floor * target_cell_size:
        return floor
    return 1 << math.ceil(math.log2(n / target_cell_size))


def _ivf_centroids(emb: DataFrame, n_cells: int, id_col: str, vec_col: str):
    """Deterministic coarse quantizer: the L2-normalized vectors of the
    n_cells smallest ids. (At scale, replace with a sampled k-means — the
    assignment/probe machinery below is unchanged.)"""
    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    m = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def ivf_assignments(
    emb: DataFrame,
    n_cells: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    n: int | None = None,
) -> DataFrame:
    """(vec_id, cell, is_primary): nearest cell per vector plus n_probe-1
    runner-up probe cells. One numpy pass per Arrow batch, no shuffle.

    `centroids`: a trained coarse quantizer (e.g. `clustering.kmeans_fit`
    — L2-normalized here); default is the deterministic min-id quantizer.
    `n_cells=None` (default) derives the cell count from the corpus size
    via `ivf_cell_count`, so callers cannot hit the fixed-cell quadratic
    failure mode by omission. That derivation costs ONE count() Spark
    job over `emb` — if `emb` is an uncached multi-stage plan, the whole
    plan runs once just for the count (ADVICE r7), so a caller that has
    already materialized the corpus size should pass it via `n` (ignored
    unless the auto-sizing path actually needs it), or pin `n_cells`
    outright as the registry entries do."""
    spark = emb.sparkSession
    if centroids is not None:
        cents = np.asarray(centroids, dtype=np.float64)
        norms = np.linalg.norm(cents, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = cents / norms
    else:
        if n_cells is None:
            n_cells = ivf_cell_count(n if n is not None else emb.count())
        cents = _ivf_centroids(emb, n_cells, id_col, vec_col)
    b_cents = spark.sparkContext.broadcast(cents)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = b_cents.value
        for pdf in it:
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            vn[vn == 0] = 1.0
            # probe ranking on ROUNDED sims with cell-id tie-break: the
            # raw float ordering is sensitive to summation order, so an
            # independent replay (the DuckDB oracle) could pick a
            # different probe cell for near-tied centroids; 6-dp
            # rounding + deterministic tie-break makes the cell choice
            # engine-independent (same contract as the final cosine
            # ranking below).
            sims = np.round((v / vn) @ c.T, 6)
            cells = np.broadcast_to(np.arange(c.shape[0]), sims.shape)
            order = np.lexsort((cells, -sims), axis=-1)[:, :n_probe]
            vids = pdf[id_col].to_numpy()
            n_p = order.shape[1]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vids, n_p),
                    "cell": order.ravel(),
                    "is_primary": np.tile(
                        np.arange(n_p) == 0, len(vids)
                    ),
                }
            )

    # no fanout here: the assignment pass is one cheap numpy matmul per
    # batch and its consumers re-shuffle by cell anyway — the extra
    # exchange measured as a net loss (r13 A/B: 1.94 -> 2.39 s)
    return emb.select(id_col, vec_col).mapInPandas(
        batches, schema="vec_id bigint, cell int, is_primary boolean"
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 3,
    n_cells: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    n: int | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine: each query probes its n_probe nearest
    cells and scores only vectors whose PRIMARY cell is probed — the
    classic inverted-file trade: cost ~ |corpus| * n_probe / n_cells per
    query instead of |corpus|. Output schema matches
    `cosine_topk_bruteforce`; recall is asserted vs brute force in tests.

    SIZING RULE (measured in BASELINE.md's round-4 pipeline rehearsal):
    n_cells must GROW with the corpus — hold cell size ~constant
    (n_cells ∝ N / target_cell_size; with n_probe ∝ sqrt(N) the classic
    sqrt(N)-cells operating point). A fixed n_cells means cell size
    grows with N and total probe cost goes quadratic: at 10x corpus the
    16-cell default ran 41x slower, while 10x cells on the same data ran
    20x faster. Since round 7 the rule is AUTOMATED: `n_cells=None`
    (default) derives the count via `ivf_cell_count(emb.count())`, so a
    100 TB caller cannot hit the quadratic mode by omission; the rule's
    floor keeps sweep-scale behavior (N <= 512 → 16 cells) identical to
    the historical fixed default. Pass explicit n_cells (or trained
    centroids, one per target cell) to override; pass `n` (a corpus
    count the caller already materialized) to keep auto-sizing without
    the extra count() job over an uncached plan (ADVICE r7).
    """
    assign = ivf_assignments(emb, n_cells, n_probe, id_col, vec_col, centroids, n=n)
    probes = assign.select(F.col("vec_id").alias("a"), "cell")
    index = assign.filter("is_primary").select(F.col("vec_id").alias("b"), "cell")
    cand = (
        probes.join(index, "cell")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    scored = (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            F.col("a").alias("vec_id"),
            F.col("b").alias("neighbor_id"),
            _cosine_udf(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("vec_id", "rank")
    )


def _table_planes(table: int, n_planes: int, dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes from md5 bytes, distinct
    per hash table (no RNG state — reproducible everywhere)."""
    planes = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for i in range(dim):
            h = hashlib.md5(f"t{table}:{p}:{i}".encode()).hexdigest()
            planes[p, i] = int(h[:8], 16) / float(2**31) - 1.0
    return planes


def lsh_buckets(
    emb: DataFrame,
    n_tables: int = 8,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, table_idx, bucket): sign-pattern bucket per hash table,
    computed in one numpy pass per Arrow batch (narrow, no shuffle)."""
    spark = emb.sparkSession
    dim = len(emb.select(vec_col).first()[0])
    planes = np.stack([_table_planes(t, n_planes, dim) for t in range(n_tables)])
    b_planes = spark.sparkContext.broadcast(planes)
    weights = 1 << np.arange(n_planes)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = b_planes.value
        for pdf in it:
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            out = []
            for t in range(pl.shape[0]):
                proj = v @ pl[t].T  # (batch, n_planes)
                buckets = ((proj > 0) * weights).sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf[id_col].to_numpy(),
                            "table_idx": t,
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    # no fanout (see ivf_assignments): bucket assignment is cheap and
    # the bucket join below shuffles regardless
    return emb.select(id_col, vec_col).mapInPandas(
        batches, schema="vec_id bigint, table_idx int, bucket bigint"
    )


@F.pandas_udf(T.DoubleType())
def _cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over two array columns (Arrow batch → einsum)."""
    ma = np.stack([np.asarray(x, dtype=np.float64) for x in a])
    mb = np.stack([np.asarray(x, dtype=np.float64) for x in b])
    dot = np.einsum("ij,ij->i", ma, mb)
    na = np.linalg.norm(ma, axis=1)
    nb = np.linalg.norm(mb, axis=1)
    denom = na * nb
    denom[denom == 0] = 1.0
    return pd.Series(np.round(dot / denom, 6))


def lsh_ann_topk(
    emb: DataFrame,
    k: int = 3,
    n_tables: int = 8,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors (~35% top-1 recall on
    near-random synthetic vectors; far higher on clustered real
    embeddings — tune n_tables/n_planes). Output schema matches
    `cosine_topk_bruteforce`.

    Scale path: no driver collect — candidates from the bucket join,
    vectors re-attached by id-join, scoring in a vectorized pandas UDF.
    """
    buckets = lsh_buckets(emb, n_tables, n_planes, id_col, vec_col)
    left = buckets.select(F.col("vec_id").alias("a"), "table_idx", "bucket")
    right = buckets.select(F.col("vec_id").alias("b"), "table_idx", "bucket")
    cand = (
        left.join(right, ["table_idx", "bucket"])
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    scored = (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            F.col("a").alias("vec_id"),
            F.col("b").alias("neighbor_id"),
            _cosine_udf(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("vec_id", "rank")
    )


# ----------------------------------------------------------------- PQ ANN


def _pq_codebooks(
    emb: DataFrame,
    n_sub: int,
    k_sub: int,
    id_col: str,
    vec_col: str,
    train_n: int = 512,
) -> np.ndarray:
    """Product-quantization codebooks: the embedding dimension is split
    into `n_sub` contiguous subspaces; each gets a `k_sub`-centroid
    codebook trained by a deterministic driver-side Lloyd's pass on a
    bounded id-ordered sample (init = first k_sub sample rows, fixed 15
    iterations — no RNG, reproducible everywhere). Returns
    (n_sub, k_sub, dim/n_sub). Training touches `train_n` rows no matter
    the corpus size; at 100 TB this is the standard sample-train /
    full-encode split."""
    rows = emb.select(id_col, vec_col).orderBy(id_col).limit(train_n).collect()
    x = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    dim = x.shape[1]
    assert dim % n_sub == 0, f"dim {dim} not divisible by n_sub {n_sub}"
    d_sub = dim // n_sub
    books = np.empty((n_sub, k_sub, d_sub), dtype=np.float64)
    for m in range(n_sub):
        sub = x[:, m * d_sub : (m + 1) * d_sub]
        cents = sub[:k_sub].copy()
        for _ in range(15):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_sub):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[m] = cents
    return books


def _pq_encode_matrix(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) L2-normalized matrix → (n, n_sub) uint8 code matrix."""
    n_sub, _, d_sub = books.shape
    codes = np.empty((mat.shape[0], n_sub), dtype=np.uint8)
    for m in range(n_sub):
        sub = mat[:, m * d_sub : (m + 1) * d_sub]
        d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d2.argmin(axis=1)
    return codes


def pq_topk(
    emb: DataFrame,
    k: int = 3,
    n_sub: int = 16,
    k_sub: int = 16,
    shortlist: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN top-k cosine with exact rerank.

    Scale path for corpora whose raw vectors cannot be broadcast: the
    corpus is compressed to n_sub bytes/vector (16 bytes here vs 512 for
    the raw 64-dim float64 row — 32x), the CODE matrix + codebooks are
    broadcast, and each query computes an asymmetric-distance (ADC)
    scan: one (n_sub × k_sub) lookup table of query-subvector·centroid
    dot products, then approx_score(code) = sum_m LUT[m, code[m]] via
    numpy fancy indexing over all corpus codes at once. The ADC
    `shortlist` is then reranked EXACTLY through a distributed join on
    the raw vectors (the broadcast never carries raw vectors). Output
    schema matches `cosine_topk_bruteforce`; recall vs brute force is
    asserted in tests."""
    spark = emb.sparkSession
    books = _pq_codebooks(emb, n_sub, k_sub, id_col, vec_col)
    ids, mat = _corpus_matrix(emb, id_col, vec_col)
    codes = _pq_encode_matrix(mat, books)
    b_books = spark.sparkContext.broadcast(books)
    b_codes = spark.sparkContext.broadcast(codes)
    b_ids = spark.sparkContext.broadcast(ids)
    d_sub = books.shape[2]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bk, cd, cids = b_books.value, b_codes.value, b_ids.value
        m_sub = bk.shape[0]
        m_idx = np.arange(m_sub)[None, :]  # (1, n_sub) for the gather
        for pdf in it:
            v = np.stack([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            vn = np.linalg.norm(v, axis=1, keepdims=True)
            vn[vn == 0] = 1.0
            v = v / vn
            qids = pdf[id_col].to_numpy()
            # batched ADC (r13, guide §4.2): one einsum builds every
            # query's LUT[m, c] = q_sub[m] . centroid[m, c]; the gather
            # + sum over the last axis reproduces the former per-row
            # lut[arange(m), cd].sum(axis=1) element-for-element (same
            # contiguous-axis pairwise reduction → bit-identical
            # doubles), chunked so the (chunk, N, n_sub) gather stays
            # ~64 MB whatever the corpus size.
            luts = np.einsum("qmd,mcd->qmc", v.reshape(len(v), m_sub, d_sub), bk)
            n_short = min(shortlist + 1, cd.shape[0])
            chunk = max(1, int(8_000_000 / max(1, cd.shape[0] * m_sub)))
            out_a, out_b = [], []
            for s in range(0, len(v), chunk):
                lut_c = luts[s : s + chunk]
                # (chunk, N, n_sub): T[q, j, m] = LUT[q, m, cd[j, m]]
                scores = lut_c[:, m_idx, cd].sum(axis=2)
                top = np.argpartition(-scores, n_short - 1, axis=1)[:, :n_short]
                q_rep = np.repeat(qids[s : s + chunk], n_short)
                nbr = cids[top.ravel()]
                keep = nbr != q_rep
                out_a.append(q_rep[keep])
                out_b.append(nbr[keep])
            yield pd.DataFrame(
                {"a": np.concatenate(out_a), "b": np.concatenate(out_b)}
            )

    cand = round_robin(emb.select(id_col, vec_col)).mapInPandas(
        batches, schema="a bigint, b bigint"
    )
    va = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"))
    scored = (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            F.col("a").alias("vec_id"),
            F.col("b").alias("neighbor_id"),
            _cosine_udf(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("vec_id", "rank")
    )
