"""Text-analysis / dedup / similarity / multimodal query registrations.

Every oracle states the IDENTICAL computation in DuckDB SQL: same
tokenizer regex, same md5-based hashes, same rounding — so the driver's
value-hash comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dedup, frequency, multimodal, similarity, text
from ..sources.local import local_rows
from ..sources.tables import load_table, round_robin
from .entry_queries import register

# Shared SQL fragments (kept in lockstep with functions/text.py)
_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
_SHINGLES = (
    "list_distinct(CASE WHEN len(toks) >= 3 THEN "
    "list_transform(range(1, len(toks) - 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')) "
    "ELSE []::VARCHAR[] END)"
)
_STOPWORDS = "('the','a','of','and','to','in','is','it')"


@register(
    "text_stats",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_types,
       CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INT) AS n_punct,
       CAST(len(list_filter(toks, t -> t IN {_STOPWORDS})) AS INT) AS n_stop
FROM t ORDER BY doc_id
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc length/punctuation/stopword statistics (quality-scoring
    inputs), all narrow JVM expressions."""
    docs = load_table(spark, sf_dir, "documents")
    # tokens in their own projection: HOF lambdas skip codegen/CSE, so an
    # inline tokens() would re-run the split per reference (see dedup.py)
    t = docs.select("doc_id", "text", text.tokens(F.col("text")).alias("toks"))
    return t.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_types"),
        text.punct_count(F.col("text")).alias("n_punct"),
        text.stopword_count(F.col("toks")).alias("n_stop"),
    ).orderBy("doc_id")


@register(
    "text_quality",
    f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
     s AS (SELECT doc_id,
                  len(toks) AS n_tokens,
                  CASE WHEN length(text) = 0 THEN 0.0
                       ELSE length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0 / length(text)
                  END AS punct_ratio,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE len(list_filter(toks, t -> t IN {_STOPWORDS})) * 1.0 / len(toks)
                  END AS stop_ratio
           FROM t)
SELECT doc_id,
       round(least(1.0, n_tokens / 100.0) * (1.0 - punct_ratio) * (0.5 + stop_ratio), 6)
         AS quality
FROM s ORDER BY doc_id
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per doc (length × punctuation × stopword
    plausibility)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    t = docs.select("doc_id", "text", toks.alias("toks"))
    n_tokens = F.size("toks")
    punct_ratio = F.when(F.length("text") == 0, 0.0).otherwise(
        text.punct_count(F.col("text")) / F.length("text")
    )
    stop_ratio = F.when(n_tokens == 0, 0.0).otherwise(
        text.stopword_count(F.col("toks")) / n_tokens
    )
    return t.select(
        "doc_id",
        text.quality_score(n_tokens, punct_ratio, stop_ratio).alias("quality"),
    ).orderBy("doc_id")


_LANG_CASES = {
    lang: "(" + ",".join(f"'{w}'" for w in ws) + ")"
    for lang, ws in text.LANG_MARKERS.items()
}


@register(
    "text_lang_id",
    f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
     v AS (SELECT doc_id, lang,
                  len(list_filter(toks, t -> t IN {_LANG_CASES['en']})) AS en_v,
                  len(list_filter(toks, t -> t IN {_LANG_CASES['de']})) AS de_v,
                  len(list_filter(toks, t -> t IN {_LANG_CASES['es']})) AS es_v,
                  len(list_filter(toks, t -> t IN {_LANG_CASES['fr']})) AS fr_v
           FROM t)
SELECT doc_id, lang,
       CASE WHEN en_v = greatest(en_v, de_v, es_v, fr_v) THEN 'en'
            WHEN de_v = greatest(en_v, de_v, es_v, fr_v) THEN 'de'
            WHEN es_v = greatest(en_v, de_v, es_v, fr_v) THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM v ORDER BY doc_id
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon language-ID heuristic: marker-stopword votes, deterministic
    argmax (tie goes to en > de > es > fr)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", text.tokens(F.col("text")).alias("toks"))
    # votes are HOF filters and predict_lang references each one several
    # times (greatest + per-language when) — materialize them as columns
    v = t.select(
        "doc_id",
        "lang",
        *[c.alias(f"_v_{lang}") for lang, c in text.lang_votes(F.col("toks")).items()],
    )
    col_votes = {lang: F.col(f"_v_{lang}") for lang in text.LANG_MARKERS}
    return v.select(
        "doc_id", "lang", text.predict_lang(col_votes).alias("pred_lang")
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized md5 document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


@register(
    "text_token_count",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9_]+|[^a-z0-9_\s]')) AS INT)
         AS n_tokens
FROM documents ORDER BY doc_id
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count: word runs + isolated punctuation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.token_count(F.col("text")).alias("n_tokens")
    ).orderBy("doc_id")


# ------------------------------------------------------------------- dedup


@register(
    "dedup_exact",
    """
WITH d AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000 AS doc_id, text FROM documents
           WHERE doc_id % 37 = 0),
     h AS (SELECT doc_id, md5(text) AS h FROM d),
     c AS (SELECT h, min(doc_id) AS canonical_id FROM h GROUP BY h)
SELECT h.doc_id AS doc_id, c.canonical_id AS canonical_id
FROM h JOIN c USING (h) ORDER BY doc_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: doc_id → canonical (min-id) doc with identical text.

    The input is documents plus a deterministic duplicated shard (every
    37th doc re-keyed at +10M): the r13 oracle-side mutation audit
    (OM04) found the raw table has NO duplicate texts below sf0.1, so
    the keep-rule (min vs max) was unconstrained at the driver's
    certification SF — a wrong canonical rule would have certified
    green. The synthesized duplicates make the rule data-constrained at
    every SF."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup_shard = docs.filter(F.col("doc_id") % 37 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    return dedup.exact_canonical(
        docs.unionByName(dup_shard), "doc_id", "text"
    ).orderBy("doc_id")


def _minhash_sig_sql() -> str:
    hashes = ", ".join(
        f"list_min(list_transform(hm, h -> substring(h, {8 * i + 1}, 8))) AS mh{i}"
        for i in range(dedup.N_MINHASH)
    )
    return hashes


def _minhash_band_sql() -> str:
    r = dedup.N_MINHASH // dedup.N_BANDS
    bands = ", ".join(
        "md5(" + " || '|' || ".join(f"mh{b * r + j}" for j in range(r)) + f") AS band{b}"
        for b in range(dedup.N_BANDS)
    )
    return bands


@register(
    "dedup_minhash_lsh",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
     hmt AS (SELECT doc_id, sh,
             list_transform(sh, s -> md5(s) || md5('x' || s)) AS hm FROM sh),
     sig AS (SELECT doc_id, sh, {_minhash_sig_sql()} FROM hmt),
     bnd AS (SELECT doc_id, sh, {_minhash_band_sql()} FROM sig),
     stacked AS (
       SELECT doc_id, i.band_idx,
              CASE i.band_idx {' '.join(f"WHEN {b} THEN band{b}" for b in range(dedup.N_BANDS))} END AS band_hash
       FROM bnd, (SELECT unnest(range({dedup.N_BANDS})) AS band_idx) i
     ),
     cand AS (
       SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       FROM stacked a JOIN stacked b
         ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
     )
SELECT cand.a AS a, cand.b AS b,
       round(len(list_intersect(sa.sh, sb.sh)) * 1.0 /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
FROM cand JOIN sh sa ON cand.a = sa.doc_id JOIN sh sb ON cand.b = sb.doc_id
WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
      (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
ORDER BY a, b
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle → minhash → band → bucket join),
    verified with exact shingle Jaccard >= 0.8."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs)


@register(
    "dedup_ngram_jaccard",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
     posting AS (SELECT doc_id, unnest(sh) AS s FROM sh),
     shared AS (
       SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
       FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
       GROUP BY 1, 2
     ),
     sizes AS (SELECT doc_id, len(sh) AS n FROM sh)
SELECT a, b,
       round(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM shared JOIN sizes na ON shared.a = na.doc_id
            JOIN sizes nb ON shared.b = nb.doc_id
WHERE inter * 1.0 / (na.n + nb.n - inter) >= 0.8
ORDER BY a, b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard near-dup pairs via inverted index join."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs)


@register(
    "dedup_prefix_filter",
    # PPJoin-style oracle (round 9): the previous all-pairs self-join
    # evaluated list_intersect 3x over 12.5M pairs (551 s at sf0.1).
    # This one mirrors the operator's own algorithm: J >= t implies
    # |a ∩ b| >= ceil(t*n) for BOTH sets, so under any global shingle
    # order (lexicographic here) the two (n - ceil(t*n) + 1)-prefixes
    # must share a shingle — candidates come from a postings self-join
    # on prefix shingles, then the exact Jaccard verifies once per
    # candidate (12 s at sf0.1, identical 256-row result).
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     sh0 AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
     nz AS MATERIALIZED (
       SELECT doc_id, list_sort(sh) AS sh, len(sh) AS n
       FROM sh0 WHERE len(sh) > 0),
     pref AS MATERIALIZED (
       SELECT doc_id, unnest(sh[1:(n - CAST(ceil(0.8 * n) AS INT) + 1)]) AS s
       FROM nz),
     cand AS MATERIALIZED (
       SELECT DISTINCT p1.doc_id AS da, p2.doc_id AS db
       FROM pref p1 JOIN pref p2 ON p1.s = p2.s AND p1.doc_id < p2.doc_id),
     scored AS (
       SELECT c.da, c.db,
              len(list_intersect(na.sh, nb.sh)) AS i, na.n AS n1, nb.n AS n2
       FROM cand c JOIN nz na ON c.da = na.doc_id
                   JOIN nz nb ON c.db = nb.doc_id
       WHERE least(na.n, nb.n) >= 0.8 * greatest(na.n, nb.n))
SELECT da AS a, db AS b, round(i * 1.0 / (n1 + n2 - i), 6) AS jaccard
FROM scored WHERE i * 1.0 / (n1 + n2 - i) >= 0.8
ORDER BY a, b
""",
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered set-similarity self-join (exact
    Jaccard >= 0.8 over 3-gram shingles). The oracle is the O(n²)
    brute-force formulation — an independent algorithm producing the
    identical pair set, so the hash match proves the prefix filter loses
    no pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.prefix_filter_jaccard_pairs(docs)


def _simhash_votes_sql() -> str:
    return ", ".join(
        f"sum(CASE WHEN (v >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(dedup.SIMHASH_BITS)
    )


def _simhash_value_sql() -> str:
    return " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)"
        for i in range(dedup.SIMHASH_BITS)
    )


@register(
    "dedup_simhash",
    f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
     h AS (SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT AS BIGINT) AS v
           FROM t),
     votes AS (SELECT doc_id, {_simhash_votes_sql()} FROM h GROUP BY doc_id)
SELECT doc_id, {_simhash_value_sql()} AS simhash
FROM votes ORDER BY doc_id
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs).orderBy("doc_id")


@register(
    "dedup_simhash_pairs",
    f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
     h AS (SELECT doc_id,
                  CAST(('0x' || substring(md5(tok), 1, 8))::BIGINT AS BIGINT) AS v
           FROM t),
     votes AS (SELECT doc_id, {_simhash_votes_sql()} FROM h GROUP BY doc_id),
     sh AS (SELECT doc_id, {_simhash_value_sql()} AS simhash FROM votes)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
FROM sh x JOIN sh y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
ORDER BY a, b
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3 of 32 bits) via 8-bit banded
    candidates. Fully oracled: banding is LOSSLESS here (pigeonhole —
    3 differing bits across 4 disjoint 8-bit chunks leave >= 1 chunk
    equal), so the banded result must equal the oracle's brute-force
    all-pairs Hamming scan exactly; a hash match certifies both the
    signature math and that banding dropped no pair."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


@register(
    "heavy_hitters_exact",
    f"""
WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
     c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20
""",
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most frequent tokens: explode + hash-groupBy (map-side
    partial) + TakeOrderedAndProject top-k — the JVM baseline the
    Misra-Gries sketch approximates."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(20)
    )


@register(
    "heavy_hitters_mg",
    f"""
WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
     c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
     n AS (SELECT sum(cnt) AS total FROM c)
SELECT tok, CAST(cnt AS BIGINT) AS true_cnt,
       TRUE AS in_mg_summary, TRUE AS mg_bound_ok
FROM c, n WHERE cnt > total / 65.0
ORDER BY true_cnt DESC, tok
""",
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries mergeable heavy-hitters sketch (k=64 counters per
    partition, two-level merge): single-pass bounded-memory heavy-hitter
    estimates. The raw summary is partition-order-dependent, so the
    HASHABLE output is the deterministic certificate MG guarantees:
    every token with true frequency > N/(k+1) (an exact, deterministic
    set) must appear in the summary (`in_mg_summary`) with
    est <= true <= est + N/(k+1) (`mg_bound_ok`). A broken merge or a
    dropped guaranteed hitter flips a boolean and hash-mismatches; the
    full est-vs-true bound over ALL reported tokens stays asserted in
    tests."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    mg = frequency.misra_gries_topn(toks, col="tok", k=64, topn=64)
    exact = toks.groupBy("tok").agg(F.count("*").alias("true_cnt"))
    total = toks.count()
    slack = total / 65.0
    guaranteed = exact.filter(F.col("true_cnt") > slack)
    joined = guaranteed.join(mg, "tok", "left")
    return (
        joined.select(
            "tok",
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("est_cnt").isNotNull().alias("in_mg_summary"),
            (
                F.col("est_cnt").isNotNull()
                & (F.col("est_cnt") <= F.col("true_cnt"))
                & (F.col("true_cnt") <= F.col("est_cnt") + slack)
            ).alias("mg_bound_ok"),
        )
        .orderBy(F.desc("true_cnt"), "tok")
    )


@register(
    "heavy_hitters_cms",
    f"""
WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
rws AS (SELECT unnest(range(0,5)) AS r),
cells AS (
  SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 16))::UBIGINT % 2048 AS b,
         count(*) AS cnt
  FROM t, rws GROUP BY 1, 2
),
topk AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM t GROUP BY 1 ORDER BY c DESC, tok LIMIT 20)),
probes AS (
  SELECT topk.tok, rws.r,
         ('0x' || substring(md5(CAST(rws.r AS VARCHAR) || ':' || topk.tok), 1, 16))::UBIGINT % 2048 AS b
  FROM topk, rws
)
SELECT p.tok, CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
GROUP BY p.tok ORDER BY est_cnt DESC, p.tok
""",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch estimates (functions/frequency.py
    count_min_estimates, depth=5 x width=2048) for the exact top-20
    tokens. Unlike Misra-Gries, CMS merge is pure vector addition, so
    the estimate is a deterministic function of the DATA alone
    (partition-order independent) — which is why this sketch gets a full
    value-hash oracle: DuckDB replays the md5 bucket hash, the cell
    sums, and the min-over-rows probe exactly. One-sided error:
    est >= true, est - true <= 2N/width w.p. >= 1 - 2^-depth."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
    keys = [
        r["tok"]
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(20)
        .collect()
    ]
    return frequency.count_min_estimates(toks, keys, col="tok", depth=5, width=2048)


# -------------------------------------------------------------- similarity


@register(
    "similarity_topk_cosine",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e),
     pairs AS (
       SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
              round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 6) AS cosine
       FROM n a JOIN n b ON a.vec_id <> b.vec_id
     ),
     ranked AS (
       SELECT vec_id, neighbor_id, cosine,
              row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
       FROM pairs
     )
SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank
""",
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-3 neighbors per embedding (the ANN
    correctness baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_bruteforce(emb, k=3)


@register(
    "similarity_ann_lsh",
    """
WITH planes AS (
  SELECT t.t AS tbl, p.p AS pl, i.i AS dim,
         CAST('0x' || substr(md5('t' || t.t || ':' || p.p || ':' || i.i), 1, 8) AS BIGINT)
           / 2147483648.0 - 1.0 AS w
  FROM range(8) t(t), range(6) p(p), range(64) i(i)
),
elems AS (
  SELECT vec_id, i.i AS dim, CAST(embedding[i.i + 1] AS DOUBLE) AS x
  FROM embeddings, range(64) i(i)
),
proj AS (
  SELECT e.vec_id, pl.tbl, pl.pl, sum(e.x * pl.w) AS s
  FROM elems e JOIN planes pl ON e.dim = pl.dim
  GROUP BY e.vec_id, pl.tbl, pl.pl
),
buckets AS (
  SELECT vec_id, tbl,
         CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << pl ELSE 0 END) AS BIGINT)
           AS bucket
  FROM proj GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM buckets l JOIN buckets r ON l.tbl = r.tbl AND l.bucket = r.bucket
  WHERE l.vec_id <> r.vec_id
),
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings
),
scored AS (
  SELECT c.a AS vec_id, c.b AS neighbor_id,
         round(list_dot_product(va.v, vb.v) / (va.nm * vb.nm), 6) AS cosine
  FROM cand c JOIN vecs va ON c.a = va.vec_id JOIN vecs vb ON c.b = vb.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank
""",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 cosine neighbors via random-hyperplane LSH
    (8 tables × 6 planes). Fully hash-oracled: the hyperplanes are
    md5-seeded (no RNG state — functions/similarity.py _table_planes),
    so the DuckDB oracle REPLAYS the whole index from scratch — plane
    weights from the same md5 bytes, sign-pattern buckets, bucket-join
    candidates, 6-dp cosine ranking — and must land on the identical
    neighbor lists. Sign tests sit on O(1)-magnitude projections, so
    the ~1e-15 summation-order noise between engines cannot flip them."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(emb, k=3)


@register(
    "dedup_embedding_cosine",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nm FROM e)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.nm * b.nm), 6) >= 0.35
ORDER BY a, b
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.35), exact via
    broadcast-corpus matmul per partition."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_pairs(emb, threshold=0.35)


@register(
    "similarity_ivf",
    """
WITH cents AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         list_transform(embedding::DOUBLE[],
           x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm
  FROM embeddings
),
sims AS (
  SELECT v.vec_id, c.cell,
         round(list_dot_product(v.v, c.cv) / v.nm, 6) AS sim
  FROM vecs v, cents c
),
probes AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell) AS pr
  FROM sims
),
assign AS (SELECT vec_id, cell, pr = 1 AS is_primary FROM probes WHERE pr <= 2),
cand AS (
  SELECT DISTINCT p.vec_id AS a, ix.vec_id AS b
  FROM assign p JOIN (SELECT vec_id, cell FROM assign WHERE is_primary) ix
    ON p.cell = ix.cell
  WHERE p.vec_id <> ix.vec_id
),
scored AS (
  SELECT c.a AS vec_id, c.b AS neighbor_id,
         round(list_dot_product(va.v, vb.v) / (va.nm * vb.nm), 6) AS cosine
  FROM cand c JOIN vecs va ON c.a = va.vec_id JOIN vecs vb ON c.b = vb.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank
""",
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-3 cosine neighbors (16 cells, 2 probes) — the
    scale path where the corpus exceeds broadcast size. Fully
    hash-oracled: the coarse quantizer is deterministic (the 16
    smallest-id vectors, L2-normalized) and probe-cell ranking runs on
    6-dp-rounded sims with a cell-id tie-break, so the DuckDB oracle
    replays the whole index — quantizer, probe assignment, candidate
    join, 6-dp cosine ranking — and must produce identical rows.

    n_cells is pinned to 16 HERE because the oracle hardcodes its
    centroid LIMIT: with the auto-sizing default (`ivf_cell_count`), any
    corpus past 512 rows would silently derive 32+ cells and guarantee a
    hash mismatch that presents as a correctness failure (ADVICE r7).
    Pinning also drops the sizing count() job from this hot path; the
    auto-derived default stays exercised by tools/scale_rehearsal.py and
    tests/test_functions.py::test_ivf_auto_cells_matches_explicit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, k=3, n_cells=16)


# -------------------------------------------------------------- multimodal


@register(
    "multimodal_meta",
    """
SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       'text' AS modality
FROM documents ORDER BY doc_id
""",
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over opaque binary payloads — queryable without
    decoding the payload."""
    docs = load_table(spark, sf_dir, "documents")
    binary = multimodal.to_binary_payload(docs, "doc_id", "text")
    return binary.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.modality").alias("modality"),
    ).orderBy("doc_id")


# The multimodal feature queries emit the vector EXPLODED to
# (.., dim, bucket_count) scalars: the driver's canonicalizer
# (pandas.sort_values) cannot hash array-typed cells, and integer bucket
# counts (recovered exactly from the float32 feature via
# round(value * slice_len)) hash deterministically where rounded floats
# would not. The oracle recomputes the byte histogram per UTF-8 byte via
# hex nibbles: bucket(b) = b // 32 = high_nibble // 2.


@register(
    "multimodal_features",
    """
WITH b AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
         hex(encode(text)) AS hx
  FROM documents
),
k AS (
  SELECT doc_id, n_bytes,
         list_transform(range(1, n_bytes + 1),
                        i -> ('0x' || substring(hx, 2*i - 1, 1))::INT // 2)
           AS buckets
  FROM b
)
SELECT doc_id, n_bytes, 'text' AS modality, d.dim::INT AS dim,
       CAST(len(list_filter(buckets, x -> x = d.dim)) AS BIGINT)
         AS bucket_count
FROM k, (SELECT unnest(range(0, 8)) AS dim) d
ORDER BY doc_id, dim
""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (real PPM/BMP
    decode with a deterministic byte-histogram fallback; these text
    payloads all take the histogram path), exploded to one row per
    feature dimension with the exact integer bucket count."""
    docs = load_table(spark, sf_dir, "documents")
    binary = multimodal.to_binary_payload(docs, "doc_id", "text")
    # a shuffle boundary under the final sort, so its range sampler reads
    # the kernel's output instead of re-running it (round_robin)
    feats = round_robin(multimodal.extract_features(binary))
    return (
        feats.select(
            "doc_id", "n_bytes", "modality",
            F.posexplode("feature").alias("dim", "value"),
        )
        .select(
            "doc_id", "n_bytes", "modality", "dim",
            F.round(F.col("value") * F.col("n_bytes"))
            .cast("long")
            .alias("bucket_count"),
        )
        .orderBy("doc_id", "dim")
    )


@register(
    "multimodal_frames",
    """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS nb, hex(encode(text)) AS hx
  FROM documents
),
f AS (
  SELECT doc_id, nb, hx, unnest(range(0, 4))::INT AS frame_idx FROM b
),
s AS (
  SELECT doc_id, frame_idx, hx, nb,
         (frame_idx * greatest(nb, 1)) // 4 AS off,
         ((frame_idx + 1) * greatest(nb, 1)) // 4 AS fin
  FROM f
),
k AS (
  SELECT doc_id, frame_idx, off::INT AS frame_offset,
         list_transform(range(off + 1, least(fin, nb) + 1),
                        i -> ('0x' || substring(hx, 2*i - 1, 1))::INT // 2)
           AS buckets
  FROM s
)
SELECT doc_id, frame_idx, frame_offset, d.dim::INT AS dim,
       CAST(len(list_filter(buckets, x -> x = d.dim)) AS BIGINT)
         AS bucket_count
FROM k, (SELECT unnest(range(0, 8)) AS dim) d
ORDER BY doc_id, frame_idx, dim
""",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like binary payloads: 4 evenly-spaced
    frames per payload, each with its own (histogram) feature vector —
    the 1:N explosion shape of a video pipeline — exploded to one row
    per (frame, dim) with the exact integer bucket count. The slice
    length is reconstructed from meta.n_bytes with the same floor
    arithmetic sample_frames uses."""
    docs = load_table(spark, sf_dir, "documents")
    binary = multimodal.to_binary_payload(docs, "doc_id", "text", modality="video")
    # a shuffle boundary under the final sort, so its range sampler reads
    # the kernel's output instead of re-running it (round_robin)
    frames = round_robin(multimodal.sample_frames(binary))
    sizes = binary.select("doc_id", F.col("meta.n_bytes").alias("n_bytes"))
    slice_len = F.expr(
        "((frame_idx + 1) * greatest(n_bytes, 1)) div 4"
        " - (frame_idx * greatest(n_bytes, 1)) div 4"
    )
    return (
        frames.join(F.broadcast(sizes), "doc_id")
        .select(
            "doc_id", "frame_idx", "frame_offset",
            F.posexplode("feature").alias("dim", "value"),
            slice_len.alias("slice_len"),
        )
        .select(
            "doc_id", "frame_idx", "frame_offset", "dim",
            F.round(F.col("value") * F.col("slice_len"))
            .cast("long")
            .alias("bucket_count"),
        )
        .orderBy("doc_id", "frame_idx", "dim")
    )


@register(
    "text_rolling_hash",
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     h AS (SELECT doc_id,
                  list_transform(toks,
                    tok -> ('0x' || substring(md5(tok), 1, 8))::BIGINT) AS hs
           FROM t)
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, hs),
                   (acc, v) -> (acc * 31 + v) % 1000000007) AS rhash
FROM h ORDER BY doc_id
""",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (Rabin-Karp shape):
    fold over per-token 32-bit hashes, acc = (acc*31 + h) mod 1e9+7 —
    one F.aggregate pass, order-sensitive (unlike the bag-of-tokens
    SimHash), all JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", text.tokens(F.col("text")).alias("toks"))
    h = t.select(
        "doc_id",
        F.transform(
            "toks", lambda tok: F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        ).alias("hs"),
    )
    rhash = F.aggregate(
        "hs",
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 31 + v) % F.lit(1000000007).cast("long"),
    )
    return h.select("doc_id", rhash.alias("rhash")).orderBy("doc_id")


# dedup pipeline closure: near-dup pairs -> connected components ->
# canonical survivor per cluster. The oracle recomputes the SAME pair set
# (the dedup_minhash_lsh SQL) and resolves components with a recursive
# transitive closure — an independent algorithm from our label propagation.
_MINHASH_PAIRS_SQL = None  # filled below from the registered oracle


@register(
    "dedup_clusters",
    f"""
WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
     sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM t),
     hmt AS (SELECT doc_id, sh,
             list_transform(sh, s -> md5(s) || md5('x' || s)) AS hm FROM sh),
     sig AS (SELECT doc_id, sh, {{SIG}} FROM hmt),
     bnd AS (SELECT doc_id, sh, {{BAND}} FROM sig),
     stacked AS (
       SELECT doc_id, i.band_idx,
              CASE i.band_idx {{BANDCASE}} END AS band_hash
       FROM bnd, (SELECT unnest(range({{NB}})) AS band_idx) i
     ),
     cand AS (
       SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       FROM stacked a JOIN stacked b
         ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        AND a.doc_id < b.doc_id
     ),
     pairs AS (
       SELECT cand.a, cand.b FROM cand
       JOIN sh sa ON cand.a = sa.doc_id JOIN sh sb ON cand.b = sb.doc_id
       WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
     ),
     und AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
     reach AS (
       SELECT s, d FROM und
       UNION
       SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s WHERE r.s <> u.d
     ),
     comp AS (SELECT s AS doc_id, least(s, min(d)) AS component
              FROM reach GROUP BY s)
SELECT t.doc_id AS doc_id,
       CAST(coalesce(comp.component, t.doc_id) AS BIGINT) AS canonical_id
FROM t LEFT JOIN comp ON t.doc_id = comp.doc_id
ORDER BY doc_id
""".replace("{SIG}", _minhash_sig_sql())
   .replace("{BAND}", _minhash_band_sql())
   .replace("{BANDCASE}", " ".join(f"WHEN {b} THEN band{b}" for b in range(dedup.N_BANDS)))
   .replace("{NB}", str(dedup.N_BANDS)),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: MinHash-LSH pairs → connected components
    (large-star/small-star contraction, operators/graph.py
    connected_components_star; a few hundred pairs go straight to its
    driver-local finish) → min-id canonical doc per cluster; docs in no
    cluster survive as their own canonical."""
    from ..operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components_star(edges)
    return (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).cast("long").alias("canonical_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "similarity_pq",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       TRUE AS k_rows_each, TRUE AS no_self_neighbor,
       TRUE AS cosine_bounded, TRUE AS recall_ok
FROM embeddings
""",
)
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (16 subspaces x 16 centroids = 16
    bytes/vector, 32x compression; ADC shortlist + exact distributed
    rerank) — the scale path where even the IVF cell lists exceed
    broadcast size.

    Driver-hashable certificate (was rows-only through r6: the raw
    neighbor lists depend on codebook contents, which no SQL replay can
    reproduce): every query returns exactly k neighbors, never itself,
    all cosines in [-1, 1], and the exact top-1 neighbor lands in the
    PQ top-3 for >= 50% of a deterministic 128-query sample (measured
    0.95+ at sweep scale — the unit-test floor; see _ann_certificate
    for why the recall base is sampled rather than O(N^2) full-corpus
    brute force). All four booleans are deterministic (codebook
    training is seeded and driver-side); a broken ADC table, rerank
    join, or shortlist flips a column and hash-mismatches. The raw
    neighbor lists remain available via `functions.similarity.pq_topk`."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _ann_certificate(spark, emb, similarity.pq_topk(emb, k=3), k=3, recall_floor=0.5)


# Deterministic recall base for the ANN certificates: the 128 lowest
# vec_ids. Exact top-1 ground truth for the sample costs
# O(sample x corpus) — linear in N, never the O(N^2) a full-corpus
# brute force would re-embed inside entries documented as the scale
# path. 128 keeps the binomial noise on the measured recalls (0.95 PQ /
# 0.44 trained-IVF at sweep scale) several sigma above their 0.5 / 0.3
# floors, and the sample is a deterministic function of the data, so
# the booleans stay driver-hashable.
_CERT_SAMPLE_QUERIES = 128

_CERT_SCHEMA = (
    "n_queries bigint, k_rows_each boolean, no_self_neighbor boolean, "
    "cosine_bounded boolean, recall_ok boolean"
)


def _ann_certificate(
    spark: SparkSession,
    emb: DataFrame,
    ann: DataFrame,
    k: int,
    recall_floor: float,
) -> DataFrame:
    """Scalarize an ANN top-k result into the deterministic invariants
    the similarity_pq / similarity_ivf_trained certificates hash on.
    One pass over `ann` for the structural checks, plus recall@k over
    the `_CERT_SAMPLE_QUERIES` lowest vec_ids: the exact top-1 for each
    sampled query is computed with built-in higher-order functions (6-dp
    rounded cosine, ties to the lower neighbor_id — the same ranking
    semantics as `cosine_topk_bruteforce`) by broadcasting the bounded
    query sample against the full corpus. That probe is O(sample x N):
    the corpus side streams, nothing quadratic, no driver collect. An
    empty corpus short-circuits to the vacuous all-true row (no
    invariant is violated by zero queries) instead of dividing by
    zero."""
    n = emb.count()
    if n == 0:
        return local_rows(spark, [(0, True, True, True, True)], _CERT_SCHEMA)
    # the ANN pipeline (codebook/bucket pass + rerank + window) feeds
    # BOTH the structural aggregate below and the recall join — persist
    # it so the pipeline executes once, not twice (r13, guide §5;
    # computed fresh from the inputs inside this query, released before
    # returning)
    ann = ann.persist()
    per_q = ann.groupBy("vec_id").agg(
        F.count("*").alias("n_rows"),
        F.max((F.col("neighbor_id") == F.col("vec_id")).cast("int")).alias("self_hit"),
        F.max(F.abs("cosine")).alias("max_abs_cos"),
    )
    s = per_q.agg(
        F.count("*").alias("nq"),
        F.min("n_rows").alias("min_rows"),
        F.max("n_rows").alias("max_rows"),
        F.max("self_hit").alias("any_self"),
        F.max("max_abs_cos").alias("max_abs_cos"),
    ).first()
    bf1 = _sample_top1_exact(emb)
    n_sample = min(n, _CERT_SAMPLE_QUERIES)
    hits = (
        bf1.join(
            ann.select("vec_id", F.col("neighbor_id").alias("ann_neighbor")),
            ["vec_id"],
        )
        .filter(F.col("ann_neighbor") == F.col("bf_neighbor"))
        .select("vec_id")
        .distinct()
        .count()
    )
    ann.unpersist()
    # n_sample == 1 means the lone vector has no possible neighbor;
    # recall is vacuous there too (ann is empty, hits == 0).
    return local_rows(
        spark,
        [
            (
                n,
                s["nq"] == n and s["min_rows"] == k and s["max_rows"] == k,
                s["any_self"] == 0,
                s["max_abs_cos"] is not None and s["max_abs_cos"] <= 1.0 + 1e-9,
                n == 1 or hits / n_sample >= recall_floor,
            )
        ],
        _CERT_SCHEMA,
    )


def _sample_top1_exact(emb: DataFrame) -> DataFrame:
    """Exact cosine top-1 neighbor for the `_CERT_SAMPLE_QUERIES` lowest
    vec_ids, as (vec_id, bf_neighbor).

    Physical shape: the bounded sample (<= 128 rows) is collected and
    shipped in the task closure; each corpus Arrow batch computes every
    (corpus row x query) cosine in ONE numpy kernel (r13 optimization
    round 2, guide §4.2: the previous JVM zip_with/aggregate HOF pair
    probe evaluated ~N x 128 interpreted 64-step folds with per-element
    boxing — a steady 6.5 s/32-task job at sf0.1; the vectorized kernel
    runs the identical arithmetic in <0.5 s). Bit-identical to the old
    interpreted fold by construction: products are IEEE-exact, cumsum
    reproduces the fold's strict left-to-right summation order
    (fold seeds 0.0 and 0.0+p0 == p0 up to a value-equal signed zero),
    and mul/div/sqrt are correctly rounded in both engines — so the
    6-dp round and the top-1 window (both still JVM-side) see the same
    doubles. O(sample x N) probe work, no pair blowup, corpus side
    never shuffles before the per-query top-1 window.

    r14 revisions (VERDICT r13 item 3 + ADVICE):
    - the dot products accumulate over the feature axis into a (B, Q)
      buffer instead of materializing the (B, Q, d) broadcast product
      PLUS its same-size cumsum — identical strict left-to-right
      summation order per (row, query) pair (0.0+p0 == p0 up to a
      value-equal signed zero), so bit-identical cosines, at O(B*Q)
      peak memory per Arrow batch instead of O(B*Q*d)*2 (the default
      10k-row batch cap made the old shape ~1.3 GB transient per task
      at corpus scale);
    - rows with a NULL vec_id or NULL embedding are excluded up front,
      matching the old JVM plan's implicit exclusion (its join pushed
      isnotnull filters) instead of crashing np.stack / to_numpy;
    - a NULL *element* inside an embedding becomes NaN in numpy, and
      NaN sorts ABOVE every double in Spark ordering — the old fold
      produced a NULL cosine there (NULLS LAST under DESC, so the row
      could never win). Non-finite cosines are mapped to -inf, which
      reproduces the old selection: such rows lose to any finite
      cosine, and an all-null tie falls through to the c_id asc
      tie-break exactly as NULLS-LAST did.

    NOTE: the bounded sample collect below makes CONSTRUCTION of this
    DataFrame eager (one small Spark job runs when the plan is built,
    not when it executes) — callers run the result immediately, and the
    empty-corpus case short-circuits to an empty result frame just as
    the old lazy join produced no rows."""
    from pyspark.sql import Window

    emb = emb.filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    q_rows = (
        emb.orderBy("vec_id")
        .limit(_CERT_SAMPLE_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    if not q_rows:
        return local_rows(
            emb.sparkSession, [], "vec_id bigint, bf_neighbor bigint"
        )
    q_ids = [int(r[0]) for r in q_rows]
    # a NULL element becomes NaN: its cosines map to -inf below, the
    # same never-wins outcome the old fold's NULL cosine had
    q_vecs = [
        [float("nan") if x is None else float(x) for x in r[1]] for r in q_rows
    ]

    # the corpus arrives as one parquet file — fan the probe side out so
    # the O(sample x N) kernel runs wide, not as one task (r13, guide
    # §2.6; measured 2.4 s single-task at sf0.1)
    corpus = round_robin(emb.select(F.col("vec_id").alias("c_id"), "embedding"))

    def batches(it):
        import numpy as np
        import pandas as pd

        q = np.asarray(q_vecs, dtype=np.float64)  # (Q, d)
        qi = np.asarray(q_ids, dtype=np.int64)
        # norm via cumsum = the fold's sequential order; 0-norm -> 1.0
        q_nm = np.sqrt(np.cumsum(q * q, axis=1)[:, -1])
        q_nm[q_nm == 0.0] = 1.0
        for pdf in it:
            if not len(pdf):
                continue
            c = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )  # (B, d)
            cid = pdf["c_id"].to_numpy(dtype=np.int64)
            c_nm = np.sqrt(np.cumsum(c * c, axis=1)[:, -1])
            c_nm[c_nm == 0.0] = 1.0
            # accumulate over the feature axis (r14): same strict
            # left-to-right per-pair summation order as the former
            # cumsum-over-(B,Q,d) — ((0.0+p0)+p1)+... and 0.0+p0 == p0
            # — so bit-identical doubles at O(B*Q) peak memory instead
            # of two (B, Q, d) temporaries
            dot = np.zeros((c.shape[0], q.shape[0]))
            for kk in range(q.shape[1]):
                dot += c[:, kk, None] * q[None, :, kk]
            cos = dot / (q_nm[None, :] * c_nm[:, None])
            # NULL embedding elements arrive as NaN; NaN sorts above
            # every double JVM-side, but the old fold's NULL cosine
            # could never win — -inf reproduces that (see docstring)
            cos[np.isnan(cos)] = -np.inf
            keep = (cid[:, None] != qi[None, :]).ravel()
            b, nq = len(cid), len(qi)
            yield pd.DataFrame(
                {
                    "q_id": np.tile(qi, b)[keep],
                    "c_id": np.repeat(cid, nq)[keep],
                    "_cos": cos.ravel()[keep],
                }
            )

    scored = corpus.mapInPandas(
        batches, schema="q_id bigint, c_id bigint, _cos double"
    ).withColumn("cos_r", F.round(F.col("_cos"), 6))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_r"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("q_id").alias("vec_id"), F.col("c_id").alias("bf_neighbor"))
    )


@register(
    "dedup_edit_distance",
    # char-histogram L1 prefilter (lossless): one edit changes character
    # counts by L1 <= 2, so lev <= 20 requires L1(hist) <= 40. The
    # hardcoded alphabet (space + a-z) only needs to be a SUBSET of the
    # corpus alphabet to stay sound — uncounted characters can only
    # shrink the computed L1, keeping MORE candidates, never dropping a
    # true pair. At sf0.1 it cuts 1.0M length-blocked pairs to 74k and
    # the (now single) levenshtein runs only on those: 504 s -> ~25 s.
    f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, text, length(text) AS l,
         [{", ".join(f"len(string_split(text, '{c}')) - 1"
                     for c in " abcdefghijklmnopqrstuvwxyz")}] AS hist
  FROM documents
),
cand AS MATERIALIZED (
  SELECT a.doc_id AS da, a.text AS ta, b.doc_id AS db, b.text AS tb
  FROM d a JOIN d b ON a.doc_id < b.doc_id AND abs(a.l - b.l) <= 20
  WHERE list_sum(list_transform(range(1, 28),
                                i -> abs(a.hist[i] - b.hist[i]))) <= 40
),
p AS (SELECT da, db, levenshtein(ta, tb) AS dist FROM cand)
SELECT da AS a, db AS b, CAST(dist AS INT) AS dist
FROM p WHERE dist <= 20
ORDER BY a, b
""",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs (dist <= 20) via length-bucket blocking
    — dist >= |len(a)-len(b)| makes same/adjacent length buckets a
    lossless candidate filter, so no O(n²) cross join reaches the
    quadratic-cost levenshtein kernel."""
    from ..operators.relational import edit_distance_pairs

    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_pairs(docs)


@register(
    "bpe_top_merges",
    f"""
WITH t AS (SELECT unnest({_TOKS}) AS tok FROM documents),
     p AS (SELECT unnest(list_transform(range(1, length(tok)),
                                        i -> substring(tok, i, 2))) AS pair
           FROM t WHERE length(tok) >= 2)
SELECT pair, count(*) AS cnt
FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
""",
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training step: corpus-wide counts of adjacent character
    pairs within word tokens, top-20 merge candidates. Two explodes that
    never leave the scan stage, one hash aggregate with map-side partial
    counts, TakeOrderedAndProject top-k — no shuffle carries raw pairs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


@register(
    "multimodal_audio",
    """
WITH s AS (
  SELECT doc_id, i, (ord(substr(text, i, 1)) - 100) * 256 AS v
  FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
),
f AS (
  SELECT doc_id, i, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id,
       CAST(count(*) AS INT) AS n_samples,
       CAST(8000 AS INT) AS rate,
       CAST(max(abs(v)) AS INT) AS peak,
       CAST(count(*) FILTER (WHERE pv IS NOT NULL AND ((v >= 0) <> (pv >= 0)))
            AS INT) AS zcr,
       round(sqrt(sum(v * v) * 1.0 / count(*)), 6) AS rms
FROM f GROUP BY doc_id ORDER BY doc_id
""",
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality round-trip: synthesize a deterministic PCM16 clip
    from each doc's bytes (sample = (byte - 100) * 256 at 8 kHz), encode
    it as a REAL RIFF/WAVE container, then decode it back with the
    chunk-walking WAV parser and emit exact-integer audio statistics
    (peak, zero-crossing count) plus an RMS computed from an exact
    integer sum of squares. The oracle replays sample construction and
    statistics straight from the text bytes, so a header mis-write,
    chunk misparse, or sample-order corruption anywhere in
    encode_wav/decode_wav hash-mismatches. Arrow-batched mapInPandas,
    one encode+decode per row, one round-robin shuffle before the final
    sort."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import numpy as np

        from ..functions.multimodal import audio_stats, encode_wav

        for pdf in it:
            out = {
                "doc_id": [], "n_samples": [], "rate": [],
                "peak": [], "zcr": [], "rms": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
                samples = (b.astype(np.int64) - 100) * 256
                st = audio_stats(encode_wav(samples.astype(np.int16), 8000))
                out["doc_id"].append(doc_id)
                out["n_samples"].append(st["n_samples"])
                out["rate"].append(st["rate"])
                out["peak"].append(st["peak"])
                out["zcr"].append(st["zcr"])
                out["rms"].append(round(st["rms"], 6))
            yield pd.DataFrame(out)

    stats = docs.mapInPandas(
        batches,
        schema="doc_id bigint, n_samples int, rate int, peak int, zcr int, rms double",
    )
    # a shuffle boundary under the sort, so its range sampler reads the
    # kernel's output instead of re-running it (round_robin)
    return round_robin(stats).orderBy("doc_id")


@register(
    "similarity_recall_gate",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok,
       TRUE AS ivf_trained_recall_ok, TRUE AS pq_recall_ok
FROM embeddings
""",
)
def similarity_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashable recall certificate for the whole ANN family: each
    approximate index (random-hyperplane LSH, IVF, k-means-trained IVF,
    product quantization) must place the brute-force top-1 neighbor in
    its top-3 for at least the threshold fraction of queries (0.3/0.3/
    0.3/0.5 — the same floors the unit tests enforce, chosen for this
    isotropic random corpus where ANN recall is intrinsically hard; real
    clustered embeddings sit far higher). All four methods and the
    brute-force baseline are deterministic, so the booleans are stable;
    a recall regression in any index flips its column and
    hash-mismatches. The companion similarity_* entries keep returning
    the actual neighbor lists (rows-only by design)."""
    from ..functions import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    bf1 = similarity.cosine_topk_bruteforce(emb, k=1).select(
        "vec_id", F.col("neighbor_id").alias("bf_neighbor")
    )
    cents, _ = clustering.kmeans_fit(emb, k=16, max_iter=4)
    methods = {
        # n_cells pinned for the same reason as similarity_ivf: the
        # certificate's documented "16-cell" geometry must not drift
        # with corpus size (auto-sizing would flip to 32 cells past 512
        # rows and change the measured recalls); pinning also skips the
        # sizing count() job over this multi-stage uncached plan
        # (ADVICE r7). scale_rehearsal keeps the auto default covered.
        "lsh": (similarity.lsh_ann_topk(emb, k=3), 0.3),
        "ivf": (similarity.ivf_topk(emb, k=3, n_cells=16), 0.3),
        "ivf_trained": (
            similarity.ivf_topk(emb, k=3, n_cells=16, n_probe=2, centroids=cents),
            0.3,
        ),
        "pq": (similarity.pq_topk(emb, k=3), 0.5),
    }
    n_queries = bf1.count()
    if n_queries == 0:
        # vacuous pass on an empty corpus — no query can miss its
        # (nonexistent) true neighbor, and 0/0 must not raise
        return local_rows(
            spark,
            [(0, True, True, True, True)],
            "n_queries bigint, lsh_recall_ok boolean, ivf_recall_ok boolean, "
            "ivf_trained_recall_ok boolean, pq_recall_ok boolean",
        )
    flags = {}
    for name, (ann, thr) in methods.items():
        hits = (
            bf1.join(
                ann.select("vec_id", F.col("neighbor_id").alias("ann_neighbor")),
                ["vec_id"],
                "left",
            )
            .filter(F.col("ann_neighbor") == F.col("bf_neighbor"))
            .select("vec_id")
            .distinct()
            .count()
        )
        flags[name] = hits / n_queries >= thr
    return local_rows(
        spark,
        [
            (
                n_queries,
                flags["lsh"], flags["ivf"], flags["ivf_trained"], flags["pq"],
            )
        ],
        "n_queries bigint, lsh_recall_ok boolean, ivf_recall_ok boolean, "
        "ivf_trained_recall_ok boolean, pq_recall_ok boolean",
    )


@register(
    "text_zipf_fit",
    """
WITH tf AS (
  SELECT tok, CAST(count(*) AS DOUBLE) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
),
top AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
  FROM tf ORDER BY freq DESC, tok LIMIT 200
)
SELECT CAST(count(*) AS BIGINT) AS n_ranks,
       round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
       round(regr_r2(ln(freq), ln(rank)), 4) AS fit_r2
FROM top
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope
    of log(freq) on log(rank) for the top-200 tokens (natural text
    shows slope ≈ -1; strong deviations flag synthetic or templated
    corpora — a data-quality fingerprint). One explode + one groupBy
    build the frequency table; the rank window runs over the top-200
    TakeOrdered result only, and the regression is the same
    closed-form moment aggregate as regression_price_on_qty."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("double").alias("freq"))
    )
    top = (
        tf.orderBy(F.desc("freq"), "tok")
        .limit(200)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("freq"), "tok")),
        )
    )
    lx, ly = F.log("rank"), F.log("freq")
    slope = F.covar_pop(lx, ly) / F.var_pop(lx)
    return top.agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(F.pow(F.corr(lx, ly), F.lit(2)), 4).alias("fit_r2"),
    )


@register(
    "text_heaps_law",
    """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2 THEN
                  list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i + 1])
                ELSE []::VARCHAR[] END) AS bigram
  FROM t
),
first_seen AS (SELECT bigram, min(doc_id) AS fd FROM bi GROUP BY bigram),
marks AS (
  SELECT DISTINCT n_doc FROM (
  SELECT CAST(quantile_disc(doc_id, 0.1) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.2) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.3) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.4) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.5) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.6) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.7) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.8) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 0.9) AS BIGINT) AS n_doc FROM documents
  UNION ALL SELECT CAST(quantile_disc(doc_id, 1.0) AS BIGINT) AS n_doc FROM documents) q
),
growth AS (
  SELECT m.n_doc,
         CAST(count(*) FILTER (WHERE f.fd <= m.n_doc) AS DOUBLE) AS vocab
  FROM first_seen f CROSS JOIN marks m GROUP BY m.n_doc
)
SELECT CAST(count(*) AS BIGINT) AS n_marks,
       -- same exact-cardinality degeneracy rule as fit_corr below
       -- (round-11 ADVICE symmetry): a degenerate n_doc would divide by
       -- a float variance carrying merge residue. Unreachable today
       -- (marks are DISTINCT n_doc) but guarded identically anyway.
       CASE WHEN count(DISTINCT n_doc) <= 1
            THEN NULL
            ELSE round(covar_pop(ln(CAST(n_doc AS DOUBLE)), ln(vocab))
                       / var_pop(ln(CAST(n_doc AS DOUBLE))), 4)
       END AS heaps_beta,
       -- NOT corr(), and NOT an exact-zero variance guard either
       -- (round-11 boundary net finding): with a constant vocab column
       -- the parallel aggregate merge leaves ~1e-31 variance residue
       -- (k*ln(v) partial sums round differently per thread split), so
       -- corr/NULLIF(var,0) both emit NONDETERMINISTIC garbage
       -- (-0.27..0.34 across runs at the 30x replica). Degeneracy is
       -- therefore declared on EXACT INTEGER cardinality — count
       -- (DISTINCT) of the raw values — which no float merge can
       -- perturb; the Spark side applies the identical rule.
       CASE WHEN count(DISTINCT vocab) <= 1 OR count(DISTINCT n_doc) <= 1
            THEN NULL
            ELSE round(covar_pop(ln(CAST(n_doc AS DOUBLE)), ln(vocab))
                       / (stddev_pop(ln(CAST(n_doc AS DOUBLE)))
                          * stddev_pop(ln(vocab))), 4)
       END AS fit_corr
FROM growth
""",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit (type growth V(n) ~ n^beta) over BIGRAM types —
    the unigram vocabulary of this corpus saturates in the first few
    documents, so bigram types are the smallest unit with a real growth
    curve. Scale shape: each type contributes only its FIRST-occurrence
    doc_id (one groupBy min — no cumulative re-scan per checkpoint),
    and V(n) is a count of first-occurrences <= n against ten broadcast
    doc-id checkpoints; beta comes from the closed-form log-log OLS
    slope. Together with text_zipf_fit this fingerprints whether corpus
    growth and frequency structure look organic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = docs.select("doc_id", toks.alias("toks"))
    bi = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("toks", i),
                        F.element_at("toks", i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    first_seen = bi.groupBy("bigram").agg(F.min("doc_id").alias("fd"))
    marks = docs.agg(
        *[
            F.percentile_approx("doc_id", x / 10.0, F.lit(2147483647))
            .cast("bigint")
            .alias(f"q{x}")
            for x in range(1, 11)
        ]
    ).select(
        F.explode(F.array(*[F.col(f"q{x}") for x in range(1, 11)])).alias(
            "n_doc"
        )
    ).distinct()
    growth = (
        first_seen.crossJoin(F.broadcast(marks))
        .groupBy("n_doc")
        .agg(
            F.sum(F.when(F.col("fd") <= F.col("n_doc"), 1).otherwise(0))
            .cast("double")
            .alias("vocab")
        )
    )
    lx = F.log(F.col("n_doc").cast("double"))
    ly = F.log("vocab")
    # Degenerate-corpus guard (round-10 boundary replica finding, sharpened
    # by the round-11 30x net): on a duplicate-heavy corpus every bigram
    # first occurs before the first checkpoint and vocab is CONSTANT
    # across marks. F.corr would raise DIVIDE_BY_ZERO under ANSI mode;
    # worse, ANY float-variance test (try_divide's exact-0, NULLIF) is
    # unreliable here because parallel aggregate merges leave ~1e-31
    # variance residue on constant columns (k·ln(v) partial sums round
    # differently per partition split — measured nondeterministic
    # -0.27..0.34 "correlations" from DuckDB's merge at 30x). Degeneracy
    # is therefore declared on EXACT INTEGER cardinality of the raw
    # values — merge-proof on both engines; the oracle applies the
    # identical rule. Elsewhere r = cov/(σx·σy), the closed form both
    # engines agree on at 4 dp.
    degenerate = (F.countDistinct("vocab") <= F.lit(1)) | (
        F.countDistinct("n_doc") <= F.lit(1)
    )
    return growth.agg(
        F.count("*").cast("bigint").alias("n_marks"),
        # round-11 ADVICE: heaps_beta gets the SAME exact-cardinality
        # guard as fit_corr (on its divisor's raw column only) — a
        # degenerate n_doc would otherwise divide by merge-residue
        # float variance. Unreachable today (marks are distinct), kept
        # symmetric so the degeneracy policy has no float-path holes.
        F.when(
            F.countDistinct("n_doc") <= F.lit(1),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(F.try_divide(F.covar_pop(lx, ly), F.var_pop(lx)), 4)
        )
        .alias("heaps_beta"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.try_divide(
                    F.covar_pop(lx, ly),
                    F.stddev_pop(lx) * F.stddev_pop(ly),
                ),
                4,
            )
        )
        .alias("fit_corr"),
    )


@register(
    "arrow_token_count",
    """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS n_tok
FROM documents ORDER BY doc_id LIMIT 50
""",
)
def arrow_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow demo — the zero-copy sibling of mapInPandas: batches
    arrive as pyarrow RecordBatches and token counts are computed with
    pyarrow.compute kernels (split_pattern + list_value_length), so the
    Python stage never materializes Python objects per row — Arrow
    buffers in, Arrow buffers out. This is the right API when the
    per-batch work itself is expressible in Arrow kernels; the SQL
    oracle recomputes the same counts relationally, certifying the
    Arrow path end-to-end. Bounded to the first 50 docs purely to keep
    the demo's sweep cost constant."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(50)
        .select("doc_id", "text")
    )

    def count_tokens(batches):
        import numpy as np

        for batch in batches:
            toks = pc.split_pattern(batch.column("text"), " ")
            # count nonempty tokens per row: flatten once, attribute each
            # surviving token back to its parent row — all kernel calls,
            # one tiny numpy scatter-add on the per-batch count vector
            flat = pc.list_flatten(toks)
            keep = pc.not_equal(flat, "")
            parents = pc.list_parent_indices(toks)
            counts = np.zeros(len(batch), dtype="int64")
            np.add.at(
                counts,
                parents.to_numpy(zero_copy_only=False),
                keep.to_numpy(zero_copy_only=False).astype("int64"),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(counts, type=pa.int64())],
                names=["doc_id", "n_tok"],
            )

    out = docs.mapInArrow(count_tokens, "doc_id long, n_tok long")
    return out.orderBy("doc_id")
