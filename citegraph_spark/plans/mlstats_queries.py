"""Statistical-analytics extensions: the numeric-audit layer a training
-data pipeline runs before trusting a corpus (reference scope analogue:
the degree-distribution / hop-plot statistics of Analytics.scala, here
generalized to tabular measures).

Every query is pure JVM column expressions — no Python UDFs — and every
oracle replays the identical math in DuckDB SQL so the driver hash gate
certifies values, not just shapes. Scale notes per query: the only
window sorts run over per-DAY aggregates (bounded by calendar span, not
row count), and every scalar statistic is a one-row broadcast, never a
driver-side loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.local import local_rows
from ..sources.tables import load_table
from .entry_queries import _citations, register

# --------------------------------------------------------------------------
# Chi-square test of independence (returnflag x linestatus)
# --------------------------------------------------------------------------


@register(
    "chi2_flag_status",
    """
WITH obs AS (
  SELECT l_returnflag AS rf, l_linestatus AS ls,
         CAST(count(*) AS DOUBLE) AS o
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT sum(o) AS n FROM obs),
rt AS (SELECT rf, sum(o) AS r FROM obs GROUP BY rf),
ct AS (SELECT ls, sum(o) AS c FROM obs GROUP BY ls)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       round(sum(power(o - r * c / n, 2) / (r * c / n)), 4) AS chi2,
       round(sqrt(sum(power(o - r * c / n, 2) / (r * c / n)) /
             (any_value(n) * least(count(DISTINCT rf) - 1,
                                   count(DISTINCT ls) - 1))), 6) AS cramers_v
FROM obs JOIN rt USING (rf) JOIN ct USING (ls) CROSS JOIN tot
""",
)
def chi2_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of the
    l_returnflag x l_linestatus contingency table. Three tiny aggregates
    (cell counts, row totals, column totals) broadcast-joined back onto
    the cell table — the expensive part is ONE groupBy over the fact
    table; everything after operates on a handful of rows. At 100 TB the
    contingency table is still |rf|x|ls| rows, so the plan is scan +
    one shuffle regardless of data size."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = (
        li.groupBy(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
        )
        .agg(F.count("*").cast("double").alias("o"))
        # persist barrier: obs feeds four branches (cells + three
        # marginals); without it Catalyst re-expands the subtree and the
        # fact table is scanned and shuffled four times
        .persist()
    )
    tot = obs.agg(F.sum("o").alias("n"))
    rt = obs.groupBy("rf").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("ls").agg(F.sum("o").alias("c"))
    e = F.col("r") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "rf")
        .join(F.broadcast(ct), "ls")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.round(F.sum(F.pow(F.col("o") - e, F.lit(2)) / e), 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.sum(F.pow(F.col("o") - e, F.lit(2)) / e)
                    / (
                        F.first("n")
                        * F.least(
                            F.countDistinct("rf") - 1,
                            F.countDistinct("ls") - 1,
                        )
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


# --------------------------------------------------------------------------
# Pairwise Pearson correlation (tidy output)
# --------------------------------------------------------------------------

_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
]

_CORR_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{x}' AS x_col, '{y}' AS y_col, "
    f"round(corr({x}, {y}), 6) AS pearson_r FROM lineitem"
    for x, y in _CORR_PAIRS
) + "\nORDER BY x_col, y_col"


@register("corr_lineitem_measures", _CORR_ORACLE)
def corr_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tidy pairwise Pearson correlation of the lineitem numeric
    measures — the feature-redundancy screen run before model training.
    All four coefficients come out of ONE aggregate over one scan
    (Catalyst collapses the four corr() co-moment updates into a single
    partial-aggregate pass), then a stack() to tidy rows. Zero joins,
    zero Python."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.round(F.corr(x, y), 6).alias(f"c{i}")
        for i, (x, y) in enumerate(_CORR_PAIRS)
    ]
    wide = li.agg(*aggs)
    stack_expr = "stack({n}, {args}) as (x_col, y_col, pearson_r)".format(
        n=len(_CORR_PAIRS),
        args=", ".join(
            f"'{x}', '{y}', c{i}" for i, (x, y) in enumerate(_CORR_PAIRS)
        ),
    )
    return wide.select(F.expr(stack_expr)).orderBy("x_col", "y_col")


# --------------------------------------------------------------------------
# OLS simple regression per group (price ~ quantity)
# --------------------------------------------------------------------------


@register(
    "regression_price_on_qty",
    """
SELECT l_returnflag AS rf,
       round(regr_slope(l_extendedprice, l_quantity), 2) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY rf ORDER BY rf
""",
)
def regression_price_on_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple OLS (extendedprice ~ quantity) from closed-form
    moments: slope = cov_pop(x,y)/var_pop(x), intercept = E[y]-b*E[x],
    r2 = corr^2 — all five moments computed in ONE hash aggregate per
    group (map-side combinable, one shuffle on l_returnflag). This is
    the moment-sketch formulation that makes linear regression a
    constant-state streaming aggregate at any scale; DuckDB's
    regr_slope/regr_intercept/regr_r2 are the oracle for the same
    closed form."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    slope = F.covar_pop(x, y) / F.var_pop(x)
    return (
        li.groupBy(F.col("l_returnflag").alias("rf"))
        .agg(
            F.round(slope, 2).alias("slope"),
            F.round(F.avg(y) - slope * F.avg(x), 2).alias("intercept"),
            F.round(F.pow(F.corr(x, y), F.lit(2)), 6).alias("r2"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("rf")
    )


# --------------------------------------------------------------------------
# Autocorrelation of the daily event-count series
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3)

_ACF_ORACLE = (
    "WITH daily AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS c "
    "FROM events GROUP BY 1)\n"
    + "\nUNION ALL\n".join(
        f"SELECT {k} AS lag_days, round(corr(a.c, b.c), 6) AS acf "
        f"FROM daily a JOIN daily b ON b.d = a.d + INTERVAL {k} DAY"
        for k in _ACF_LAGS
    )
    + "\nORDER BY lag_days"
)


@register("events_autocorr", _ACF_ORACLE)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-count series at lags
    1-3, computed as Pearson corr between the series and its k-shifted
    self via an equi-join on date arithmetic — NOT a single-partition
    window. The raw-event scan reduces to one row per day before any
    join, so the lag joins run over a calendar-bounded series (a few
    hundred rows at any data scale) and broadcast automatically."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
        # persist barrier: one raw-event scan total, not one per lag
        .persist()
    )
    parts = []
    for k in _ACF_LAGS:
        b = daily.select(F.col("d").alias("d2"), F.col("c").alias("c2"))
        parts.append(
            daily.join(b, F.col("d2") == F.date_add(F.col("d"), k))
            .agg(
                F.lit(k).alias("lag_days"),
                F.round(F.corr("c", "c2"), 6).alias("acf"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("lag_days")


# --------------------------------------------------------------------------
# Robust outliers: median / MAD z-score
# --------------------------------------------------------------------------


@register(
    "mad_outlier_prices",
    """
WITH xs AS (SELECT l_extendedprice AS x FROM lineitem),
m AS (SELECT quantile_cont(x, 0.5) AS med FROM xs),
d AS (SELECT x, med FROM xs CROSS JOIN m),
s AS (SELECT med, quantile_cont(abs(x - med), 0.5) AS mad FROM d GROUP BY med)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE abs(0.6745 * (x - med) / mad) > 3.5)
            AS BIGINT) AS n_outliers,
       round(any_value(med), 2) AS med,
       round(any_value(mad), 2) AS mad
FROM xs CROSS JOIN s
""",
)
def mad_outlier_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screen on l_extendedprice — the
    outlier detector that, unlike mean/stddev z-scores, is not itself
    corrupted by the outliers it hunts. Two exact-percentile aggregates
    (median, then median absolute deviation) each reduce to one row and
    broadcast back; the flagging pass is a stateless filter. Exact
    percentile at 100 TB is the one genuinely rank-based step — swap
    F.percentile for percentile_approx at a documented error bound when
    the column no longer fits the sort budget (same contract as
    approx_percentile_prices)."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    xdf = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("x")
    )
    # Fan the cache out to the session's shuffle parallelism (r13, guide
    # §2.6): the split-size formula pins this 11 MB scan to ~3
    # partitions, so both EXACT percentile aggregates — the query's
    # dominant, sort-heavy work — ran 3-task-bound on a 32-core session.
    # r14 revisions after the driver measured the r13 round-robin
    # repartition -10%: (a) hash-partition on the value instead of
    # round-robin — a keyless repartition(n) pays a full local
    # sort-before-repartition pass (SPARK-23207) that the hash exchange
    # skips, and the near-unique price column spreads evenly; (b) guard
    # on the scan's actual partition count so the exchange only happens
    # when the scan really is narrower than the session parallelism
    # (scale-adaptive: wider inputs skip it entirely). Exact percentile
    # and the flag sums are partition-layout-independent (scramble
    # boards), so results are unchanged.
    if xdf.rdd.getNumPartitions() < n_shuffle:
        xdf = xdf.repartition(n_shuffle, F.col("x"))
    xdf = xdf.persist()
    med = xdf.agg(F.percentile("x", F.lit(0.5)).alias("med"))
    dev = xdf.crossJoin(F.broadcast(med))
    stats = dev.groupBy("med").agg(
        F.percentile(F.abs(F.col("x") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    z = F.abs(F.lit(0.6745) * (F.col("x") - F.col("med")) / F.col("mad"))
    return xdf.crossJoin(F.broadcast(stats)).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.when(z > 3.5, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        F.round(F.first("med"), 2).alias("med"),
        F.round(F.first("mad"), 2).alias("mad"),
    )


# --------------------------------------------------------------------------
# CUSUM changepoint on the daily event-count series
# --------------------------------------------------------------------------


@register(
    "events_cusum_changepoint",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1
),
m AS (SELECT avg(c) AS mu FROM daily),
cs AS (
  SELECT d, sum(c - mu) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM daily CROSS JOIN m
)
SELECT d AS change_day, round(abs(cusum), 4) AS max_dev
FROM cs ORDER BY abs(cusum) DESC, d LIMIT 1
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection (Page 1954): the day where the
    cumulative deviation of the daily count from its global mean peaks
    — the classic level-shift locator for monitoring ingest pipelines.
    The cumulative window runs over the per-day aggregate (calendar-
    bounded, tiny), never the raw events, so the unpartitioned ordered
    window is safe at any data scale; the raw scan contributes exactly
    one groupBy shuffle."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
        .persist()  # scanned by both the mean and the cumsum branch
    )
    from pyspark.sql import Window

    mu = daily.agg(F.avg("c").alias("mu"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cs = daily.crossJoin(F.broadcast(mu)).withColumn(
        "cusum", F.sum(F.col("c") - F.col("mu")).over(w)
    )
    return (
        cs.select(
            F.col("d").alias("change_day"),
            F.round(F.abs("cusum"), 4).alias("max_dev"),
            F.abs("cusum").alias("_k"),
        )
        .orderBy(F.desc("_k"), "change_day")
        .limit(1)
        .drop("_k")
    )


# --------------------------------------------------------------------------
# Distributed logistic regression (full-batch GD, pure JVM aggregates)
# --------------------------------------------------------------------------


@register(
    "logreg_train_gate",
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(20 AS INT) AS n_iters,
       TRUE AS loss_decreased,
       TRUE AS grad_norm_shrunk
FROM lineitem
""",
)
def logreg_train_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression trained with full-batch gradient
    descent where EVERY iteration is one JVM-side hash aggregate — no
    Python UDF anywhere: the current weights enter the plan as literals,
    sigmoid/softplus are Catalyst expressions, and the gradient is d+1
    map-side-combinable sums (constant aggregation state, one scan of
    the cached feature projection per step, O(d) driver traffic per
    round). That aggregate shape is exactly how distributed L-BFGS /
    minibatch SGD scale this to 100 TB — only the step rule changes.

    Task: predict (l_extendedprice > 30000) from quantity/discount/tax
    (quantity drives price in this schema, so the problem is genuinely
    learnable). The gate certifies optimization behavior — training
    loss strictly decreased and the gradient infinity-norm at least
    halved over 20 steps — booleans robust to float noise, so the row
    is driver-hashable; exact-weight parity is pinned by the unit test
    against a numpy reference implementation instead."""
    from pyspark.storagelevel import StorageLevel

    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        (F.col("l_extendedprice") > 30000).cast("double").alias("y"),
        F.lit(1.0).alias("f0"),
        (F.col("l_quantity") / 50.0).alias("f1"),
        (F.col("l_discount") * 10.0).alias("f2"),
        (F.col("l_tax") * 10.0).alias("f3"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    from ..lineage import _aqe_off_for_rounds

    d = 4
    w = [0.0] * d
    lr = 1.5
    n_iters = 20
    first = last = None
    n_rows = 0
    # AQE off for the iteration loop (r13, guide §1.2): each step is one
    # aggregate over the cached projection — there is no exchange for
    # AQE to adapt, and its per-job stage materialization added ~0.03 s
    # to every one of the 20 steps (A/B: 4.6 -> 3.9 s warm; the
    # broadcast-weights and codegen-off alternatives both measured
    # slower). Restores the session setting on exit.
    with _aqe_off_for_rounds(spark, True):
        for _ in range(n_iters):
            z = sum(F.lit(w[j]) * F.col(f"f{j}") for j in range(d))
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            # numerically stable softplus:
            # log(1+e^z) = max(z,0)+log1p(e^-|z|)
            loss = F.greatest(z, F.lit(0.0)) - F.col("y") * z + F.log1p(
                F.exp(-F.abs(z))
            )
            aggs = [F.sum((p - F.col("y")) * F.col(f"f{j}")).alias(f"g{j}")
                    for j in range(d)]
            row = feats.agg(
                *aggs, F.sum(loss).alias("loss"), F.count("*").alias("n")
            ).collect()[0]
            n_rows = row["n"]
            grad = [row[f"g{j}"] / n_rows for j in range(d)]
            last = (row["loss"] / n_rows, max(abs(g) for g in grad))
            if first is None:
                first = last
            w = [w[j] - lr * grad[j] for j in range(d)]
    feats.unpersist()
    return local_rows(
        spark,
        [(
            n_rows,
            n_iters,
            bool(last[0] < first[0]),
            bool(last[1] < 0.5 * first[1]),
        )],
        "n_rows long, n_iters int, loss_decreased boolean, "
        "grad_norm_shrunk boolean",
    )


# --------------------------------------------------------------------------
# Coreset selection: greedy k-center (farthest-first traversal)
# --------------------------------------------------------------------------

_KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "c1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)",
        "m1 AS (SELECT e.vec_id, e.v, "
        "list_distance(e.v, (SELECT v FROM c1)) AS mind FROM e)",
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"c{i} AS (SELECT vec_id, v, mind FROM m{i - 1} "
            f"ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"m{i} AS (SELECT m.vec_id, m.v, least(m.mind, "
                f"list_distance(m.v, (SELECT v FROM c{i}))) AS mind "
                f"FROM m{i - 1} m)"
            )
    sel = [
        "SELECT 1 AS center_rank, (SELECT vec_id FROM c1) AS vec_id, "
        "0.0 AS radius"
    ] + [
        f"SELECT {i}, (SELECT vec_id FROM c{i}), "
        f"(SELECT round(mind, 6) FROM c{i})"
        for i in range(2, k + 1)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(sel)
        + "\nORDER BY center_rank"
    )


@register("coreset_kcenter", _kcenter_oracle(_KCENTER_K))
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-driven coreset selection over the embedding corpus:
    greedy k-center / farthest-first traversal (Gonzalez 1985), the
    standard primitive for picking a maximally-spread training subset.
    Output is the selection trajectory — (rank, chosen vector, its
    max-min radius at selection time); the radius sequence is weakly
    decreasing and 2-approximates the optimal k-center radius. The
    DuckDB oracle replays the identical greedy unrolled as k CTE steps,
    certifying every chosen id AND radius value. See kcenter_greedy for
    the per-round scan + max_by distributed shape."""
    from ..functions.clustering import kcenter_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    sel = kcenter_greedy(emb, _KCENTER_K)
    return (
        local_rows(
            spark, sel, "center_rank int, vec_id long, radius double"
        )
        .select(
            "center_rank", "vec_id", F.round("radius", 6).alias("radius")
        )
        .orderBy("center_rank")
    )


# --------------------------------------------------------------------------
# PCA: top principal component by distributed power iteration
# --------------------------------------------------------------------------


@register(
    "pca_power_gate",
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(12 AS INT) AS n_iters,
       TRUE AS rayleigh_increased,
       TRUE AS residual_below_tol
FROM embeddings
""",
)
def pca_power_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by distributed
    power iteration (see pca_power_top1: one d+1-sum JVM aggregate per
    step via the s - t*mu moment identity — no covariance matrix, no
    Python row path). The gate certifies optimization behavior robust
    to float noise: the Rayleigh quotient rose over the 12 steps and
    the final relative residual ||Cv - lam*v||/lam is below 0.1; exact
    trajectory parity (same start vector, same step count) is pinned to
    a numpy reference in the unit test."""
    from ..functions.clustering import pca_power_top1

    emb = load_table(spark, sf_dir, "embeddings")
    n, lams, _vec, resid = pca_power_top1(emb, n_iters=12)
    return local_rows(
        spark,
        [(n, 12, bool(lams[-1] > lams[0]), bool(resid < 0.1))],
        "n_rows long, n_iters int, rayleigh_increased boolean, "
        "residual_below_tol boolean",
    )


# --------------------------------------------------------------------------
# Key-skew audit (the shuffle-health check behind salting decisions)
# --------------------------------------------------------------------------


@register(
    "dq_key_skew",
    """
WITH counts AS (
  SELECT l_partkey AS k, CAST(count(*) AS DOUBLE) AS c
  FROM lineitem GROUP BY 1
),
tot AS (
  SELECT sum(c) AS s, count(*) AS nk, max(c) AS mx,
         quantile_cont(c, 0.99) AS p99, quantile_cont(c, 0.5) AS med
  FROM counts
),
top10 AS (
  SELECT sum(c) AS t
  FROM (SELECT c FROM counts ORDER BY c DESC, k LIMIT 10)
)
SELECT CAST(nk AS BIGINT) AS n_keys, CAST(mx AS BIGINT) AS max_cnt,
       round(p99 / med, 6) AS p99_over_median,
       round(t / s, 6) AS top10_share
FROM tot CROSS JOIN top10
""",
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew audit for l_partkey — the measurement that
    decides whether a key needs salting or AQE skew handling BEFORE the
    big join runs. Deliberately avoids a global rank: max, exact p99 /
    median over the per-key count table, and a top-10 share via
    TakeOrderedAndProject — no single-partition window anywhere, so the
    audit itself scales to the key cardinalities where it matters."""
    counts = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count("*").cast("double").alias("c"))
        .persist()  # feeds both the moment pass and the top-10 pass
    )
    tot = counts.agg(
        F.sum("c").alias("s"),
        F.count("*").alias("nk"),
        F.max("c").alias("mx"),
        F.percentile("c", F.lit(0.99)).alias("p99"),
        F.percentile("c", F.lit(0.5)).alias("med"),
    )
    top10 = (
        counts.orderBy(F.desc("c"), "k")
        .limit(10)
        .agg(F.sum("c").alias("t"))
    )
    return tot.crossJoin(top10).select(
        F.col("nk").cast("bigint").alias("n_keys"),
        F.col("mx").cast("bigint").alias("max_cnt"),
        F.round(F.col("p99") / F.col("med"), 6).alias("p99_over_median"),
        F.round(F.col("t") / F.col("s"), 6).alias("top10_share"),
    )


# --------------------------------------------------------------------------
# Cross-corpus token divergence (Jensen-Shannon between top-2 languages)
# --------------------------------------------------------------------------


@register(
    "text_js_divergence",
    """
WITH langs AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
pick AS (
  SELECT lang, row_number() OVER (ORDER BY c DESC, lang) AS rn FROM langs
),
tokens AS (
  SELECT p.rn, unnest(string_split(d.text, ' ')) AS tok
  FROM documents d JOIN pick p ON d.lang = p.lang AND p.rn <= 2
),
tf AS (
  SELECT rn, tok, CAST(count(*) AS DOUBLE) AS c
  FROM tokens WHERE tok <> '' GROUP BY 1, 2
),
vocab AS (SELECT count(DISTINCT tok) AS v FROM tf),
n AS (SELECT rn, sum(c) AS n FROM tf GROUP BY rn),
joined AS (
  SELECT coalesce(a.tok, b.tok) AS tok,
         coalesce(a.c, 0) AS ca, coalesce(b.c, 0) AS cb
  FROM (SELECT tok, c FROM tf WHERE rn = 1) a
  FULL OUTER JOIN (SELECT tok, c FROM tf WHERE rn = 2) b USING (tok)
),
dist AS (
  SELECT (ca + 1) / ((SELECT n FROM n WHERE rn = 1) + v) AS p,
         (cb + 1) / ((SELECT n FROM n WHERE rn = 2) + v) AS q
  FROM joined CROSS JOIN vocab
)
SELECT (SELECT lang FROM pick WHERE rn = 1) AS lang_a,
       (SELECT lang FROM pick WHERE rn = 2) AS lang_b,
       round(-sum(p * ln(p)), 6) AS entropy_a,
       round(-sum(q * ln(q)), 6) AS entropy_b,
       round(0.5 * sum(p * ln(p / ((p + q) / 2)))
           + 0.5 * sum(q * ln(q / ((p + q) / 2))), 6) AS js_divergence
FROM dist
""",
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram distributions of
    the corpus's two largest languages (add-1 smoothing over the union
    vocabulary, so both distributions are strictly positive and JS is
    finite) plus each side's token entropy — the domain-mix / corpus-
    drift comparison a data pipeline runs when deciding mixing weights.
    One explode + one groupBy per side over the token space; the final
    divergence is a single aggregate over the joined vocabulary, and
    the only window orders the handful of language rows."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    pick = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("c"), "lang")),
        )
        .filter(F.col("rn") <= 2)
        .select("lang", "rn")
    )
    tokens = (
        docs.join(F.broadcast(pick), "lang")
        .select("rn", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    tf = (
        tokens.groupBy("rn", "tok")
        .agg(F.count("*").cast("double").alias("c"))
        # persist barrier: tf feeds vocab, per-side totals, and both
        # distribution sides — one explode+shuffle, not four
        .persist()
    )
    vocab = tf.agg(F.countDistinct("tok").alias("v"))
    n = tf.groupBy("rn").agg(F.sum("c").alias("n"))
    a = tf.filter(F.col("rn") == 1).select("tok", F.col("c").alias("ca"))
    b = tf.filter(F.col("rn") == 2).select("tok", F.col("c").alias("cb"))
    na = n.filter(F.col("rn") == 1).select(F.col("n").alias("na"))
    nb = n.filter(F.col("rn") == 2).select(F.col("n").alias("nb"))
    joined = (
        a.join(b, "tok", "full_outer")
        .na.fill({"ca": 0.0, "cb": 0.0})
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
    )
    p = (F.col("ca") + 1) / (F.col("na") + F.col("v"))
    q = (F.col("cb") + 1) / (F.col("nb") + F.col("v"))
    m = (p + q) / 2
    agg = joined.agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy_a"),
        F.round(-F.sum(q * F.log(q)), 6).alias("entropy_b"),
        F.round(
            0.5 * F.sum(p * F.log(p / m)) + 0.5 * F.sum(q * F.log(q / m)), 6
        ).alias("js_divergence"),
    )
    names = pick.orderBy("rn").collect()
    return agg.select(
        F.lit(names[0]["lang"]).alias("lang_a"),
        F.lit(names[1]["lang"]).alias("lang_b"),
        "entropy_a", "entropy_b", "js_divergence",
    )


# --------------------------------------------------------------------------
# Welch's two-sample t-test (unequal variances)
# --------------------------------------------------------------------------


@register(
    "ab_welch_ttest",
    """
WITH pick AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type)
         AS rn
  FROM events GROUP BY event_type
),
g AS (
  SELECT p.rn, avg(e.value) AS m, var_samp(e.value) AS s2,
         CAST(count(*) AS DOUBLE) AS n
  FROM events e JOIN pick p ON e.event_type = p.event_type AND p.rn <= 2
  GROUP BY p.rn
),
w AS (
  SELECT a.m AS ma, b.m AS mb, a.s2 / a.n AS va, b.s2 / b.n AS vb,
         a.n AS na, b.n AS nb
  FROM (SELECT * FROM g WHERE rn = 1) a, (SELECT * FROM g WHERE rn = 2) b
)
SELECT (SELECT event_type FROM pick WHERE rn = 1) AS type_a,
       (SELECT event_type FROM pick WHERE rn = 2) AS type_b,
       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
       round((ma - mb) / sqrt(va + vb), 6) AS t_stat,
       round(power(va + vb, 2) /
             (power(va, 2) / (na - 1) + power(vb, 2) / (nb - 1)), 4)
         AS welch_dof
FROM w
""",
)
def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the two most
    frequent event types — the A/B significance primitive. All inputs
    (mean, sample variance, count per arm) come from ONE hash aggregate
    over the fact table (one shuffle on event_type); the t statistic
    and Welch-Satterthwaite degrees of freedom are scalar arithmetic on
    the two aggregate rows. Constant state per arm — the identical plan
    at any event volume."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pick = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), "event_type"))
        )
        .filter(F.col("rn") <= 2)
        .select("event_type", "rn")
    )
    g = (
        ev.join(F.broadcast(pick), "event_type")
        .groupBy("rn")
        .agg(
            F.avg("value").alias("m"),
            F.var_samp("value").alias("s2"),
            F.count("*").cast("double").alias("n"),
        )
        .persist()
    )
    a = g.filter(F.col("rn") == 1).select(
        F.col("m").alias("ma"), (F.col("s2") / F.col("n")).alias("va"),
        F.col("n").alias("na"),
    )
    b = g.filter(F.col("rn") == 2).select(
        F.col("m").alias("mb"), (F.col("s2") / F.col("n")).alias("vb"),
        F.col("n").alias("nb"),
    )
    names = pick.orderBy("rn").collect()
    va, vb = F.col("va"), F.col("vb")
    return a.crossJoin(b).select(
        F.lit(names[0]["event_type"]).alias("type_a"),
        F.lit(names[1]["event_type"]).alias("type_b"),
        F.round("ma", 6).alias("mean_a"),
        F.round("mb", 6).alias("mean_b"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(va + vb), 6).alias(
            "t_stat"
        ),
        F.round(
            F.pow(va + vb, F.lit(2))
            / (
                F.pow(va, F.lit(2)) / (F.col("na") - 1)
                + F.pow(vb, F.lit(2)) / (F.col("nb") - 1)
            ),
            4,
        ).alias("welch_dof"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier survival curve (time between a user's first two events)
# --------------------------------------------------------------------------


@register(
    "events_kaplan_meier",
    """
WITH ranked AS (
  SELECT user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
),
mx AS (SELECT max(ts) AS mts FROM events),
durs AS (
  SELECT f.user_id,
         CASE WHEN s.ts IS NOT NULL
              THEN CAST(floor(epoch(s.ts - f.ts) / 60) AS BIGINT)
              ELSE CAST(floor(epoch(mx.mts - f.ts) / 60) AS BIGINT)
         END AS t,
         CASE WHEN s.ts IS NOT NULL THEN 1 ELSE 0 END AS observed
  FROM (SELECT user_id, ts FROM ranked WHERE rn = 1) f
  LEFT JOIN (SELECT user_id, ts FROM ranked WHERE rn = 2) s
    USING (user_id) CROSS JOIN mx
),
hist AS (
  SELECT t, CAST(count(*) AS DOUBLE) AS c, CAST(sum(observed) AS DOUBLE) AS d
  FROM durs GROUP BY t
),
km AS (
  SELECT t, d,
         sum(c) OVER (ORDER BY t DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS n_risk
  FROM hist
),
curve AS (
  SELECT t, d, n_risk,
         exp(sum(ln(1 - d / n_risk))
             OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS s
  FROM km WHERE d > 0 AND d < n_risk
)
SELECT t AS t_minutes, CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS d_events, round(s, 6) AS survival
FROM curve ORDER BY t LIMIT 15
""",
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of the time (whole minutes)
    between a user's first and second event; users who never produce a
    second event are right-censored at the corpus horizon — the classic
    churn/time-to-activation curve. Scale shape: durations reduce to
    one row per user (one shuffle), then to a duration HISTOGRAM, so
    the at-risk counts are a reverse cumulative sum and the survival
    product an exp-of-cumulative-log over the bounded distinct-minute
    axis — never a window over raw events. Terminal point (d = n_risk,
    survival 0) excluded so the log-product stays finite in both
    engines. Durations use unix_micros (microsecond-exact, matching
    DuckDB's epoch(interval)); unix_timestamp truncates to whole
    seconds and can land boundary rows in a different minute bucket."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ranked = ev.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    f = ranked.filter(F.col("rn") == 1).select("user_id", F.col("ts").alias("t1"))
    s = ranked.filter(F.col("rn") == 2).select("user_id", F.col("ts").alias("t2"))
    mx = ev.agg(F.max("ts").alias("mts"))
    durs = (
        f.join(s, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.when(
                F.col("t2").isNotNull(),
                F.floor(
                    (
                        F.unix_micros(F.col("t2").cast("timestamp"))
                        - F.unix_micros(F.col("t1").cast("timestamp"))
                    )
                    / 60e6
                ),
            )
            .otherwise(
                F.floor(
                    (
                        F.unix_micros(F.col("mts").cast("timestamp"))
                        - F.unix_micros(F.col("t1").cast("timestamp"))
                    )
                    / 60e6
                )
            )
            .cast("bigint")
            .alias("t"),
            F.when(F.col("t2").isNotNull(), 1).otherwise(0).alias("observed"),
        )
    )
    hist = durs.groupBy("t").agg(
        F.count("*").cast("double").alias("c"),
        F.sum("observed").cast("double").alias("d"),
    )
    w_desc = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    km = hist.select(
        "t", "d", F.sum("c").over(w_desc).alias("n_risk")
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        km.filter((F.col("d") > 0) & (F.col("d") < F.col("n_risk")))
        .withColumn(
            "s",
            F.exp(
                F.sum(F.log(F.lit(1.0) - F.col("d") / F.col("n_risk"))).over(
                    w_asc
                )
            ),
        )
    )
    return (
        curve.select(
            F.col("t").alias("t_minutes"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.col("d").cast("bigint").alias("d_events"),
            F.round("s", 6).alias("survival"),
        )
        .orderBy("t_minutes")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test via midranks from the value histogram
# --------------------------------------------------------------------------


@register(
    "ab_mann_whitney",
    """
WITH pick AS (
  SELECT event_type, row_number() OVER (ORDER BY count(*) DESC, event_type)
         AS rn
  FROM events GROUP BY event_type
),
vals AS (
  SELECT p.rn, e.value AS v
  FROM events e JOIN pick p ON e.event_type = p.event_type AND p.rn <= 2
),
hist AS (
  SELECT v, CAST(count(*) AS DOUBLE) AS c,
         CAST(count(*) FILTER (WHERE rn = 1) AS DOUBLE) AS ca
  FROM vals GROUP BY v
),
mr AS (
  SELECT v, c, ca,
         coalesce(sum(c) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (c + 1) / 2 AS midrank
  FROM hist
),
agg AS (
  SELECT sum(ca * midrank) AS ra, sum(ca) AS na, sum(c) - sum(ca) AS nb,
         sum(c) AS n, sum(power(c, 3) - c) AS ties
  FROM mr
)
SELECT (SELECT event_type FROM pick WHERE rn = 1) AS type_a,
       (SELECT event_type FROM pick WHERE rn = 2) AS type_b,
       round(ra - na * (na + 1) / 2, 4) AS u_stat,
       round((ra - na * (na + 1) / 2 - na * nb / 2) /
             sqrt(na * nb / 12 * ((n + 1) - ties / (n * (n - 1)))), 6)
         AS z_score
FROM agg
""",
)
def ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two most frequent
    event types, with the tie-corrected normal approximation — the
    nonparametric counterpart to ab_welch_ttest. Midranks come from the
    VALUE HISTOGRAM (cumulative count + (c+1)/2), never from ranking
    raw rows: the only ordered window runs over distinct values, which
    is how a rank test stays feasible when the raw table doesn't fit a
    global sort — bucket the measure first if even the distinct-value
    axis explodes."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    pick = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn", F.row_number().over(Window.orderBy(F.desc("c"), "event_type"))
        )
        .filter(F.col("rn") <= 2)
        .select("event_type", "rn")
    )
    vals = ev.join(F.broadcast(pick), "event_type").select(
        "rn", F.col("value").alias("v")
    )
    hist = vals.groupBy("v").agg(
        F.count("*").cast("double").alias("c"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("double")
        .alias("ca"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    mr = hist.withColumn(
        "midrank",
        F.coalesce(F.sum("c").over(w), F.lit(0.0)) + (F.col("c") + 1) / 2,
    )
    agg = mr.agg(
        F.sum(F.col("ca") * F.col("midrank")).alias("ra"),
        F.sum("ca").alias("na"),
        (F.sum("c") - F.sum("ca")).alias("nb"),
        F.sum("c").alias("n"),
        F.sum(F.pow(F.col("c"), F.lit(3)) - F.col("c")).alias("ties"),
    )
    names = pick.orderBy("rn").collect()
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2
    return agg.select(
        F.lit(names[0]["event_type"]).alias("type_a"),
        F.lit(names[1]["event_type"]).alias("type_b"),
        F.round(u, 4).alias("u_stat"),
        F.round(
            (u - F.col("na") * F.col("nb") / 2)
            / F.sqrt(
                F.col("na")
                * F.col("nb")
                / 12
                * (
                    (F.col("n") + 1)
                    - F.col("ties") / (F.col("n") * (F.col("n") - 1))
                )
            ),
            6,
        ).alias("z_score"),
    )


# --------------------------------------------------------------------------
# Classical seasonal decomposition of the daily event-count series
# --------------------------------------------------------------------------


@register(
    "events_seasonal_decompose",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1
),
tr AS (
  SELECT d, c,
         avg(c) OVER w AS trend,
         count(*) OVER w AS wn
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
  SELECT (CAST(d - DATE '1970-01-01' AS INT) % 7) AS dow, c - trend AS dt
  FROM tr WHERE wn = 7
)
SELECT dow, round(avg(dt), 4) AS seasonal,
       CAST(count(*) AS BIGINT) AS n_days,
       round(stddev_pop(dt), 4) AS resid_sd
FROM detr GROUP BY dow ORDER BY dow
""",
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical (moving-average) seasonal decomposition of the daily
    event-count series: trend = centered 7-day moving average, seasonal
    = mean of the detrended series per weekday, residual spread =
    per-weekday stddev of the detrended values. Weekday is computed as
    days-since-epoch mod 7 — identical arithmetic in both engines, no
    locale-dependent dayofweek. Edge days without a complete 7-day
    window are excluded (wn = 7) so ROWS-frame semantics agree exactly.
    The windows run over the per-day aggregate only — calendar-bounded,
    never over raw events."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d", "c",
        F.avg("c").over(w).alias("trend"),
        F.count("*").over(w).alias("wn"),
    )
    detr = tr.filter(F.col("wn") == 7).select(
        (F.datediff("d", F.lit("1970-01-01")) % 7).alias("dow"),
        (F.col("c") - F.col("trend")).alias("dt"),
    )
    return (
        detr.groupBy("dow")
        .agg(
            F.round(F.avg("dt"), 4).alias("seasonal"),
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.stddev_pop("dt"), 4).alias("resid_sd"),
        )
        .orderBy("dow")
    )


# --------------------------------------------------------------------------
# Deterministic bootstrap confidence interval (md5 resampling)
# --------------------------------------------------------------------------

_BOOT_B = 200


@register(
    "bootstrap_ci_daily_mean",
    f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1
),
idx AS (
  SELECT row_number() OVER (ORDER BY d) AS i, c FROM daily
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
draws AS (
  SELECT b.b,
         1 + (('0x' || substring(md5(CAST(b.b AS VARCHAR) || '|' ||
                                     CAST(r.i AS VARCHAR)), 1, 8))::BIGINT
              % n.n) AS pick
  FROM (SELECT unnest(range(1, {_BOOT_B} + 1)) AS b) b
  CROSS JOIN idx r CROSS JOIN n
),
means AS (
  SELECT d.b, avg(idx.c) AS m
  FROM draws d JOIN idx ON idx.i = d.pick
  GROUP BY d.b
)
SELECT CAST({_BOOT_B} AS INT) AS n_boot,
       round(quantile_cont(m, 0.025), 4) AS ci_lo,
       round(quantile_cont(m, 0.5), 4) AS ci_mid,
       round(quantile_cont(m, 0.975), 4) AS ci_hi
FROM means
""",
)
def bootstrap_ci_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric bootstrap CI for the mean daily event count, with
    FULLY deterministic resampling: draw (b, i) -> index is the shared
    md5-uniform idiom (conv(substring(md5,1,8),16,10) == DuckDB hex
    cast), so both engines materialize the identical 200 resamples and
    the driver hash certifies the whole CI, not just its shape. The
    resample space is B x n_days rows over the per-day AGGREGATE
    (calendar-bounded) — raw events are scanned exactly once; at any
    data scale the bootstrap cost is O(B * days), independent of event
    volume."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "c"
    ).persist()
    n = idx.count()
    b = spark.range(1, _BOOT_B + 1).select(F.col("id").alias("b"))
    pick = 1 + (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("b").cast("string"), F.col("i").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % n
    )
    draws = b.crossJoin(idx.select("i")).select("b", pick.alias("pick"))
    means = (
        draws.join(
            F.broadcast(idx.select(F.col("i").alias("pick"), "c")), "pick"
        )
        .groupBy("b")
        .agg(F.avg("c").alias("m"))
    )
    return means.agg(
        F.lit(_BOOT_B).cast("int").alias("n_boot"),
        F.round(F.percentile("m", F.lit(0.025)), 4).alias("ci_lo"),
        F.round(F.percentile("m", F.lit(0.5)), 4).alias("ci_mid"),
        F.round(F.percentile("m", F.lit(0.975)), 4).alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# Degree assortativity of the citation mapping (Newman 2002)
# --------------------------------------------------------------------------


@register(
    "graph_assortativity",
    """
WITH cit AS (
  SELECT CAST(l_orderkey AS INT) AS f, CAST(l_partkey AS INT) AS t
  FROM lineitem
),
und AS (
  SELECT f, t FROM cit WHERE f <> t
  UNION
  SELECT t, f FROM cit WHERE f <> t
),
deg AS (SELECT f AS v, CAST(count(*) AS DOUBLE) AS d FROM und GROUP BY f)
SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
       round(corr(a.d, b.d), 6) AS assortativity
FROM und JOIN deg a ON und.f = a.v JOIN deg b ON und.t = b.v
""",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): Pearson
    correlation of endpoint degrees over every directed realization of
    the undirected edge set — negative for hub-leaf (disassortative)
    topologies like this order→part bipartite mapping, positive for
    social-style graphs. One degree aggregate + two hash joins back
    onto the edge list + a corr() aggregate; both join sides shuffle on
    a vertex id, so the plan is 3 shuffles regardless of scale, and the
    corr moments are constant state."""
    cit = _citations(spark, sf_dir).filter(F.col("from") != F.col("to"))
    und = (
        cit.select(F.col("from").alias("f"), F.col("to").alias("t"))
        .union(cit.select(F.col("to").alias("f"), F.col("from").alias("t")))
        .distinct()
        .persist()
    )
    deg = und.groupBy(F.col("f").alias("v")).agg(
        F.count("*").cast("double").alias("d")
    )
    return (
        und.join(deg.select(F.col("v").alias("f"), F.col("d").alias("da")), "f")
        .join(deg.select(F.col("v").alias("t"), F.col("d").alias("db")), "t")
        .agg(
            (F.count("*") / 2).cast("bigint").alias("n_edges"),
            F.round(F.corr("da", "db"), 6).alias("assortativity"),
        )
    )


# --------------------------------------------------------------------------
# Context-budget truncation report (training-readiness audit)
# --------------------------------------------------------------------------

_CTX_BUDGET = 64


@register(
    "pipeline_truncation_report",
    f"""
WITH toks AS (
  SELECT len(string_split_regex(trim(text), '\\s+')) AS n_tok
  FROM documents WHERE trim(text) <> ''
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE n_tok > {_CTX_BUDGET}) AS BIGINT)
         AS n_truncated,
       round(count(*) FILTER (WHERE n_tok > {_CTX_BUDGET}) * 1.0
             / count(*), 6) AS frac_truncated,
       round(sum(CASE WHEN n_tok > {_CTX_BUDGET}
                      THEN n_tok - {_CTX_BUDGET} ELSE 0 END) * 1.0
             / sum(n_tok), 6) AS frac_tokens_lost,
       CAST(max(n_tok) AS BIGINT) AS max_tokens
FROM toks
""",
)
def pipeline_truncation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-budget truncation audit: for a fixed sequence budget,
    what fraction of documents exceed it and what fraction of corpus
    tokens a hard truncation would discard — the report that decides
    between truncating, chunking (udtf_chunk_split), or packing
    (pack_sequences). Whitespace token counts, one scan, one aggregate;
    the budget is a literal so the plan is a pure column expression at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.trim("text") != "").select(
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok")
    )
    over = F.when(F.col("n_tok") > _CTX_BUDGET, 1).otherwise(0)
    lost = F.when(
        F.col("n_tok") > _CTX_BUDGET, F.col("n_tok") - _CTX_BUDGET
    ).otherwise(0)
    return toks.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(over).cast("bigint").alias("n_truncated"),
        F.round(F.sum(over) / F.count("*"), 6).alias("frac_truncated"),
        F.round(F.sum(lost) / F.sum("n_tok"), 6).alias("frac_tokens_lost"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
    )


# --------------------------------------------------------------------------
# Multinomial Naive Bayes (train + self-score, zero UDF)
# --------------------------------------------------------------------------


@register(
    "naive_bayes_lang",
    """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tk AS (
  SELECT doc_id, lang, tok, CAST(count(*) AS DOUBLE) AS k
  FROM toks WHERE tok <> '' GROUP BY 1, 2, 3
),
langs AS (
  SELECT lang AS cl, CAST(count(*) AS DOUBLE) AS docs FROM documents
  GROUP BY 1
),
total AS (SELECT sum(docs) AS td FROM langs),
vocab AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tk),
cls_tok AS (
  SELECT lang AS cl, tok, sum(k) AS c FROM tk GROUP BY 1, 2
),
cls_n AS (SELECT cl, sum(c) AS n FROM cls_tok GROUP BY cl),
scored AS (
  SELECT t.doc_id, t.lang AS true_lang, l.cl,
         any_value(ln(l.docs / tt.td)) +
         sum(t.k * ln((coalesce(ct.c, 0) + 1) / (cn.n + vb.v))) AS score
  FROM tk t
  CROSS JOIN langs l CROSS JOIN total tt CROSS JOIN vocab vb
  JOIN cls_n cn ON cn.cl = l.cl
  LEFT JOIN cls_tok ct ON ct.cl = l.cl AND ct.tok = t.tok
  GROUP BY t.doc_id, t.lang, l.cl, 1
),
pred AS (
  SELECT doc_id, true_lang, cl AS pred_lang
  FROM (SELECT doc_id, true_lang, cl,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cl) AS rn
        FROM scored) r
  WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained AND scored entirely in
    aggregates — the canonical distributed text classifier with zero
    Python in the row path: class priors and per-class token counts
    (add-1 smoothing over the shared vocabulary) are two groupBys;
    scoring joins each document's token counts against the per-class
    likelihood table (left join, so out-of-class tokens fall back to
    the smoothing floor) and argmaxes log-prior + Σ k·log p with a
    min_by over (-score, class) for a deterministic tie rule. Output is
    the self-scored confusion matrix (true_lang × pred_lang counts).
    The |classes|× expansion of the token table is the only blowup —
    bounded by the label cardinality, which is what makes NB the
    at-scale baseline. Score sums accumulate float noise ~1e-12 versus
    inter-class gaps of ≫0.1, so the argmax — and with it the driver
    hash — is stable across engines."""
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count("*").cast("double").alias("k"))
        .persist()
    )
    langs = docs.groupBy(F.col("lang").alias("cl")).agg(
        F.count("*").cast("double").alias("docs")
    )
    total = langs.agg(F.sum("docs").alias("td"))
    vocab = tk.agg(F.countDistinct("tok").cast("double").alias("v"))
    cls_tok = tk.groupBy(F.col("lang").alias("cl"), "tok").agg(
        F.sum("k").alias("c")
    ).persist()
    cls_n = cls_tok.groupBy("cl").agg(F.sum("c").alias("n"))
    scored = (
        tk.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(cls_n), "cl")
        .join(cls_tok.withColumnRenamed("c", "ctc"), ["cl", "tok"], "left")
        .groupBy(
            "doc_id", F.col("lang").alias("true_lang"), "cl"
        )
        .agg(
            (
                F.first(F.log(F.col("docs") / F.col("td")))
                + F.sum(
                    F.col("k")
                    * F.log(
                        (F.coalesce(F.col("ctc"), F.lit(0.0)) + 1)
                        / (F.col("n") + F.col("v"))
                    )
                )
            ).alias("score")
        )
    )
    pred = scored.groupBy("doc_id", "true_lang").agg(
        F.min_by("cl", F.struct(-F.col("score"), F.col("cl"))).alias(
            "pred_lang"
        )
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("true_lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# Markov next-event model: train + evaluate in one pass
# --------------------------------------------------------------------------


@register(
    "markov_next_event_eval",
    """
WITH seq AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
trans AS (
  SELECT cur, nxt, CAST(count(*) AS DOUBLE) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
model AS (
  SELECT cur, nxt AS pred FROM (
    SELECT cur, nxt, row_number() OVER (PARTITION BY cur
                                        ORDER BY c DESC, nxt) AS rn
    FROM trans) r
  WHERE rn = 1
)
SELECT CAST(sum(c) AS BIGINT) AS n_transitions,
       CAST(sum(CASE WHEN t.nxt = m.pred THEN c ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN t.nxt = m.pred THEN c ELSE 0 END) / sum(c), 6)
         AS accuracy
FROM trans t JOIN model m USING (cur)
""",
)
def markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event model trained and evaluated in one
    pipeline: per-state argmax of the transition counts is the
    predictor, and its training-set accuracy is the weighted fraction
    of transitions it gets right — the baseline every sequence model
    must beat. The sequence window partitions by user (bounded per-user
    state); everything after runs on the |states|² transition table, so
    model fit + eval cost is independent of event volume past the one
    sequence pass."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").cast("double").alias("c"))
        .persist()
    )
    w = Window.partitionBy("cur").orderBy(F.desc("c"), "nxt")
    model = (
        trans.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("pred"))
    )
    hit = F.when(F.col("nxt") == F.col("pred"), F.col("c")).otherwise(0.0)
    return trans.join(F.broadcast(model), "cur").agg(
        F.sum("c").cast("bigint").alias("n_transitions"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        F.round(F.sum(hit) / F.sum("c"), 6).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# Interval stabbing: open-order backlog per day (sweep-line +1/-1)
# --------------------------------------------------------------------------


@register(
    "orders_open_backlog",
    """
WITH iv AS (
  SELECT o.o_orderkey, o.o_orderdate AS s,
         max(l.l_shipdate) AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
deltas AS (
  SELECT s AS d, 1 AS delta FROM iv
  UNION ALL
  SELECT e + INTERVAL 1 DAY, -1 FROM iv
),
byday AS (SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM deltas GROUP BY d),
sweep AS (
  SELECT d, sum(net) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_orders
  FROM byday
)
SELECT CAST(CAST(d AS DATE) AS VARCHAR) AS day,
       CAST(open_orders AS BIGINT) AS open_orders
FROM sweep ORDER BY open_orders DESC, d LIMIT 20
""",
)
def orders_open_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-stabbing by sweep line: how many orders are open
    (placed, not yet fully shipped) on each day, reported as the top-20
    backlog peaks. The classic trick — emit +1 at each interval start
    and -1 the day after its end, aggregate per day, cumulative-sum the
    calendar — turns an O(intervals x days) stab count into one groupBy
    plus a window over the bounded day axis. The only ordered window
    runs over per-day NET deltas (calendar-bounded), never over orders."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    iv = (
        orders.join(
            li, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_orderkey", F.col("o_orderdate").alias("s"))
        .agg(F.max("l_shipdate").alias("e"))
    )
    deltas = iv.select(F.col("s").alias("d"), F.lit(1).alias("delta")).unionByName(
        iv.select(F.date_add("e", 1).alias("d"), F.lit(-1).alias("delta"))
    )
    byday = deltas.groupBy("d").agg(F.sum("delta").cast("bigint").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    sweep = byday.withColumn("open_orders", F.sum("net").over(w))
    return (
        sweep.select(
            F.col("d").cast("date").cast("string").alias("day"),
            F.col("open_orders").cast("bigint").alias("open_orders"),
        )
        .orderBy(F.desc("open_orders"), "day")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Power-law exponent MLE for the degree distribution
# --------------------------------------------------------------------------


@register(
    "graph_powerlaw_fit",
    """
WITH deg AS (
  SELECT "from" AS v, CAST(count(*) AS DOUBLE) AS d
  FROM (SELECT CAST(l_orderkey AS INT) AS "from" FROM lineitem) c
  GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_nodes,
       round(1 + count(*) / sum(ln(d / 0.5)), 4) AS alpha_mle,
       round(avg(d), 4) AS mean_degree,
       CAST(max(d) AS BIGINT) AS max_degree
FROM deg
""",
)
def graph_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent for the out-degree distribution by the
    continuous MLE (Clauset-Shalizi-Newman 2009): alpha = 1 +
    n / sum(ln(d / d_min - 1/2)) with d_min = 1 (the standard
    half-integer continuity correction, hence the 0.5). The citation-
    graph literature's scale-free check reduced to ONE aggregate over
    the degree table — no binning, no regression on log-log histograms
    (which CSN show is biased). Pairs with graph_degree_distribution
    (the histogram) and text_zipf_fit (the rank-frequency view)."""
    deg = (
        _citations(spark, sf_dir)
        .groupBy(F.col("from").alias("v"))
        .agg(F.count("*").cast("double").alias("d"))
    )
    return deg.agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.round(
            1 + F.count("*") / F.sum(F.log(F.col("d") / 0.5)), 4
        ).alias("alpha_mle"),
        F.round(F.avg("d"), 4).alias("mean_degree"),
        F.max("d").cast("bigint").alias("max_degree"),
    )


# --------------------------------------------------------------------------
# Revenue concentration (Pareto curve) via distributed rank + cumsum
# --------------------------------------------------------------------------


@register(
    "revenue_concentration",
    """
WITH pr AS (
  SELECT l_partkey AS pk, sum(l_extendedprice) AS rev FROM lineitem
  GROUP BY 1
),
tot AS (SELECT sum(rev) AS t, count(*) AS np FROM pr),
ranked AS (
  SELECT rev,
         row_number() OVER (ORDER BY rev DESC, pk) AS rnk,
         sum(rev) OVER (ORDER BY rev DESC, pk
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM pr
)
SELECT CAST(any_value(np) AS BIGINT) AS n_parts,
       CAST(min(CASE WHEN cum >= 0.8 * t THEN rnk END) AS BIGINT)
         AS parts_for_80pct,
       round(min(CASE WHEN cum >= 0.8 * t THEN rnk END) * 1.0
             / any_value(np), 6) AS frac_parts_for_80pct,
       round(max(CASE WHEN rnk <= CAST(ceil(np * 0.01) AS BIGINT)
                      THEN cum END) / any_value(t), 6) AS top1pct_share
FROM ranked CROSS JOIN tot
""",
)
def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/80-20 concentration of part revenue: how many top parts
    cover 80% of revenue, and what share the top 1% holds. The rank and
    running sum come from the repo's DISTRIBUTED exact global-rank /
    global-cumsum machinery (range repartition + per-partition offsets
    — `operators/relational.py`), not a single-partition window, so the
    concentration curve stays computable when the key table itself is
    huge; the oracle replays with an ordinary window, which is the same
    math at oracle scale."""
    from ..operators.relational import global_cumsum, global_rank

    pr = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("pk"))
        .agg(F.sum("l_extendedprice").alias("rev"))
        # rank/cumsum descend by revenue: order on the negation so the
        # range partitioner's ascending order matches
        .withColumn("_nrev", -F.col("rev"))
        .persist()
    )
    tot = pr.agg(
        F.sum("rev").alias("t"), F.count("*").alias("np")
    ).collect()[0]
    t, np_ = float(tot["t"]), int(tot["np"])
    ranked = global_rank(pr, ["_nrev", "pk"], rank_col="rnk")
    cum = global_cumsum(ranked, ["_nrev", "pk"], "rev", alias="cum")
    k80 = F.min(F.when(F.col("cum") >= 0.8 * t, F.col("rnk")))
    top1 = F.max(
        F.when(
            F.col("rnk") <= int(-(-np_ * 0.01 // 1)), F.col("cum")
        )
    )
    return cum.agg(
        F.lit(np_).cast("bigint").alias("n_parts"),
        k80.cast("bigint").alias("parts_for_80pct"),
        F.round(k80 / np_, 6).alias("frac_parts_for_80pct"),
        F.round(top1 / t, 6).alias("top1pct_share"),
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest (walk-forward, MAPE/MAE)
# --------------------------------------------------------------------------


@register(
    "events_forecast_backtest",
    """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1
),
paired AS (
  SELECT a.d, a.c AS actual, b.c AS forecast
  FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 7 DAY
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(avg(abs(actual - forecast)), 4) AS mae,
       round(avg(abs(actual - forecast) / actual), 6) AS mape,
       round(1 - sum(power(actual - forecast, 2))
               / sum(power(actual - (SELECT avg(c) FROM daily), 2)), 6)
         AS r2_vs_mean
FROM paired
""",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest of the seasonal-naive forecaster
    (predict today = same weekday last week) on the daily event count:
    MAE, MAPE, and R² against the predict-the-mean baseline — the
    sanity floor every real forecasting model must beat, and the
    first-line drift alarm when a pipeline's volume pattern shifts.
    The lag pairing is an equi-join on date arithmetic over the per-day
    aggregate (same scale shape as events_autocorr: raw events are
    scanned once)."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("double").alias("c"))
        .persist()
    )
    mu = daily.agg(F.avg("c").alias("mu"))
    b = daily.select(F.col("d").alias("d2"), F.col("c").alias("forecast"))
    paired = daily.join(
        b, F.col("d2") == F.date_sub(F.col("d"), 7)
    ).crossJoin(F.broadcast(mu))
    err = F.col("c") - F.col("forecast")
    return paired.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.avg(F.abs(err)), 4).alias("mae"),
        F.round(F.avg(F.abs(err) / F.col("c")), 6).alias("mape"),
        F.round(
            1
            - F.sum(F.pow(err, F.lit(2)))
            / F.sum(F.pow(F.col("c") - F.col("mu"), F.lit(2))),
            6,
        ).alias("r2_vs_mean"),
    )


# --------------------------------------------------------------------------
# DAU / rolling-WAU engagement ratio
# --------------------------------------------------------------------------


@register(
    "events_dau_wau",
    """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
days AS (SELECT DISTINCT d FROM ud),
dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d),
wau AS (
  SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
  FROM days JOIN ud ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
  GROUP BY days.d
)
SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau,
       round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
ORDER BY dau.d DESC LIMIT 14
""",
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day weekly active users, and the
    DAU/WAU 'stickiness' ratio for the last 14 days — the engagement
    metric sheet. COUNT DISTINCT over a sliding window cannot be a
    running aggregate (distinct doesn't subtract), so the scalable
    shape is exactly this: dedupe to one row per (user, day) FIRST (one
    shuffle over raw events), then a 7-day range join over the
    per-user-day table — 7x a table already shrunk by the events-per-
    user-day factor, never 7x the raw events."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct().persist()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))
    days2 = days.select(F.col("d").alias("wd"))
    wau = (
        ud.join(
            days2,
            (F.col("d") >= F.date_sub(F.col("wd"), 6))
            & (F.col("d") <= F.col("wd")),
        )
        .groupBy("wd")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, F.col("d") == F.col("wd"))
        .select(
            F.col("d").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy(F.desc("day"))
        .limit(14)
    )


# --------------------------------------------------------------------------
# Inter-arrival time statistics (per-user event gaps)
# --------------------------------------------------------------------------


@register(
    "events_inter_arrival",
    """
WITH gaps AS (
  SELECT epoch(ts - lag(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT CAST(count(*) AS BIGINT) AS n_gaps,
       round(avg(gap), 4) AS mean_s,
       round(quantile_cont(gap, 0.5), 4) AS p50_s,
       round(quantile_cont(gap, 0.9), 4) AS p90_s,
       round(quantile_cont(gap, 0.99), 4) AS p99_s,
       round(stddev_samp(gap) / avg(gap), 6) AS cv
FROM gaps WHERE gap IS NOT NULL
""",
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap distribution (seconds between a
    user's consecutive events): mean, exact p50/p90/p99, and the
    coefficient of variation — cv ≈ 1 is the Poisson-process
    fingerprint, cv ≫ 1 means bursty arrivals (the statistic that
    drives session-gap and rate-limit thresholds). The lag window
    partitions by user (bounded per-user state, shuffles once on
    user_id); the percentile pass is one exact-percentile aggregate
    over the gap column — swap in approx_percentile at the documented
    error bound when gaps outgrow the sort budget."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            (F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w)))
            / F.lit(1_000_000.0)
        ).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return gaps.agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.round(F.avg("gap"), 4).alias("mean_s"),
        F.round(F.percentile("gap", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("gap", F.lit(0.9)), 4).alias("p90_s"),
        F.round(F.percentile("gap", F.lit(0.99)), 4).alias("p99_s"),
        F.round(F.stddev_samp("gap") / F.avg("gap"), 6).alias("cv"),
    )


# --------------------------------------------------------------------------
# Behavioral diversity: per-user event-type entropy
# --------------------------------------------------------------------------


@register(
    "events_user_entropy",
    """
WITH ut AS (
  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY 1, 2
),
un AS (SELECT user_id, sum(c) AS n FROM ut GROUP BY 1),
ent AS (
  SELECT ut.user_id, -sum((c / n) * ln(c / n)) AS h
  FROM ut JOIN un USING (user_id) GROUP BY ut.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       round(avg(h), 6) AS mean_entropy,
       round(quantile_cont(h, 0.5), 6) AS p50_entropy,
       round(min(h), 6) AS min_entropy,
       round(max(h), 6) AS max_entropy
FROM ent
""",
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity screen: Shannon entropy of each user's
    event-type mix (0 = single-behavior accounts, ln|types| = uniform
    usage), summarized as mean / exact median / extremes — the
    bot-vs-organic fingerprint for event streams (scripted accounts sit
    at the entropy extremes). Two hash aggregates build per-user
    distributions (shuffles keyed on user), one aggregate per user
    computes its entropy, and the summary is one exact-percentile pass
    over the per-user table — every stage shrinks, nothing scans raw
    events twice."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("double").alias("c")
    )
    un = ut.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    ent = (
        ut.join(un, "user_id")
        .groupBy("user_id")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    return ent.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.avg("h"), 6).alias("mean_entropy"),
        F.round(F.percentile("h", F.lit(0.5)), 6).alias("p50_entropy"),
        F.round(F.min("h"), 6).alias("min_entropy"),
        F.round(F.max("h"), 6).alias("max_entropy"),
    )
