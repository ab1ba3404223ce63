"""Anti-pattern linter over every registry entry's physical plan.

Builds each `queries()` DataFrame at a small SF and greps its FORMATTED
physical plan for the constructs that kill a 100 TB run:

- `CartesianProduct`            — an unconditional all-pairs join; never
                                  acceptable (scalar cross joins plan as
                                  BroadcastNestedLoopJoin instead).
- `BatchEvalPython`             — a row-at-a-time Python UDF on the hot
                                  path (Arrow paths show up as
                                  ArrowEvalPython / MapInPandas /
                                  MapInArrow and are allowed).
- `BroadcastNestedLoopJoin`     — allowed ONLY for 1-row scalar
                                  broadcasts (corpus-wide constants
                                  joined onto every row); every use must
                                  be on the explicit allowlist below so
                                  a new unbounded NLJ cannot slip in.

- aggregate Keys containing `_salt` — a pre-salted aggregation: the
  round-6 skew rehearsal measured that salting a groupBy costs more
  than the hot-key straggler it avoids (map-side partial combine
  already bounds reducer load); salt is for JOIN keys only and must be
  dropped before any aggregate.
- a Python exec node (MapInPandas, ArrowEvalPython, a Python UDTF, ...)
  below an `Exchange rangepartitioning` with no other exchange in
  between — a global sort straight over a Python kernel. Spark's
  RangePartitioner samples its input in a job of its own before the
  shuffle write, so the kernel runs twice; a round-robin exchange
  (`sources.tables.round_robin`) between them makes the sampler read
  shuffle files instead. Found by walking the physical plan's node tree,
  not the plan text.

Also records, per entry, the Exchange count (shuffle breadth).
(Codegen spans are NOT linted: under AQE the pre-execution formatted
plan defers codegen annotation until the final plan, so the signal is
only visible post-execution.)

Usage: python tools/plan_lint.py [name ...]    (default: all entries)
Scale: PLAN_LINT_SF_DIR (default /root/testdata/sf0.001 — plans are
shape-stable across SF; the small SF keeps gate entries that execute
during construction cheap).

Exit code 0 and one JSON line on success; exit 1 with the offending
entries listed if any rule fires.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("PLAN_LINT_SF_DIR", "/root/testdata/sf0.001")

# Entries whose plan legitimately contains BroadcastNestedLoopJoin: a
# 1-row (or k-row, k bounded by a constant) scalar/constant side joined
# without keys. Each is a corpus-wide aggregate broadcast onto rows —
# O(rows) work, no pair blowup. Keep this list SHORT and justified.
BNLJ_ALLOWED = {
    # corpus-level scalar stats joined onto every row/group
    "text_zipf_fit", "text_heaps_law", "graph_powerlaw_fit",
    "revenue_concentration", "chi2_flag_status", "ab_welch_ttest",
    "ab_mann_whitney", "regression_price_on_qty", "corr_lineitem_measures",
    "events_autocorr", "events_user_entropy", "bootstrap_ci_daily_mean",
    "mad_outlier_prices", "winsorized_prices", "stats_moments",
    "dq_key_skew", "dq_psi_drift", "dq_benford_first_digit",
    "equidepth_histogram_prices", "percentile_prices",
    "events_seasonal_decompose", "events_cusum_changepoint",
    "events_forecast_backtest", "markov_next_event_eval",
    "naive_bayes_lang", "text_js_divergence", "events_kaplan_meier",
    "doc_lm_surprisal", "doc_novelty_trigrams", "contamination_check",
    "graph_density", "graph_assortativity", "fixture_density",
    "pipeline_truncation_report", "q22_global_sales_opportunity",
    "orders_above_customer_avg", "q11_important_stock",
    "heavy_hitters_cms", "heavy_hitters_mg", "kmv_set_ops",
    "sketch_mergeable_distinct", "approx_distinct_parts",
    "approx_percentile_prices", "bpe_top_merges", "tfidf_top_terms",
    "sample_weighted", "split_train_test",
    # round-6 adjudications (the full-sweep judge run found these six
    # missing; same 1-row-scalar class as above unless noted):
    # - graph_hits: joins the 1-row L2-norm aggregate back onto the hub/
    #   authority vectors each iteration (operators/graph.py).
    # - customer_rfm_segments: 1-row corpus quantile-cutoff broadcast
    #   onto the per-customer aggregate (plans/relational_queries.py).
    # - events_gap_fill: 1-row (min_day, max_day) bounds broadcast that
    #   seeds the sequence() day spine.
    # - events_decayed_counts: 1-row max-timestamp anchor broadcast for
    #   the exponential-decay weights.
    # - sample_domain_mix: k-row (k = #domains, bounded by the label
    #   vocabulary) per-domain quota broadcast onto the stratified
    #   sampler.
    "graph_hits", "customer_rfm_segments", "events_gap_fill",
    "events_decayed_counts", "sample_domain_mix",
    # - events_dau_wau: the one non-scalar allowance — a non-equi range
    #   BNLJ (d BETWEEN wd-6 AND wd) whose BROADCAST side is the
    #   distinct-day grid (bounded: one row per calendar day, 14 at
    #   sf0.01, ~365/year at any sf), so the probe is O(user_days x 7)
    #   with no pair blowup; the repo's range_join_binned is the
    #   alternative if the grid ever stopped being calendar-bounded.
    "events_dau_wau",
    # - similarity_pq / similarity_ivf_trained (round 8): the ANN
    #   certificates' recall base — a non-equi self-exclusion BNLJ whose
    #   BROADCAST side is the deterministic query sample, bounded by the
    #   _CERT_SAMPLE_QUERIES = 128 constant (plans/text_queries.py:
    #   _sample_top1_exact). O(128 x N) probe, corpus side streams; this
    #   replaced the O(N^2) full-corpus brute force ADVICE r7 flagged.
    "similarity_pq", "similarity_ivf_trained",
}


_PYTHON_EXEC = "org.apache.spark.sql.execution.python."


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _is_exchange(node) -> bool:
    return node.getClass().getName().startswith("org.apache.spark.sql.execution.exchange.")


def python_under_range_sort(plan) -> int:
    """Python exec nodes reachable from a range-partitioning exchange of
    the physical plan `plan` (a JVM SparkPlan) without crossing another
    exchange. Each such node runs once for the RangePartitioner's sample
    and once more for the shuffle write."""
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()  # the plan with its exchanges in place

    def python_nodes_before_exchange(node) -> int:
        if _is_exchange(node):
            return 0
        own = node.getClass().getName().startswith(_PYTHON_EXEC)
        return own + sum(python_nodes_before_exchange(c) for c in _children(node))

    hits, todo = 0, [plan]
    while todo:
        node = todo.pop()
        kids = _children(node)
        if (
            _is_exchange(node)
            and node.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
        ):
            hits += sum(python_nodes_before_exchange(c) for c in kids)
        todo += kids
    return hits


def lint_one(name: str, fn, spark, sf_dir: str | None = None) -> dict:
    df = fn(spark, sf_dir or SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    return {
        "cartesian": p.count("CartesianProduct"),
        "batch_eval_python": p.count("BatchEvalPython"),
        "bnlj": p.count("BroadcastNestedLoopJoin"),
        # shuffle breadth only: count formatted-plan node headers
        # "(N) Exchange" so BroadcastExchange / ReusedExchange (which a
        # bare substring count also matched) are excluded, and each
        # shuffle node counts exactly once (not again in the tree view)
        "exchanges": len(re.findall(r"^\(\d+\) Exchange$", p, re.M)),
        # a salt column surviving into AGGREGATE grouping keys: the
        # round-6 skew rehearsal measured that pre-salting an
        # aggregation costs more than the straggler it avoids (partial
        # map-side combine already caps hot-key reducer load), so
        # salted_join's contract is salt-for-the-join-only, dropped
        # before any groupBy. Formatted plans print aggregate grouping
        # keys as "Keys [n]: [...]" (join keys print as "Left keys"/
        # "Right keys"), so this matches aggregates only.
        "salted_agg": len(re.findall(r"^Keys \[\d+\]: \[[^\n]*_salt", p, re.M)),
        "python_under_range_sort": python_under_range_sort(
            df._jdf.queryExecution().executedPlan()
        ),
    }


def main(argv: list[str]) -> int:
    from citegraph_spark.plans.entry_queries import QUERIES
    from citegraph_spark.session import get_spark

    names = argv or list(QUERIES)
    spark = get_spark()
    t0 = time.time()
    results: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in names:
        try:
            results[name] = lint_one(name, QUERIES[name], spark)
        except Exception as exc:  # noqa: BLE001 — report, don't mask
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]

    violations: dict[str, list[str]] = {}
    for name, r in results.items():
        v = []
        if r["cartesian"]:
            v.append("CartesianProduct")
        if r["batch_eval_python"]:
            v.append("BatchEvalPython")
        if r["bnlj"] and name not in BNLJ_ALLOWED:
            v.append(f"BroadcastNestedLoopJoin x{r['bnlj']} (not allowlisted)")
        if r["salted_agg"]:
            v.append("aggregate keyed on _salt (pre-salted aggregation)")
        if r["python_under_range_sort"]:
            v.append(
                f"Python exec node under a range-partitioning exchange "
                f"x{r['python_under_range_sort']} (the sort's sampler re-runs it)"
            )
        if v:
            violations[name] = v

    summary = {
        "entries": len(results),
        "errors": errors,
        "violations": violations,
        "bnlj_allowlisted_hits": sorted(
            n for n, r in results.items() if r["bnlj"] and n in BNLJ_ALLOWED
        ),
        "max_exchanges": max(
            ((r["exchanges"], n) for n, r in results.items()), default=(0, "")
        ),
        "wall_s": round(time.time() - t0, 1),
        "sf_dir": SF_DIR,
    }
    print(json.dumps(summary))
    return 1 if (violations or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
