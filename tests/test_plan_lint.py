"""The plan linter (tools/plan_lint.py) as a regression gate: a fixed
cross-family sample is linted on every pytest run so a CartesianProduct,
a row-wise Python UDF or a global sort straight over a Python kernel
cannot re-enter a hot path unnoticed. The full
229-entry sweep runs out-of-band (one JSON line, recorded per round in
BASELINE.md)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from plan_lint import BNLJ_ALLOWED, lint_one, python_under_range_sort  # noqa: E402

from citegraph_spark.plans.entry_queries import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# one representative per family: scan/agg, star join, window, graph,
# dedup, similarity, text, events, pipeline, storage, stats
SAMPLE = [
    "q1_pricing_summary",
    "multi_join_region_revenue",
    "window_rank_lag",
    "graph_canonical_pairs",
    "dedup_minhash_lsh",
    "similarity_topk_cosine",
    "text_quality",
    "events_sessionize",
    "pack_sequences",
    "salted_join_event_nations",
    "asof_join_events_orders",
    "text_zipf_fit",  # BNLJ-allowlisted scalar broadcast — stays allowed
    # round-6 adjudications: the full-sweep violations, now either fixed
    # (udtf_chunk_split → arrow-optimized UDTF, no BatchEvalPython) or
    # allowlisted with justifications (see tools/plan_lint.BNLJ_ALLOWED)
    "udtf_chunk_split",
    "graph_hits",
    "customer_rfm_segments",
    "events_gap_fill",
    "events_decayed_counts",
    "sample_domain_mix",
    "events_dau_wau",
    # round-8 adjudication: ANN certificate recall base — bounded
    # 128-row broadcast sample vs corpus (see tools/plan_lint.BNLJ_ALLOWED)
    "similarity_pq",
    # a global sort over a Python kernel: each needs a shuffle boundary
    # between the two, or the sort's range sampler re-runs the kernel
    # (similarity_topk_cosine and udtf_chunk_split, above, have the same
    # shape)
    "multimodal_frames",
    "multimodal_audio",
    "multimodal_features",
    "dedup_embedding_cosine",
]


def test_sampled_plans_have_no_scale_killers(spark):
    for name in SAMPLE:
        r = lint_one(name, QUERIES[name], spark, sf_dir=SF_DIR)
        assert r["cartesian"] == 0, f"{name}: CartesianProduct in plan"
        assert r["batch_eval_python"] == 0, (
            f"{name}: row-at-a-time Python UDF (BatchEvalPython) in plan"
        )
        if r["bnlj"]:
            assert name in BNLJ_ALLOWED, (
                f"{name}: BroadcastNestedLoopJoin not allowlisted"
            )
        assert r["python_under_range_sort"] == 0, (
            f"{name}: Python exec node under a range-partitioning exchange "
            "(the sort's sampler re-runs the kernel)"
        )


def test_rule_sees_a_sort_straight_over_a_python_kernel(spark):
    """The rule fires on a global sort directly over a mapInPandas, and a
    round-robin exchange between them clears it."""
    from citegraph_spark.sources.tables import round_robin

    def same(it):
        yield from it

    kernel = spark.range(64).mapInPandas(same, "id long")

    def hits(df) -> int:
        return python_under_range_sort(df._jdf.queryExecution().executedPlan())

    assert hits(kernel.orderBy("id")) == 1
    assert hits(round_robin(kernel).orderBy("id")) == 0
    assert hits(kernel.groupBy("id").count()) == 0  # hash exchange: not a sort
