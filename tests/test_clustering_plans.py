"""The plan shapes that `pca_power_top1` and `kcenter_greedy`
(functions/clustering.py) are built for, read from the plans Spark
executes: a power-iteration step evaluates its fold-dot once per row
under a single aggregate, and a k-center round is one `max_by` aggregate
with no Python in the row path."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from citegraph_spark.functions.clustering import _pca_step_plan, kcenter_greedy
from citegraph_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _final(plan) -> str:
    """A plan's text; of an adaptive plan, only its final plan."""
    return plan.toString().split("== Initial Plan ==")[0]


def _node_names(text: str) -> list[str]:
    """The operator name on each line of a plan's text."""
    names = []
    for line in text.splitlines():
        line = re.sub(r"^[\s:+|-]*(\*\(\d+\)\s*)?", "", line)
        if line and not line.startswith("=="):
            names.append(re.split(r"[\s(\[]", line, maxsplit=1)[0])
    return names


def test_pca_step_evaluates_the_fold_dot_once_under_one_aggregate(spark):
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = load_table(spark, SF, "embeddings").select(v.alias("_v")).persist()
    try:
        d = len(base.first()["_v"])
        vec = [0.0] * d
        vec[0] = 1.0
        step = _pca_step_plan(base, vec, d)
        step.collect()
        qe = step._jdf.queryExecution()
        assert _node_names(qe.optimizedPlan().toString()).count("Aggregate") == 1
        executed = _final(qe.executedPlan())
        # the dot is one projected column; the d+1 sums read it by name
        assert executed.count("zip_with(") == 1
        (dot_line,) = [ln for ln in executed.splitlines() if "zip_with(" in ln]
        assert _node_names(dot_line) == ["Project"]
        aggs = [ln for ln in executed.splitlines() if "HashAggregate(" in ln]
        assert len(aggs) == 2  # partial and final halves of the one aggregate
        assert all("_dot" in ln and "zip_with" not in ln for ln in aggs)
    finally:
        base.unpersist()


def test_kcenter_round_is_one_max_by_aggregate_without_python(spark, monkeypatch):
    emb = load_table(spark, SF, "embeddings")
    cls = type(emb)
    collect = cls.collect
    plans = []

    def recording_collect(df):
        rows = collect(df)
        qe = df._jdf.queryExecution()
        plans.append((qe.optimizedPlan().toString(), _final(qe.executedPlan())))
        return rows

    monkeypatch.setattr(cls, "collect", recording_collect)
    k = 4
    assert len(kcenter_greedy(emb, k=k)) == k
    rounds = [(opt, ex) for opt, ex in plans if "max_by(" in opt]
    assert len(rounds) == k - 1
    for opt, executed in rounds:
        (agg,) = [ln for ln in opt.splitlines() if _node_names(ln) == ["Aggregate"]]
        assert "max_by(" in agg
        assert not re.search(r"Python|ArrowEval|MapIn|InPandas", executed)
