"""`lineage.shrink_rounds`: where the driver-local tail takes over, the
round cap on both paths, and what a round's plans carry.

The loop hands the residual to the operator's tail once it has at most
TAIL_ROWS rows, and never when the session does not broadcast (the
`broadcast_off` fixture); every residual's size is an observed metric
on its own cut, so no round pays a separate size job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citegraph_spark import lineage
from citegraph_spark.errors import ConvergenceError
from citegraph_spark.lineage import release, shrink_rounds
from citegraph_spark.operators.mst import minimum_spanning_forest


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _run(spark, n: int, max_rounds: int = 10, ran: int = 0):
    """shrink_rounds over ids 0..n-1, one id dropped per round, with a
    stub tail. Returns (ids in the result, round indices the steps saw,
    the (rows, index) each tail call got)."""
    steps, tails = [], []

    def step(df, rnd):
        steps.append(rnd.index)
        return df.filter(F.col("id") > rnd.index)

    def tail(rows, r):
        tails.append((len(rows), r))
        return spark.createDataFrame([(-1,)], "id long"), ran

    before = _persisted(spark)
    out = shrink_rounds("stub", spark.range(n), step, max_rounds, tail=tail)
    ids = sorted(r["id"] for r in out.collect())
    release(out)
    assert _persisted(spark) - before == set()
    return ids, steps, tails


def test_tail_takes_a_residual_of_exactly_tail_rows(spark, monkeypatch):
    monkeypatch.setattr(lineage, "TAIL_ROWS", 3)
    assert _run(spark, 3) == ([-1], [], [(3, 0)])


def test_one_row_more_runs_another_round_first(spark, monkeypatch):
    monkeypatch.setattr(lineage, "TAIL_ROWS", 3)
    assert _run(spark, 4) == ([-1], [0], [(3, 1)])


def test_broadcast_off_never_runs_the_tail(spark, broadcast_off, monkeypatch):
    monkeypatch.setattr(lineage, "TAIL_ROWS", 3)
    with broadcast_off():
        assert _run(spark, 4) == ([], [0, 1, 2, 3], [])
        with pytest.raises(ConvergenceError):
            _run(spark, 4, max_rounds=3)


def test_tail_past_the_round_cap_raises(spark, monkeypatch):
    monkeypatch.setattr(lineage, "TAIL_ROWS", 3)
    assert _run(spark, 4, max_rounds=3, ran=2) == ([-1], [0], [(3, 1)])
    before = _persisted(spark)
    with pytest.raises(ConvergenceError):
        _run(spark, 4, max_rounds=3, ran=3)
    assert _persisted(spark) - before == set()


def _collect_metrics(df) -> list[str]:
    """The CollectMetrics nodes (observed metrics) in `df`'s plan, as
    'name: metrics' strings."""
    found = []

    def walk(node):
        if node.getClass().getSimpleName() == "CollectMetrics":
            found.append(f"{node.name()}: {node.metrics().toString()}")
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return found


def test_rounds_size_and_jump_through_observed_metrics(spark, broadcast_off, monkeypatch):
    """Borůvka on all-distributed rounds: each residual cut carries its
    size metric, and each pointer-doubling jump its moved-pointer count."""
    cuts = []
    real_cut = lineage.cut_lineage

    def spy(df):
        cuts.append(_collect_metrics(df))
        return real_cut(df)

    monkeypatch.setattr(lineage, "cut_lineage", spy)
    # light intra-pair edges + heavy connectors: two Borůvka rounds
    light = [(i, i + 1, 1.0 + i) for i in range(1, 12, 2)]
    heavy = [(i + 1, i + 2, 100.0 + i) for i in range(1, 10, 2)]
    edges = spark.createDataFrame(light + heavy, "src long, dst long, weight double")
    with broadcast_off():
        forest = minimum_spanning_forest(edges)
        assert forest.count() == len(light) + len(heavy)
        release(forest)
    sizes = [c for c in cuts if any("minimum_spanning_forest_residual_" in m for m in c)]
    jumps = [c for c in cuts if any("moved" in m for m in c)]
    rounds = len(sizes) - 1
    assert rounds >= 2
    for k, metrics in enumerate(sizes):
        assert len(metrics) == 1 and metrics[0].startswith(f"minimum_spanning_forest_residual_{k}:")
    assert len(jumps) >= rounds
