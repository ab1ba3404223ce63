"""Regression gates for the session-level scale posture the round-6
skew rehearsal relied on (VERDICT r6 item 6).

The rehearsal's conclusion — "AQE's runtime skew split is the default
mitigation; manual salting is reserved for plans where AQE can't act"
— only holds while the session factory actually enables those
switches. A config drift would silently re-expose every skewed join,
so the exact keys session.py sets are pinned here, and the one registry
consumer of salted_join is checked against the rehearsal's other
finding: salt belongs to JOIN keys only (pre-salting an aggregation
costs more than the straggler — partial map-side combine already
bounds hot-key reducer load)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from plan_lint import lint_one  # noqa: E402

from citegraph_spark.plans.entry_queries import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def test_session_skew_posture_defaults(spark):
    """The AQE family the skew rehearsal measured (session.py:40-42)
    plus the deterministic-output settings every oracle depends on."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    # broadcast threshold raised to 64 MB so dimension-side joins stay
    # broadcast at sweep scale (the rehearsal's non-skew baseline)
    assert int(conf.get("spark.sql.autoBroadcastJoinThreshold")) == 64 * 1024 * 1024
    # oracle determinism: UTC session; shuffle partitions sized from
    # parallelism, never Spark's legacy 200
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert int(conf.get("spark.sql.shuffle.partitions")) != 200


def test_salted_join_consumer_salts_join_not_aggregate(spark):
    """salted_join_event_nations must salt the JOIN and drop the salt
    before its groupBy: `_salt` in join keys, never in aggregate Keys.
    The generalized rule (no registry entry may aggregate on _salt) is
    the plan linter's `salted_agg` check, enforced over all 229 entries
    in the out-of-band sweep; this pins the one known consumer on every
    pytest run."""
    import contextlib
    import io

    df = QUERIES["salted_join_event_nations"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "_salt" in plan, "salting disappeared from the plan entirely"
    r = lint_one(
        "salted_join_event_nations",
        QUERIES["salted_join_event_nations"],
        spark,
        sf_dir=SF_DIR,
    )
    assert r["salted_agg"] == 0, "aggregate keyed on _salt (pre-salted aggregation)"


def test_ansi_mode_is_on(spark):
    """Round-12 mutation audit, mutant M15: disabling ANSI mode survived
    the oracle gate (green paths never overflow), 300 fuzz seeds (the
    grammar renders try_-safe arithmetic by design), and every pytest —
    a silent semantics regression (int overflow wraps/nulls instead of
    erroring) had NO gate. Pin the config AND the behavior."""
    import pytest
    from pyspark.errors import ArithmeticException

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(ArithmeticException):
        spark.sql(
            "SELECT CAST(2147483647 AS INT) + CAST(1 AS INT)"
        ).collect()


def test_ship_package_once_per_application(spark):
    """r12 ADVICE: get_spark() is called per-entry in sweeps; an
    unguarded _ship_package would leak one temp zip + one duplicate
    worker sys.path entry per call. Guarded per applicationId, and the
    zip is tracked for interpreter-exit cleanup (it must outlive the
    app: replacement executors re-fetch it after a failure)."""
    import os

    from citegraph_spark import session as S

    before = list(S._SHIPPED_ZIPS)
    S._ship_package(spark)
    S._ship_package(spark)
    S._ship_package(spark)
    added = [p for p in S._SHIPPED_ZIPS if p not in before]
    assert len(added) <= 1  # 0 if an earlier caller shipped this app id
    assert spark.sparkContext.applicationId in S._SHIPPED_APP_IDS
    for p in added:
        assert os.path.exists(p)


def test_driver_memory_defaults_to_half_the_machine(monkeypatch):
    """`SPARK_GRAFT_DRIVER_MEM` wins; otherwise the heap is half the
    physical memory, not a fixed size that can outgrow the machine."""
    import os

    from citegraph_spark.session import default_driver_memory

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**21
    got = default_driver_memory()
    assert got.endswith("m")
    assert abs(int(got[:-1]) - max(half_mb, 1024)) <= 0.01 * half_mb
