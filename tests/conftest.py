from __future__ import annotations

import contextlib

import pytest

from citegraph_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="citegraph_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def broadcast_off(spark):
    """Context-manager factory: inside `with broadcast_off():` the session
    has `spark.sql.autoBroadcastJoinThreshold=-1`, which sends operators
    with a broadcast tier (the hop-plot BFS among them) down their
    distributed fallback. The previous value is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextlib.contextmanager
    def scoped():
        before = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            yield
        finally:
            spark.conf.set(key, before)

    return scoped
