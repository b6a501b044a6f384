from __future__ import annotations

import pytest

from bigdime_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="bigdime-tests", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def sql_executions(spark):
    """``run(fn)`` → (``fn()``, the SQL executions it started), read
    from the session's SQL status store once its listener bus has
    drained; each carries its final ``physicalPlanDescription()``."""
    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def run(fn):
        before = {e.executionId() for e in executions()}
        out = fn()
        return out, [e for e in executions() if e.executionId() not in before]

    return run
