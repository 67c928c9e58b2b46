from __future__ import annotations

import os

import pytest

from presencia_etl_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="presencia-etl-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def _plan_tree(desc: str) -> str:
    """The node tree of a formatted physical-plan description, without
    the subtrees of cached relations (a cache keeps the plan of the
    session that persisted it)."""
    out, skip = [], None
    for line in desc.split("\n\n", 1)[0].splitlines()[1:]:
        depth = len(line) - len(line.lstrip(" +-:|"))
        if skip is not None and depth > skip:
            continue
        skip = depth if "InMemoryRelation" in line else None
        out.append(line)
    return "\n".join(out)


@pytest.fixture
def sql_plans(spark):
    """``sql_plans(fn)`` runs ``fn()`` and returns ``(result, trees)``:
    the physical-plan node tree (``_plan_tree``) of every SQL execution
    ``fn`` started, read from the shared SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def run(fn):
        first = last_id() + 1
        result = fn()
        trees = []
        for i in range(first, last_id() + 1):
            ex = store.execution(i)
            if ex.isDefined():
                trees.append(_plan_tree(ex.get().physicalPlanDescription()))
        return result, trees

    return run
