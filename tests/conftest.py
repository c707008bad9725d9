import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from data_cube_utilities_spark.session import get_spark

    s = get_spark("geocube-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture
def checkpoint_plan(spark):
    """checkpoint_plan(make) -> (result, tree, plan): run make() and read
    the formatted physical plan of the last SQL execution it started —
    for an operator that returns a localCheckpoint, the checkpoint's own
    execution.  `plan` is the whole description; `tree` is only the
    final executed tree, because the numbered details section and the
    AQE initial plan repeat every node name: exact node counts belong on
    `tree`, argument text (e.g. hashpartitioning keys) on `plan`."""
    sc, state = spark.sparkContext._jsc.sc(), spark._jsparkSession.sharedState()

    def last_execution():
        sc.listenerBus().waitUntilEmpty()
        execs = state.statusStore().executionsList()
        return execs.apply(execs.size() - 1) if execs.size() else None

    def run(make):
        before = last_execution()
        before_id = before.executionId() if before is not None else -1
        out = make()
        ex = last_execution()
        assert ex is not None and ex.executionId() > before_id
        plan = ex.physicalPlanDescription()
        tree = plan.split("\n\n(1)")[0].split("== Initial Plan ==")[0]
        return out, tree, plan

    return run
