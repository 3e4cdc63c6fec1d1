import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from cpg_spark import synth  # noqa: E402
from cpg_spark.schema import ALIAS_DICT, PAGES  # noqa: E402
from cpg_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cpg-spark-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def last_execution_id(spark):
    """Callable giving the id of the session's newest SQL execution. The
    status store keeps the newest executions (ids ascend), so the last id
    counts executions even once old ones are evicted."""
    store = spark._jsparkSession.sharedState().statusStore()

    def last() -> int:
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n else -1

    return last


@pytest.fixture(scope="session")
def executions_by_description(spark):
    """Callable giving the session's SQL executions counted by their
    description, the job description they started under."""
    store = spark._jsparkSession.sharedState().statusStore()

    def count() -> dict[str, int]:
        execs = store.executionsList()
        counts: dict[str, int] = {}
        for i in range(execs.size()):
            desc = execs.apply(i).description()
            counts[desc] = counts.get(desc, 0) + 1
        return counts

    return count


@pytest.fixture
def restore_checkpoint_dir(spark):
    """For a test that gives the context a checkpoint directory: put
    the context back to no directory afterwards, so later tests stay on
    localCheckpoint."""
    yield
    sc = spark.sparkContext
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.fixture(scope="session")
def corpus():
    return synth.make_corpus(40)


@pytest.fixture(scope="session")
def pages_df(spark, corpus):
    return spark.createDataFrame(corpus["pages"], PAGES).cache()


@pytest.fixture(scope="session")
def alias_df(spark, corpus):
    return spark.createDataFrame(corpus["alias_dict"], ALIAS_DICT).cache()
