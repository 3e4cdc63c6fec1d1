"""Contract of iterutil.fixpoint, the loop behind every iterative
operator: one SQL execution per round, superseded rounds released, and
the two stop policies (must-converge guard, bounded cap)."""

import warnings

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators import canonicalize
from cpg_spark.operators.iterutil import HARD_CAP_FACTOR, fixpoint


def _persisted(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet())


def _chain(spark, n):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )


@pytest.fixture(scope="module")
def star_runs(spark, last_execution_id):
    """Per chain length: (star rounds, SQL executions, RDDs the call
    left persisted) of one connected_components call on the distributed
    path."""
    rounds = [0]
    small_star = canonicalize._small_star

    def counting(e):
        rounds[0] += 1
        return small_star(e)

    canonicalize._small_star = counting
    sc = spark.sparkContext
    runs = {}
    try:
        for n in (10, 100):
            df = _chain(spark, n)
            rounds[0] = 0
            p0 = _persisted(sc)
            x0 = last_execution_id()
            out = canonicalize.connected_components(df, driver_threshold=0)
            x1 = last_execution_id()
            left = len(_persisted(sc) - p0)
            assert {r["component_id"] for r in out.collect()} == {0}
            runs[n] = (rounds[0], x1 - x0, left)
    finally:
        canonicalize._small_star = small_star
    return runs


def test_one_execution_per_star_round(star_runs):
    (r_short, x_short, _), (r_long, x_long, _) = star_runs[10], star_runs[100]
    assert r_long > r_short
    assert x_long - x_short == r_long - r_short


def test_superseded_rounds_are_released(star_runs):
    (r_short, _, p_short), (r_long, _, p_long) = star_runs[10], star_runs[100]
    assert r_long > r_short
    assert p_long == p_short


def test_must_converge_warns_past_max_iter_and_stays_exact(spark):
    df = _chain(spark, 100)
    with pytest.warns(RuntimeWarning, match="not converged after max_iter=2"):
        out = canonicalize.connected_components(df, driver_threshold=0, max_iter=2)
    assert {r["member_id"]: r["component_id"] for r in out.collect()} == {
        i: 0 for i in range(101)
    }


def _counter(spark):
    """A step that never converges: the one row counts up each round."""
    return (
        lambda s, _: (s[0].select((F.col("x") + 1).alias("x")),),
        (spark.createDataFrame([(0,)], "x long"),),
    )


def test_must_converge_raises_at_hard_cap(spark):
    step, state = _counter(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        with pytest.raises(RuntimeError, match=f"no fixpoint after {HARD_CAP_FACTOR}"):
            fixpoint(step, state, max_iter=1, what="counter", key=("x",),
                     must_converge=True)


def test_bounded_loop_stops_silently_at_cap(spark):
    step, state = _counter(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        (out,) = fixpoint(step, state, max_iter=3, what="counter", key=("x",))
    assert out.collect()[0]["x"] == 3
