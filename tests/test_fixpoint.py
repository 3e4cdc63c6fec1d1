"""Contract of iterutil.fixpoint, the loop behind every iterative
operator: one SQL execution per round, superseded rounds released, a
stop that holds only what its output reads, and the two stop policies
(must-converge guard, bounded cap); the same contract for graphrank's
bounded loops."""

import gc
import warnings

import pytest
from pyspark.sql import functions as F

from cpg_spark.operators import canonicalize, graphrank, iterutil
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


SCC_EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 10), (10, 11), (11, 10), (20, 21)]


@pytest.mark.parametrize(
    "op, edges, want",
    [
        (
            canonicalize.compress_chains,
            [(i, i + 1) for i in range(40)],
            {(0, 40, 40)},
        ),
        (
            lambda df: canonicalize.scc(df, driver_threshold=0),
            SCC_EDGES,
            {(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (10, 10), (11, 10), (20, 20), (21, 21)},
        ),
    ],
    ids=["compress_chains", "scc"],
)
def test_stop_holds_only_what_its_output_reads(spark, monkeypatch, op, edges, want):
    """Every fixpoint call, nested ones included, returns holding only
    checkpoints its lazily returned frames read; the operator's output
    still executes once Python has dropped everything else."""
    sc = spark.sparkContext
    loop, unread = iterutil.fixpoint, []

    def checked(step, state, **kw):
        since = _persisted(sc)
        out = loop(step, state, **kw)
        unread.append((_persisted(sc) - since) - iterutil._reads(out))
        return out

    monkeypatch.setattr(iterutil, "fixpoint", checked)
    monkeypatch.setattr(canonicalize, "fixpoint", checked)
    out = op(spark.createDataFrame(edges, "src long, dst long"))
    assert unread and not set().union(*unread)
    gc.collect()
    assert {tuple(r) for r in out.collect()} == want


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


def test_failed_round_releases_the_loop_checkpoints(spark):
    """A step that raises in round 2 leaves no block behind, round 1's
    checkpoint included."""
    sc = spark.sparkContext
    count_up, state = _counter(spark)

    def step(s, i):
        if i == 2:
            raise RuntimeError("round 2 failed")
        return count_up(s, i)

    before = iterutil.persisted_ids(sc)
    with pytest.raises(RuntimeError, match="round 2 failed"):
        fixpoint(step, state, max_iter=5, what="failing")
    assert iterutil.persisted_ids(sc) - before == set()


def test_bounded_loop_stops_silently_at_cap(spark):
    step, state = _counter(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        (out,) = fixpoint(step, state, max_iter=3, what="counter", key=("x",))
    assert out.collect()[0]["x"] == 3


# a 6-ring with two chords: every node keeps degree >= 2, so the 2-core
# is the whole graph in every round
RING = [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)] + [("n0", "n3"), ("n1", "n4")]


@pytest.mark.parametrize(
    "op, executions",
    [
        (lambda e, n: graphrank.pagerank(e, n_iter=n), lambda n: n + 2),
        (lambda e, n: graphrank.hits(e, n_iter=n), lambda n: 2 * n + 2),
        (lambda e, n: graphrank.label_propagation(e, n_iter=n), lambda n: n + 1),
        (lambda e, n: graphrank.kcore(e, k=2, n_rounds=n), lambda n: n + 1),
    ],
    ids=["pagerank", "hits", "label_propagation", "kcore"],
)
def test_graph_loops_run_one_execution_per_round(spark, last_execution_id, op, executions):
    """A direct call runs one SQL execution per round (hits: per
    half-step) on top of its static frames' checkpoints, and leaves as
    many RDDs persisted after 6 rounds as after 2: the statics and the
    last round, never a superseded one."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(RING, "src string, dst string")
    left = {}
    for n in (2, 6):
        p0, x0 = _persisted(sc), last_execution_id()
        out = op(edges, n)
        left[n] = len(_persisted(sc) - p0)
        assert last_execution_id() - x0 == executions(n), n
        assert out.count() == 6
    assert left[2] == left[6]
