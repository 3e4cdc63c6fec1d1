"""Lineage truncation and the one fixpoint loop behind every iterative
operator (CC/SCC/BFS/compress in canonicalize.py, scope closures in
link.py, DFG slicing in stringapprox.py, constant folding in
evaluate.py).

The checkpoint kind follows the SparkContext: a reliable `checkpoint()`
when it has a checkpoint directory (`spark.checkpoint.dir` or
`sc.setCheckpointDir`, the cluster setting — an executor loss mid-loop
must not lose the only copy of a round), else `localCheckpoint()`.
"""

from __future__ import annotations

import warnings
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Past `max_iter` rounds a must-converge loop warns but CONTINUES
# (min-label propagation and star contraction are monotone, so the
# fixpoint is guaranteed — stopping early would silently return partial
# minima, i.e. WRONG components, not just slow ones); at
# `max_iter * HARD_CAP_FACTOR` a RuntimeError stops a genuinely broken run.
HARD_CAP_FACTOR = 20

Step = Callable[[tuple[DataFrame, ...], int], Sequence[DataFrame]]


def ckpt(df: DataFrame) -> DataFrame:
    """Eagerly materialize `df` and truncate its lineage."""
    if df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        return df.localCheckpoint()
    return df.checkpoint()


def _persisted_ids(sc) -> set[int]:
    ids = sc._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _release(sc, ids: set[int]) -> None:
    rdds = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = rdds.get(i)
        # only local checkpoint blocks: a user frame that was cached
        # elsewhere but first materialized inside a round stays
        if rdd is not None and rdd.rdd().isLocallyCheckpointed():
            rdd.unpersist(False)


def _probe(df: DataFrame, metrics: list) -> tuple[DataFrame, dict]:
    obs = Observation()  # single use: one per checkpoint
    return ckpt(df.observe(obs, *metrics)), obs.get


def counted(df: DataFrame) -> tuple[DataFrame, int]:
    """`ckpt(df)` and its row count, read from the same execution."""
    df, m = _probe(df, [F.count(F.lit(1)).alias("n")])
    return df, m["n"]


def fixpoint(
    step: Step,
    state: Sequence[DataFrame],
    *,
    max_iter: int,
    what: str,
    key: Sequence[str] | None = None,
    must_converge: bool = False,
    fallback: Step | None = None,
) -> tuple[DataFrame, ...]:
    """Iterate `state = step(state, i)` for rounds i = 1, 2, ... and
    return the last state.

    `step` builds the next state's frames lazily from the previous
    state only, never one new frame from another, and each round
    checkpoints every frame once. The convergence test reads an
    Observation on the first frame's checkpoint, so no round pays a
    separate probe action: stop when it has no rows or, when `key`
    names columns, when its (count, bit_xor(xxhash64(key))) repeats the
    previous round's. A round whose first frame comes out empty is
    rebuilt once with `fallback`, when given, before the loop stops. On
    a stop the other frames come back unmaterialized over the previous
    round's checkpoints; otherwise the previous round's local
    checkpoint blocks are released once the new round is materialized
    (reliable checkpoint files are left to Spark's ContextCleaner).

    At `max_iter` rounds a bounded loop (hop/depth/round caps) returns
    silently; a `must_converge` loop warns, keeps going, and raises at
    `max_iter * HARD_CAP_FACTOR`.
    """
    state = tuple(state)
    sc = state[0].sparkSession.sparkContext
    metrics = [F.count(F.lit(1)).alias("n")]
    if key is not None:
        metrics.append(F.coalesce(F.bit_xor(F.xxhash64(*key)), F.lit(0)).alias("h"))
    prev, held, i = None, set(), 0
    while must_converge or i < max_iter:
        i += 1
        before = _persisted_ids(sc)
        head, *rest = step(state, i)
        head, cur = _probe(head, metrics)
        if cur["n"] == 0 and fallback is not None:
            head, *rest = fallback(state, i)
            head, cur = _probe(head, metrics)
        if cur["n"] == 0 or (key is not None and cur == prev):
            if not rest:  # nothing lazy still reads the previous round
                _release(sc, held)
            return (head, *rest)
        state = (head, *(ckpt(f) for f in rest))
        _release(sc, held)
        held = _persisted_ids(sc) - before
        prev = cur
        if must_converge and i == max_iter:
            warnings.warn(
                f"{what}: not converged after max_iter={max_iter} rounds; "
                "continuing to the guaranteed fixpoint",
                RuntimeWarning,
                stacklevel=3,
            )
        if must_converge and i >= max_iter * HARD_CAP_FACTOR:
            raise RuntimeError(
                f"{what}: no fixpoint after {i} rounds "
                f"(hard cap {max_iter} x {HARD_CAP_FACTOR})"
            )
    return state


def closure(
    expand: Callable[[DataFrame, DataFrame, int], DataFrame],
    frontier: DataFrame,
    *,
    max_iter: int,
    what: str,
    must_converge: bool = False,
) -> DataFrame:
    """Semi-naive closure on `fixpoint`: round i adds the new frontier
    `expand(frontier, seen, i)`, `seen` being everything reached so far.
    The state keeps the frontier apart from what came before it, so both
    derive from the previous round alone. Returns everything reached."""

    def step(state, i):
        frontier, done = state
        seen = done.unionByName(frontier)
        return expand(frontier, seen, i), seen

    frontier, done = fixpoint(
        step,
        (frontier, frontier.limit(0)),
        max_iter=max_iter,
        what=what,
        must_converge=must_converge,
    )
    return done.unionByName(frontier)
