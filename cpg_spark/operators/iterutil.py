"""Lineage truncation, release scopes for local checkpoints, and the
one fixpoint loop behind every iterative operator (CC/SCC/BFS/compress
in canonicalize.py, scope closures in link.py, DFG slicing in
stringapprox.py, constant folding in evaluate.py, PageRank/HITS/label
propagation/k-core in graphrank.py).

The checkpoint kind follows the SparkContext: a reliable `checkpoint()`
when it has a checkpoint directory (`spark.checkpoint.dir` or
`sc.setCheckpointDir`, the cluster setting — an executor loss mid-loop
must not lose the only copy of a round), else `localCheckpoint()`.

The release rule (`scope`): `ckpt` records each local checkpoint in the
innermost release scope open on its thread (a context variable, so
concurrent stages never see each other's). At its boundary a scope
releases what no frame it keeps reads and hands the rest to the scope
around it (with none, to the caller); a scope left by an exception
releases everything. Each `fixpoint`, registry entry (queries.py) and
stage commit (plans/pipeline.py) is a scope, so operators carry no
release code.
"""

from __future__ import annotations

import warnings
from contextvars import ContextVar
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
    sc = df.sparkSession.sparkContext
    if not sc._jsc.sc().getCheckpointDir().isEmpty():
        return df.checkpoint()
    out = df.localCheckpoint()
    if (inner := _SCOPE.get()) is not None:
        inner.sc, inner.held = sc, inner.held | _reads([out])
    return out


def persisted_ids(sc) -> set[int]:
    """Ids of the context's persisted RDDs (to observe what a run left)."""
    ids = sc._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return {int(i) for i in ids.split(",") if i}


def _reads(frames: Sequence[DataFrame]) -> set[int]:
    """Ids of the RDDs behind the `LogicalRDD` leaves of each frame's
    analyzed plan; for a checkpointed frame that is the id of its
    persisted blocks. Subquery plans are not walked, which is exact
    while no operator builds a subquery (no `spark.sql`, `.scalar()` or
    `.exists()` in this package)."""
    ids = set()
    for df in frames:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(leaf.rdd().id())
    return ids


class scope:
    """A release scope (module docstring) over the body of `with
    scope() as s:`. Releasing runs no Spark job; reliable checkpoint
    files are left to Spark's ContextCleaner."""

    def __enter__(self) -> scope:
        self.held, self.kept, self.sc = set(), set(), None
        self._token = _SCOPE.set(self)
        return self

    def keep(self, *frames: DataFrame) -> None:
        """Release now what none of `frames` reads; what they read goes
        to the enclosing scope at the boundary."""
        self.kept = _reads(frames)
        self._release()

    def _release(self) -> None:
        for i in self.held - self.kept:
            rdd = self.sc._jsc.getPersistentRDDs().get(i)
            if rdd is not None:
                rdd.unpersist(False)
        self.held &= self.kept

    def __exit__(self, exc_type, *_) -> None:
        _SCOPE.reset(self._token)
        if exc_type is not None:
            self.kept = set()
        self._release()
        if (outer := _SCOPE.get()) is not None and self.held:
            outer.sc, outer.held = self.sc, outer.held | self.held


_SCOPE: ContextVar[scope | None] = ContextVar("release_scope", default=None)


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
    round's checkpoints.

    The loop is a release scope (module docstring) that each round
    keeps the new state in and the stop its output.

    At `max_iter` rounds a bounded loop (hop/depth/round caps) returns
    silently; a `must_converge` loop warns, keeps going, and raises at
    `max_iter * HARD_CAP_FACTOR`.
    """
    state = tuple(state)
    metrics = [F.count(F.lit(1)).alias("n")]
    if key is not None:
        metrics.append(F.coalesce(F.bit_xor(F.xxhash64(*key)), F.lit(0)).alias("h"))
    prev, i = None, 0
    with scope() as loop:
        while must_converge or i < max_iter:
            i += 1
            head, *rest = step(state, i)
            head, cur = _probe(head, metrics)
            if cur["n"] == 0 and fallback is not None:
                head, *rest = fallback(state, i)
                head, cur = _probe(head, metrics)
            if cur["n"] == 0 or (key is not None and cur == prev):
                loop.keep(head, *rest)
                return (head, *rest)
            state = (head, *(ckpt(f) for f in rest))
            loop.keep(*state)
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
