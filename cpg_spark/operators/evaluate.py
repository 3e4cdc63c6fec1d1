"""Data-level constant folding over an expression DAG — the
ValueEvaluator analog (reference cpg-analysis/.../ValueEvaluator.kt
walks DFG/initializer edges backward from a node and folds literals
through operators; MultiValueEvaluator collects the value SET when
multiple paths reach a node).

Catalyst folds constants inside one expression tree for free; this
operator folds constants ACROSS graph rows — literals flow over edges
into operator nodes until a fixpoint, the data-level propagation the
reference performs on its object graph.

Tables:
  nodes(node_id long, kind string, value double, op string)
        kind: 'lit' (value set) | 'op'
  edges(child long, parent long[, pos int])        child feeds parent

Operator coverage mirrors ValueEvaluator.kt:119-141 (binary + - * /),
268-330 (comparisons > < >= <= ==, unary -, conditionals):
  order-insensitive (no pos needed): add, mul, min, max, neg
  ordered (edges must carry pos):    sub (0-1), div (0/1),
                                     gt/lt/ge/le/eq (0 vs 1),
                                     cond (pos0 ? pos1 : pos2),
                                     subscript (pos0 = index,
                                       pos1..n = array elements —
                                       ValueEvaluator.kt:299)
Comparisons fold to 1.0 / 0.0 (one value column; the reference returns
Boolean). Division by zero folds to NO value — the node stays
unevaluated, the reference's "cannot evaluate" rule (ValueEvaluator.kt
handleDiv returns cannotEvaluate on zero divisor).

Each round evaluates every op node whose inputs are ALL evaluated
(bottom-up level at a time — rounds = DAG depth, each round one join +
one map-side-combinable aggregation). Nodes fed by unresolvable inputs
stay unevaluated; in evaluate_expressions so do nodes on cycles, while
evaluate_expression_sets unrolls simple loop-carried counters into a
bounded value set (the reference MultiValueEvaluator's
handleSimpleLoopVariable, MAX_DEPTH=20). The rounds run on
iterutil.fixpoint, which checkpoints every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutil import ckpt, fixpoint


def _with_pos(edges: DataFrame) -> DataFrame:
    if "pos" in edges.columns:
        return edges
    return edges.withColumn("pos", F.lit(None).cast("int"))


def _fold(
    lits, nodes, edges, solve, max_rounds: int, what: str, unroll=None
) -> DataFrame:
    """The round loop both evaluators share. The state is (solved, vals,
    pending) with the last round's `solved` not yet merged, so each round
    derives all three frames from the previous round alone: merge, then
    `solve(vals, pending)` for the nodes whose inputs are now all
    evaluated. A round where that solves nothing tries `unroll(vals,
    pending)` instead, when given. Stops when a round solves nothing or
    after max_rounds."""
    ops = nodes.filter(F.col("kind") == "op").select("node_id", "op")
    arity = edges.groupBy(F.col("parent").alias("node_id")).agg(
        F.count(F.lit(1)).alias("__n_args")
    )

    def round_with(f):
        def round_(state, _):
            solved, vals, pending = state
            vals = vals.unionByName(solved)
            pending = pending.join(solved.select("node_id"), "node_id", "left_anti")
            return f(vals, pending), vals, pending

        return round_

    solved, vals, _ = fixpoint(
        round_with(solve),
        (lits, lits.limit(0), ckpt(ops.join(arity, "node_id"))),
        max_iter=max_rounds,
        what=what,
        fallback=round_with(unroll) if unroll else None,
    )
    return vals.unionByName(solved)


def _resolve_simple_loops(
    vals: DataFrame,
    pending: DataFrame,
    edges: DataFrame,
    max_loop_iters: int,
    max_set_size: int,
) -> DataFrame:
    """Bounded unrolling of simple loop-carried counters — the
    reference's handleSimpleLoopVariable (MultiValueEvaluator.kt:43-60
    MAX_DEPTH=20; :243-330 enumerates the loop variable's successive
    values by re-applying the iteration statement's binary op). Called
    when the acyclic fixpoint stalls; recognizes the i = f(i, c) cycle:

        phi P with EXACTLY two inputs: one evaluated (the init set) and
        one pending arithmetic op U, where U's two inputs are P itself
        and an evaluated constant set C.

    P's value set becomes the bounded orbit {f^k(v0, c) : v0 ∈ init,
    c ∈ C, 0 ≤ k < max_loop_iters} — closed forms keep the whole
    enumeration in Column expressions (add: v0+k·c, sub: v0-k·c, mul:
    v0·c^k, div: v0/c^k), so nothing leaves codegen. Monotone guard:
    sub/div require the loop var on the LEFT (pos 0) — c-v0 style
    flip-flops are not the reference's simple-loop shape and stay
    unevaluated. Zero-divisor step sets drop those orbits
    (cannotEvaluate). Resolved nodes always carry truncated=True: the
    DFG has no loop bound, so the enumeration is inherently capped —
    bounded, never silent. U itself then resolves in the next normal
    round as pairwise-f over P's set (one extra applied step, matching
    the reference's 'the last operation is added by the statement that
    got us here').

    Returns (node_id, vals, truncated) for resolved loop headers (may
    be empty)."""
    phis = pending.filter((F.col("op") == "phi") & (F.col("__n_args") == 2))
    upd_ops = ["add", "sub", "mul", "div"]
    upds = pending.filter(
        F.col("op").isin(upd_ops) & (F.col("__n_args") == 2)
    ).select(F.col("node_id").alias("child"), F.col("op").alias("__uop"))
    pe = (
        edges.join(phis.select(F.col("node_id").alias("parent")), "parent")
        .join(
            vals.select(
                F.col("node_id").alias("child"), F.col("vals").alias("__init")
            ),
            "child",
            "left",
        )
        .join(upds, "child", "left")
    )
    cand = (
        pe.groupBy(F.col("parent").alias("__p"))
        .agg(
            F.count("__init").alias("__n_init"),
            F.first("__init", ignorenulls=True).alias("__init_vals"),
            F.count("__uop").alias("__n_upd"),
            F.first(
                F.when(F.col("__uop").isNotNull(), F.col("child")),
                ignorenulls=True,
            ).alias("__u"),
            F.first("__uop", ignorenulls=True).alias("__op"),
        )
        .filter((F.col("__n_init") == 1) & (F.col("__n_upd") == 1))
    )
    ue = edges.join(
        cand.select(
            F.col("__u").alias("parent"), "__p", "__init_vals", "__op"
        ),
        "parent",
    ).join(
        vals.select(F.col("node_id").alias("child"), F.col("vals").alias("__step")),
        "child",
        "left",
    )
    self_edge = F.col("child") == F.col("__p")
    loops = (
        ue.groupBy(F.col("parent").alias("__u2"))
        .agg(
            F.first("__p", ignorenulls=True).alias("node_id"),
            F.first("__init_vals", ignorenulls=True).alias("__init_vals"),
            F.first("__op", ignorenulls=True).alias("__op"),
            F.count(F.lit(1)).alias("__n_args_u"),
            F.sum(self_edge.cast("int")).alias("__n_self"),
            F.min(F.when(self_edge, F.col("pos"))).alias("__self_pos"),
            F.first(
                F.when(~self_edge, F.col("__step")), ignorenulls=True
            ).alias("__step_vals"),
            F.count(F.when(~self_edge, F.col("__step"))).alias("__n_step"),
        )
        .filter(
            (F.col("__n_args_u") == 2)
            & (F.col("__n_self") == 1)
            & (F.col("__n_step") == 1)
            & (F.col("__op").isin(["add", "mul"]) | (F.col("__self_pos") == 0))
        )
    )

    ks = F.sequence(F.lit(0), F.lit(max_loop_iters - 1))
    op = F.col("__op")

    def orbit(v0, c):
        kd = lambda k: k.cast("double")  # noqa: E731
        return (
            F.when(op == "add", F.transform(ks, lambda k: v0 + kd(k) * c))
            .when(op == "sub", F.transform(ks, lambda k: v0 - kd(k) * c))
            .when(op == "mul", F.transform(ks, lambda k: v0 * F.pow(c, kd(k))))
            .when(
                op == "div",
                F.when(c != 0, F.transform(ks, lambda k: v0 / F.pow(c, kd(k)))),
            )
        )

    unrolled = F.flatten(
        F.transform(
            F.col("__init_vals"),
            lambda v0: F.flatten(
                F.filter(
                    F.transform(F.col("__step_vals"), lambda c: orbit(v0, c)),
                    lambda arr: arr.isNotNull(),
                )
            ),
        )
    )
    return (
        loops.select(
            "node_id", F.sort_array(F.array_distinct(unrolled)).alias("__set")
        )
        .filter(F.col("__set").isNotNull() & (F.size("__set") > 0))
        .select(
            "node_id",
            F.slice(F.col("__set"), 1, max_set_size).alias("vals"),
            F.lit(True).alias("truncated"),
        )
    )


def evaluate_expression_sets(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 32,
    max_set_size: int = 32,
    max_loop_iters: int = 20,
) -> DataFrame:
    """MultiValueEvaluator analog (reference analysis/
    MultiValueEvaluator.kt:43-60 — when several paths define a value, the
    result is the SET of possibilities, a ConcreteNumberSet, with bounded
    exploration): every node evaluates to a sorted array of possible
    values.

    nodes(node_id, kind, value, op): kind 'lit' (value) | 'op'
    (op: 'phi' — union of any number of inputs — 'neg' unary, binary
    'add'/'mul'/'sub'/'div'/'gt'/'lt'/'ge'/'le'/'eq' pairwise over the
    two input sets, or 'cond' — the union of BOTH branch sets at pos
    1/2, the reference's ConditionalExpression rule which explores both
    branches). edges(child, parent, pos). Pairwise division drops
    zero-divisor pairs (each is the reference's cannotEvaluate); a node
    whose set ends up empty stays unevaluated. Set sizes cap at
    max_set_size (sorted, smallest kept) and the `truncated` flag
    reports it — bounded like the reference, never silent.

    Loop-carried counters (i = f(i, c) phi/op cycles) no longer stay
    unevaluated: when the acyclic fixpoint stalls, _resolve_simple_loops
    unrolls each simple cycle's bounded orbit (max_loop_iters values,
    reference MAX_DEPTH=20) with truncated=True, and evaluation then
    continues downstream of the loop. Returns (node_id, vals
    array<double>, truncated)."""
    edges = _with_pos(edges)
    lits = nodes.filter(F.col("kind") == "lit").select(
        "node_id",
        F.array(F.col("value").cast("double")).alias("vals"),
        F.lit(False).alias("truncated"),
    )

    def solve(vals: DataFrame, pending: DataFrame) -> DataFrame:
        child_vals = edges.join(
            vals.withColumnRenamed("node_id", "child"), "child"
        )
        ready = child_vals.groupBy(F.col("parent").alias("node_id")).agg(
            F.count(F.lit(1)).alias("__n_ready"),
            F.flatten(F.collect_list("vals")).alias("__all"),
            F.first(F.when(F.col("pos") == 0, F.col("vals")), ignorenulls=True).alias("__a"),
            F.first(F.when(F.col("pos") == 1, F.col("vals")), ignorenulls=True).alias("__b"),
            F.flatten(
                F.collect_list(F.when(F.col("pos") >= 1, F.col("vals")))
            ).alias("__branches"),
            # element-position lookup table for subscript: SORTED struct
            # array restricted to pos>=1 (pos 0 is the index edge, so a
            # negative folded index can never splice the index's own
            # value set back in — out-of-bounds stays cannotEvaluate),
            # first-match lookup below; an array tolerates duplicate pos
            # (malformed input) where map_from_entries would throw
            # DUPLICATED_MAP_KEY and fail the whole job on one node
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("pos") >= 1,
                        F.struct(F.col("pos"), F.col("vals")),
                    )
                )
            ).alias("__bypos"),
            F.max(F.col("truncated").cast("int")).alias("__trunc_in"),
        )

        def pairwise(f):
            return F.flatten(
                F.transform(
                    F.col("__a"), lambda x: F.transform(F.col("__b"), lambda y: f(x, y))
                )
            )

        bool_d = lambda c: c.cast("double")  # noqa: E731
        raw = (
            F.when(F.col("op") == "phi", F.col("__all"))
            .when(F.col("op") == "add", pairwise(lambda x, y: x + y))
            .when(F.col("op") == "mul", pairwise(lambda x, y: x * y))
            .when(F.col("op") == "sub", pairwise(lambda x, y: x - y))
            .when(
                F.col("op") == "div",
                F.filter(
                    pairwise(lambda x, y: F.when(y != 0, x / y)),
                    lambda v: v.isNotNull(),
                ),
            )
            .when(F.col("op") == "gt", pairwise(lambda x, y: bool_d(x > y)))
            .when(F.col("op") == "lt", pairwise(lambda x, y: bool_d(x < y)))
            .when(F.col("op") == "ge", pairwise(lambda x, y: bool_d(x >= y)))
            .when(F.col("op") == "le", pairwise(lambda x, y: bool_d(x <= y)))
            .when(F.col("op") == "eq", pairwise(lambda x, y: bool_d(x == y)))
            .when(
                F.col("op") == "neg",
                F.transform(F.col("__all"), lambda x: F.lit(0.0) - x),
            )
            # both branches possible, like the reference's
            # ConditionalExpression handling in MultiValueEvaluator
            .when(F.col("op") == "cond", F.col("__branches"))
            # array subscript over a value-set index (reference
            # handleArraySubscriptionExpression, ValueEvaluator.kt:299;
            # MultiValueEvaluator explores every index in the set):
            # pos 0 = the index, pos 1..n = the array elements in
            # order; out-of-bounds indices — negative included — are
            # cannotEvaluate (dropped); first match = min per pos
            .when(
                F.col("op") == "subscript",
                F.flatten(
                    F.filter(
                        F.transform(
                            F.col("__a"),
                            lambda i: F.try_element_at(
                                F.filter(
                                    F.col("__bypos"),
                                    lambda s: s.getField("pos")
                                    == i.cast("int") + 1,
                                ),
                                F.lit(1),
                            ).getField("vals"),
                        ),
                        lambda arr: arr.isNotNull(),
                    )
                ),
            )
        )
        return (
            pending.join(ready, "node_id")
            .filter(F.col("__n_ready") == F.col("__n_args"))
            .select(
                "node_id",
                F.sort_array(F.array_distinct(raw)).alias("__set"),
                F.col("__trunc_in"),
            )
            .filter(F.col("__set").isNotNull() & (F.size("__set") > 0))
            .select(
                "node_id",
                F.slice(F.col("__set"), 1, max_set_size).alias("vals"),
                (
                    (F.size("__set") > max_set_size)
                    | (F.col("__trunc_in") == 1)
                ).alias("truncated"),
            )
        )

    # acyclic progress stalled: try the reference's simple-loop
    # unrolling before giving up (cycles otherwise stay unevaluated)
    return _fold(
        lits, nodes, edges, solve, max_rounds, "evaluate_expression_sets",
        lambda v, p: _resolve_simple_loops(v, p, edges, max_loop_iters, max_set_size),
    )


def evaluate_expressions(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 32,
) -> DataFrame:
    """Returns (node_id, value) for every node whose value folds to a
    constant; unevaluable nodes (cycles, unknown ops, division by zero)
    are absent — the reference's cannotEvaluate result."""
    edges = _with_pos(edges)
    lits = nodes.filter(F.col("kind") == "lit").select(
        "node_id", F.col("value").cast("double").alias("value")
    )

    def solve(vals: DataFrame, pending: DataFrame) -> DataFrame:
        ready = (
            edges.join(vals.withColumnRenamed("node_id", "child"), "child")
            .groupBy(F.col("parent").alias("node_id"))
            .agg(
                F.count(F.lit(1)).alias("__n_ready"),
                F.sum("value").alias("__sum"),
                F.min("value").alias("__min"),
                F.max("value").alias("__max"),
                # product as a fold over the collected args (tiny arity)
                F.aggregate(
                    F.collect_list("value"), F.lit(1.0), lambda acc, x: acc * x
                ).alias("__prod"),
                # positional args for ordered operators
                F.min(F.when(F.col("pos") == 0, F.col("value"))).alias("__a"),
                F.min(F.when(F.col("pos") == 1, F.col("value"))).alias("__b"),
                F.min(F.when(F.col("pos") == 2, F.col("value"))).alias("__c"),
                # element-position lookup for subscript: pos>=1 only
                # (pos 0 is the index edge — keeps negative indices
                # out-of-bounds), sorted array instead of a map so a
                # duplicate pos degrades to min-per-pos instead of a
                # DUPLICATED_MAP_KEY job failure
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("pos") >= 1,
                            F.struct(F.col("pos"), F.col("value")),
                        )
                    )
                ).alias("__bypos"),
            )
        )
        a, b, c = F.col("__a"), F.col("__b"), F.col("__c")
        bool_d = lambda cc: cc.cast("double")  # noqa: E731
        return (
            pending.join(ready, "node_id")
            .filter(F.col("__n_ready") == F.col("__n_args"))
            .select(
                "node_id",
                F.when(F.col("op") == "add", F.col("__sum"))
                .when(F.col("op") == "mul", F.col("__prod"))
                .when(F.col("op") == "min", F.col("__min"))
                .when(F.col("op") == "max", F.col("__max"))
                # 0.0 - x, not -x: IEEE negation of 0.0 is -0.0, which
                # stringifies differently across engines
                .when(F.col("op") == "neg", F.lit(0.0) - F.col("__sum"))
                .when(F.col("op") == "sub", a - b)
                # zero divisor -> NULL -> filtered -> cannotEvaluate
                .when(F.col("op") == "div", F.when(b != 0, a / b))
                .when(F.col("op") == "gt", bool_d(a > b))
                .when(F.col("op") == "lt", bool_d(a < b))
                .when(F.col("op") == "ge", bool_d(a >= b))
                .when(F.col("op") == "le", bool_d(a <= b))
                .when(F.col("op") == "eq", bool_d(a == b))
                # pos0 ? pos1 : pos2 (the reference folds conditionals
                # whose condition folds to a constant)
                .when(F.col("op") == "cond", F.when(a != 0, b).otherwise(c))
                # arr[idx]: pos 0 = the index, pos 1..n = the elements
                # in order (reference handleArraySubscriptionExpression,
                # ValueEvaluator.kt:299 — an ArrayCreation initializer
                # list indexed by a folded constant); out-of-bounds —
                # negative included -> NULL -> cannotEvaluate
                .when(
                    F.col("op") == "subscript",
                    F.try_element_at(
                        F.filter(
                            F.col("__bypos"),
                            lambda s: s.getField("pos") == a.cast("int") + 1,
                        ),
                        F.lit(1),
                    ).getField("value"),
                )
                .alias("value"),
            )
            .filter(F.col("value").isNotNull())
        )

    return _fold(lits, nodes, edges, solve, max_rounds, "evaluate_expressions")
