"""Data-level constant folding (ValueEvaluator analog) and the full
createGrammar chain: DFG slice -> productions -> MN approximation ->
regex."""

from __future__ import annotations

import re

import pytest  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from cpg_spark.operators.evaluate import evaluate_expressions
from cpg_spark.operators.stringapprox import grammar_patterns, productions_from_dfg


def test_evaluate_expressions_folds_dag(spark):
    nodes = spark.createDataFrame(
        [
            (0, "lit", 3.0, None), (1, "lit", 4.0, None), (2, "lit", 2.0, None),
            (10, "op", None, "add"),   # 3 + 4 = 7
            (11, "op", None, "mul"),   # 7 * 2 = 14
            (12, "op", None, "max"),   # max(14, 3) = 14
            (13, "op", None, "neg"),   # -(14) = -14
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [(0, 10), (1, 10), (10, 11), (2, 11), (11, 12), (0, 12), (12, 13)],
        "child long, parent long",
    )
    got = {r["node_id"]: r["value"] for r in evaluate_expressions(nodes, edges).collect()}
    assert got == {0: 3.0, 1: 4.0, 2: 2.0, 10: 7.0, 11: 14.0, 12: 14.0, 13: -14.0}


def test_evaluate_expressions_unresolvable_absent(spark):
    """An op fed by a cycle (or missing input) never evaluates — the
    reference's cannot-evaluate result, not a wrong value."""
    nodes = spark.createDataFrame(
        [(0, "lit", 1.0, None), (10, "op", None, "add"), (11, "op", None, "add")],
        "node_id long, kind string, value double, op string",
    )
    # 10 <-> 11 feed each other; both also take the literal
    edges = spark.createDataFrame(
        [(0, 10), (11, 10), (10, 11)], "child long, parent long"
    )
    got = {r["node_id"]: r["value"] for r in evaluate_expressions(nodes, edges).collect()}
    assert got == {0: 1.0}


def test_dfg_to_grammar_chain(spark):
    """The reference flagship end to end (createGrammar ->
    RegularApproximation -> regex): a string-building DFG for
    x = "1" | "a" + x + "b" (language a^n 1 b^n) slices into a grammar
    whose MN approximation is exactly a*1b*."""
    nodes = spark.createDataFrame(
        [
            (0, "lit", "a"), (1, "lit", "b"), (2, "lit", "1"),
            (3, "phi", None),      # x
            (4, "concat", None),   # "a" + x
            (5, "concat", None),   # ("a" + x) + "b"
        ],
        "node_id long, kind string, text string",
    )
    edges = spark.createDataFrame(
        [
            (2, 3, 0), (5, 3, 1),          # x = "1" | node5
            (0, 4, 0), (3, 4, 1),          # node4 = "a" + x
            (4, 5, 0), (1, 5, 1),          # node5 = node4 + "b"
        ],
        "child long, parent long, pos int",
    )
    hotspots = spark.createDataFrame([("h", 3)], "hotspot_id string, node_id long")
    prods = productions_from_dfg(nodes, edges, hotspots)
    out = grammar_patterns(prods).collect()
    assert len(out) == 1 and out[0]["was_approximated"] is True
    rx = out[0]["regex"]
    for good in ["1", "a1b", "aa1bb", "aa1b", "a1", "1b"]:
        assert re.fullmatch(rx, good), good
    for bad in ["", "ab1", "b1a", "a", "11"]:
        assert not re.fullmatch(rx, bad), bad


def test_evaluate_sets_phi_and_pairwise(spark):
    """MultiValueEvaluator analog: phi unions the possible values; a
    binary op combines pairwise across both input sets."""
    from cpg_spark.operators.evaluate import evaluate_expression_sets

    nodes = spark.createDataFrame(
        [
            (0, "lit", 1.0, None), (1, "lit", 2.0, None), (2, "lit", 10.0, None),
            (10, "op", None, "phi"),   # {1, 2}
            (11, "op", None, "add"),   # {1,2} + {10} = {11, 12}
            (12, "op", None, "mul"),   # {11,12} * {1,2} = {11,12,22,24}
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [
            (0, 10, 0), (1, 10, 1),
            (10, 11, 0), (2, 11, 1),
            (11, 12, 0), (10, 12, 1),
        ],
        "child long, parent long, pos int",
    )
    got = {r["node_id"]: (list(r["vals"]), r["truncated"])
           for r in evaluate_expression_sets(nodes, edges).collect()}
    assert got[10] == ([1.0, 2.0], False)
    assert got[11] == ([11.0, 12.0], False)
    assert got[12] == ([11.0, 12.0, 22.0, 24.0], False)


def test_evaluate_sets_cap_is_flagged(spark):
    """Bounded exploration: the set caps at max_set_size and the
    truncated flag reports it (never silent)."""
    from cpg_spark.operators.evaluate import evaluate_expression_sets

    lits = [(i, "lit", float(i), None) for i in range(6)]
    nodes = spark.createDataFrame(
        lits + [(10, "op", None, "phi")],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [(i, 10, i) for i in range(6)], "child long, parent long, pos int"
    )
    got = {r["node_id"]: (list(r["vals"]), r["truncated"])
           for r in evaluate_expression_sets(nodes, edges, max_set_size=4).collect()}
    assert got[10] == ([0.0, 1.0, 2.0, 3.0], True)


def test_evaluate_full_op_set(spark):
    """Ordered operators (reference ValueEvaluator.kt:119-141, 268-330):
    sub/div/comparisons/cond over positional edges; division by zero is
    cannotEvaluate (absent), conditionals select on the folded guard."""
    nodes = spark.createDataFrame(
        [
            (0, "lit", 7.0, None), (1, "lit", 2.0, None), (2, "lit", 0.0, None),
            (10, "op", None, "sub"),   # 7 - 2 = 5
            (11, "op", None, "div"),   # 7 / 2 = 3.5
            (12, "op", None, "gt"),    # 7 > 2 = 1
            (13, "op", None, "le"),    # 7 <= 2 = 0
            (14, "op", None, "eq"),    # 2 == 2 = 1
            (15, "op", None, "cond"),  # gt ? 7 : 2 = 7
            (16, "op", None, "div"),   # 7 / 0 -> absent
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [
            (0, 10, 0), (1, 10, 1),
            (0, 11, 0), (1, 11, 1),
            (0, 12, 0), (1, 12, 1),
            (0, 13, 0), (1, 13, 1),
            (1, 14, 0), (1, 14, 1),
            (12, 15, 0), (0, 15, 1), (1, 15, 2),
            (0, 16, 0), (2, 16, 1),
        ],
        "child long, parent long, pos int",
    )
    got = {r["node_id"]: r["value"] for r in evaluate_expressions(nodes, edges).collect()}
    assert got[10] == 5.0 and got[11] == 3.5
    assert got[12] == 1.0 and got[13] == 0.0 and got[14] == 1.0
    assert got[15] == 7.0
    assert 16 not in got  # zero divisor: cannot evaluate


def test_evaluate_sets_ordered_ops(spark):
    """Set variants: pairwise sub/div, zero-divisor pairs dropped, cond
    unions both branches (MultiValueEvaluator's ConditionalExpression
    rule)."""
    from cpg_spark.operators.evaluate import evaluate_expression_sets

    nodes = spark.createDataFrame(
        [
            (0, "lit", 1.0, None), (1, "lit", 4.0, None), (2, "lit", 0.0, None),
            (3, "lit", 2.0, None), (4, "lit", 9.0, None),
            (10, "op", None, "phi"),   # {1, 4}
            (20, "op", None, "phi"),   # {0, 2}
            (11, "op", None, "sub"),   # {1,4} - {2} = {-1, 2}
            (12, "op", None, "div"),   # {1,4} / {0,2} -> zero pairs drop -> {0.5, 2}
            (13, "op", None, "cond"),  # branches {1,4} U {9}
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [
            (0, 10, 0), (1, 10, 1),
            (10, 11, 0), (3, 11, 1),
            (2, 20, 0), (3, 20, 1),
            (10, 12, 0), (20, 12, 1),
            (3, 13, 0), (10, 13, 1), (4, 13, 2),
        ],
        "child long, parent long, pos int",
    )
    out = {
        r["node_id"]: list(r["vals"])
        for r in evaluate_expression_sets(nodes, edges).collect()
    }
    assert out[10] == [1.0, 4.0]
    assert out[11] == [-1.0, 2.0]
    assert out[12] == [0.5, 2.0]
    assert out[13] == [1.0, 4.0, 9.0]


def test_evaluate_checkpoint_dir_equivalence(spark, tmp_path, restore_checkpoint_dir):
    """A context checkpoint directory (reliable checkpoints) produces
    identical results to the localCheckpoint default (the canonicalize
    equivalence pattern)."""
    nodes = spark.createDataFrame(
        [(0, "lit", 3.0, None), (1, "lit", 4.0, None), (10, "op", None, "add")],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame([(0, 10), (1, 10)], "child long, parent long")
    base = {r["node_id"]: r["value"] for r in evaluate_expressions(nodes, edges).collect()}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    ck = {r["node_id"]: r["value"] for r in evaluate_expressions(nodes, edges).collect()}
    assert any((tmp_path / "ck").iterdir())
    assert base == ck == {0: 3.0, 1: 4.0, 10: 7.0}


def _loop_fixture(spark, op, self_pos, init=0.0, step=3.0):
    """phi P(2) <-> op U(3) cycle with init lit(0) and step lit(1)."""
    from cpg_spark.operators.evaluate import evaluate_expression_sets

    nodes = spark.createDataFrame(
        [(0, "lit", init, None), (1, "lit", step, None),
         (2, "op", None, "phi"), (3, "op", None, op)],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [(0, 2, None), (3, 2, None),
         (2, 3, self_pos), (1, 3, 1 - self_pos)],
        "child long, parent long, pos int",
    )
    return {
        r["node_id"]: r
        for r in evaluate_expression_sets(
            nodes, edges, max_loop_iters=5
        ).collect()
    }


def test_loop_unroll_add(spark):
    """i = i + 3 from 0: the bounded orbit {0,3,6,9,12}, truncated=True
    (reference handleSimpleLoopVariable, MultiValueEvaluator.kt:43-60);
    the update node gets one applied step."""
    out = _loop_fixture(spark, "add", 0)
    assert list(out[2]["vals"]) == [0.0, 3.0, 6.0, 9.0, 12.0]
    assert out[2]["truncated"]
    assert list(out[3]["vals"]) == [3.0, 6.0, 9.0, 12.0, 15.0]


def test_loop_unroll_sub_and_mul(spark):
    out = _loop_fixture(spark, "sub", 0, init=10.0, step=2.0)
    assert list(out[2]["vals"]) == [2.0, 4.0, 6.0, 8.0, 10.0]
    out = _loop_fixture(spark, "mul", 0, init=1.0, step=2.0)
    assert list(out[2]["vals"]) == [1.0, 2.0, 4.0, 8.0, 16.0]


def test_loop_unroll_rejects_non_monotone_sub(spark):
    """c - i flip-flops — not the reference's simple-loop shape: the
    cycle must stay unevaluated (phi absent from the output)."""
    out = _loop_fixture(spark, "sub", 1, init=1.0, step=5.0)
    assert 2 not in out and 3 not in out


def test_loop_unroll_zero_divisor_step_unevaluated(spark):
    """i = i / 0 orbits are cannotEvaluate: the whole set is empty, so
    the phi stays unevaluated rather than carrying garbage."""
    out = _loop_fixture(spark, "div", 0, init=8.0, step=0.0)
    assert 2 not in out


def test_loop_unroll_downstream_continues(spark):
    """Evaluation proceeds PAST the loop: a mul fed by the loop header
    resolves pairwise over the orbit with truncation propagated."""
    from cpg_spark.operators.evaluate import evaluate_expression_sets

    nodes = spark.createDataFrame(
        [(0, "lit", 0.0, None), (1, "lit", 3.0, None),
         (2, "op", None, "phi"), (3, "op", None, "add"),
         (4, "op", None, "mul")],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [(0, 2, None), (3, 2, None), (2, 3, 0), (1, 3, 1),
         (2, 4, 0), (1, 4, 1)],
        "child long, parent long, pos int",
    )
    out = {
        r["node_id"]: r
        for r in evaluate_expression_sets(
            nodes, edges, max_loop_iters=5
        ).collect()
    }
    assert list(out[4]["vals"]) == [0.0, 9.0, 18.0, 27.0, 36.0]
    assert out[4]["truncated"]


def test_subscript_folds_initializer_element(spark):
    """arr[idx] with a constant-folded index picks the element
    (reference handleArraySubscriptionExpression, ValueEvaluator.kt:299
    — ArrayCreation initializer indexed by an evaluated constant);
    out-of-bounds stays unevaluated (cannotEvaluate)."""
    from cpg_spark.operators.evaluate import evaluate_expressions

    nodes = spark.createDataFrame(
        [
            (0, "lit", 7.0, None), (1, "lit", 8.0, None), (2, "lit", 9.0, None),
            (3, "lit", 1.0, None),          # idx = 1 -> picks 8.0
            (4, "op", None, "subscript"),
            (5, "lit", 5.0, None),          # idx = 5 -> out of bounds
            (6, "op", None, "subscript"),
            # index itself folds through an op first (multi-round)
            (7, "op", None, "add"), (8, "lit", 1.0, None),
            (9, "op", None, "subscript"),
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [
            (3, 4, 0), (0, 4, 1), (1, 4, 2), (2, 4, 3),
            (5, 6, 0), (0, 6, 1), (1, 6, 2),
            (3, 7, 0), (8, 7, 1),           # 1 + 1 = 2
            (7, 9, 0), (0, 9, 1), (1, 9, 2), (2, 9, 3),  # arr[2] -> 9.0
        ],
        "child long, parent long, pos int",
    )
    out = {r["node_id"]: r["value"] for r in evaluate_expressions(nodes, edges).collect()}
    assert out[4] == 8.0
    assert 6 not in out  # OOB -> cannotEvaluate
    assert out[9] == 9.0


def test_subscript_over_index_set(spark):
    """MultiValueEvaluator semantics: every index in the set selects its
    element; OOB indices drop; result is the distinct union."""
    from cpg_spark.operators.evaluate import evaluate_expression_sets

    nodes = spark.createDataFrame(
        [
            (0, "lit", 7.0, None), (1, "lit", 8.0, None),
            (2, "lit", 0.0, None), (3, "lit", 1.0, None), (4, "lit", 9.0, None),
            (5, "op", None, "phi"),         # idx set {0, 1}
            (6, "op", None, "subscript"),
            (7, "op", None, "phi"),         # idx set {1, 9}: 9 is OOB
            (8, "op", None, "subscript"),
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [
            (2, 5, None), (3, 5, None),
            (5, 6, 0), (0, 6, 1), (1, 6, 2),
            (3, 7, None), (4, 7, None),
            (7, 8, 0), (0, 8, 1), (1, 8, 2),
        ],
        "child long, parent long, pos int",
    )
    out = {
        r["node_id"]: list(r["vals"])
        for r in evaluate_expression_sets(nodes, edges).collect()
    }
    assert out[6] == [7.0, 8.0]
    assert out[8] == [8.0]  # idx 9 OOB dropped


def test_subscript_negative_index_cannot_evaluate(spark):
    """A folded NEGATIVE index is out-of-bounds (cannotEvaluate), never
    the index edge's own value: idx=-1 used to hit the pos-0 lookup key
    and return the index itself. Covers both evaluators; a duplicate
    pos among the element edges (malformed input) degrades to the
    min-value element instead of a DUPLICATED_MAP_KEY job failure."""
    from cpg_spark.operators.evaluate import (
        evaluate_expression_sets,
        evaluate_expressions,
    )

    nodes = spark.createDataFrame(
        [
            (0, "lit", 7.0, None), (1, "lit", 8.0, None),
            (2, "lit", -1.0, None),          # idx = -1
            (3, "op", None, "subscript"),
            (4, "lit", 0.0, None),
            (5, "op", None, "subscript"),    # duplicate pos 1 below
            (9, "lit", 3.0, None),
        ],
        "node_id long, kind string, value double, op string",
    )
    edges = spark.createDataFrame(
        [
            (2, 3, 0), (0, 3, 1), (1, 3, 2),
            # node 5: arr[0] with TWO pos-1 edges (7.0 and 3.0)
            (4, 5, 0), (0, 5, 1), (9, 5, 1),
        ],
        "child long, parent long, pos int",
    )
    scalar = {
        r["node_id"]: r["value"]
        for r in evaluate_expressions(nodes, edges).collect()
    }
    assert 3 not in scalar          # negative idx -> cannotEvaluate
    assert scalar[5] == 3.0         # duplicate pos -> min element, no crash
    sets = {
        r["node_id"]: list(r["vals"])
        for r in evaluate_expression_sets(nodes, edges).collect()
    }
    assert 3 not in sets
    assert sets[5] == [3.0]
