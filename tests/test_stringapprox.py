"""End-to-end tests for the string-approximation chain (the fork's
EndToEndStringPropertyTest.kt:54-90 analog: synthesize the pattern, then
assert concrete accept/reject behavior) and the grouped-map EOG twin."""

from __future__ import annotations

import re

import pytest

from cpg_spark.operators import canonicalize, stringapprox


def test_charset_approx_accepts_all_members():
    words = ["Acme Corp", "Acme", "Acme Corporation"]
    rx = re.compile(stringapprox.charset_approx_py(words))
    for w in words:
        assert rx.fullmatch(w), w
    # over-approximation: accepts things outside the language too
    assert rx.fullmatch("Acme Acme")
    # but not characters outside the charset / length band
    assert not rx.fullmatch("Zebra!")
    assert not rx.fullmatch("A")


def test_trie_regex_exact_language():
    words = ["Acme Corp", "Acme", "Acme Corporation", "Nordwind"]
    rx = re.compile(stringapprox.trie_regex_py(words))
    for w in words:
        assert rx.fullmatch(w), w
    for bad in ["Acme Cor", "Acme Corporatio", "Nord", "Acme Corps", ""]:
        assert not rx.fullmatch(bad), bad


def test_entity_surface_patterns_end_to_end(spark, alias_df):
    canon = canonicalize.canonical_map(alias_df)
    pats = stringapprox.entity_surface_patterns(alias_df, canon)
    rows = pats.collect()
    assert len(rows) > 0

    members = {
        r["component_id"]: r["aliases"]
        for r in alias_df.join(
            canon.withColumnRenamed("member_id", "entity_id"), "entity_id"
        )
        .groupBy("component_id")
        .agg(__import__("pyspark").sql.functions.collect_set("alias").alias("aliases"))
        .collect()
    }
    for r in rows:
        cs = re.compile(r["charset_regex"])
        ex = re.compile(r["exact_regex"])
        words = sorted(set(members[r["component_id"]]))
        assert r["n_aliases"] == len(words)
        for w in words:
            assert cs.fullmatch(w), (r["component_id"], w, r["charset_regex"])
            assert ex.fullmatch(w), (r["component_id"], w, r["exact_regex"])
    # exact regexes are discriminative: an alias of one multi-alias
    # component must not match another component's exact regex unless
    # it is genuinely shared (aliases here are component-disjoint)
    by_comp = {r["component_id"]: re.compile(r["exact_regex"]) for r in rows}
    for comp, words in members.items():
        for other, rx in by_comp.items():
            if other == comp:
                continue
            others = set(members[other])
            for w in words:
                if w not in others:
                    assert not rx.fullmatch(w), (comp, other, w)


# --- regular approximation (Mohri-Nederhof) ----------------------------------

import re as _re

from cpg_spark.functions.grammar import (
    BOTH,
    Grammar,
    N,
    T,
    grammar_to_regex,
    recursion_kind,
    regular_approximation,
    sccs,
)
from cpg_spark.operators.stringapprox import grammar_patterns


def _full(rx, s):
    return _re.fullmatch(rx, s) is not None


def test_regular_grammar_stays_exact():
    """Already strongly regular grammars pass through untouched
    (RegularApproximation.kt early return) and synthesize their exact
    language: X -> a X | b  =>  a*b."""
    g = Grammar()
    x = g.add_nt("X")
    g.add_prod(x, ((T, "a"), (N, x)))
    g.add_prod(x, ((T, "b"),))
    assert not regular_approximation(g, {x})
    rx = grammar_to_regex(g, x)
    assert _full(rx, "b") and _full(rx, "aaab")
    assert not _full(rx, "a") and not _full(rx, "ba")


def test_add_prod_rejects_more_than_two_symbols():
    """The grammar is in normal form: a longer right-hand side is a
    ValueError and adds nothing."""
    g = Grammar()
    x = g.add_nt("X")
    with pytest.raises(ValueError, match="at most two symbols"):
        g.add_prod(x, ((T, "a"), (N, x), (T, "b")))
    assert g.prods[x] == []


def test_left_linear_exact():
    g = Grammar()
    x = g.add_nt("X")
    g.add_prod(x, ((N, x), (T, "a")))
    g.add_prod(x, ((T, "b"),))
    assert not regular_approximation(g, {x})
    rx = grammar_to_regex(g, x)
    assert _full(rx, "b") and _full(rx, "baa") and not _full(rx, "ab")


def test_mohri_nederhof_anbn():
    """The canonical non-regular grammar aⁿbⁿ (binarized S -> a T | ε,
    T -> S b) is BOTH-recursive; MN rewriting must produce exactly a*b*:
    a sound superset (every aⁿbⁿ accepted) that is regular
    (RegularApproximation.kt:45-174 case table)."""
    g = Grammar()
    s = g.add_nt("S")
    tn = g.add_nt("T")
    g.add_prod(s, ((T, "a"), (N, tn)))
    g.add_prod(s, ())
    g.add_prod(tn, ((N, s), (T, "b")))
    assert recursion_kind(g, {s, tn}) == BOTH
    assert regular_approximation(g, {s})
    assert all(recursion_kind(g, set(c)) != BOTH for c in sccs(g))
    rx = grammar_to_regex(g, s)
    for n in range(6):
        assert _full(rx, "a" * n + "b" * n)      # soundness
    assert _full(rx, "aab") and _full(rx, "abb")  # over-approximation
    for bad in ["ba", "aba", "bab", "abab"]:
        assert not _full(rx, bad)


def test_mohri_nederhof_nested_parens():
    """Tricky.java analog (EndToEndStringPropertyTest.kt:128-146): nested
    parentheses E -> ( E ) | 1. The MN regex accepts all balanced members
    AND unbalanced prefixes (the thesis' own assertions accept
    '((((1*12)*3)*123)'), while rejecting strings outside \\(*1\\)*."""
    g = Grammar()
    e = g.add_nt("E")
    m = g.add_nt("M")
    g.add_prod(e, ((T, "("), (N, m)))
    g.add_prod(m, ((N, e), (T, ")")))
    g.add_prod(e, ((T, "1"),))
    assert regular_approximation(g, {e})
    rx = grammar_to_regex(g, e)
    for good in ["1", "(1)", "((1))", "((1"]:
        assert _full(rx, good), good
    for bad in ["", ")(", "()", "(1))("]:
        assert not _full(rx, bad), bad


def test_grammar_patterns_operator(spark):
    """End-to-end grouped-map operator: two hotspots — one cyclic (needs
    MN), one finite (exact) — synthesized in one Spark job."""
    rows = [
        # hotspot "cyc": S -> a T | eps ; T -> S b
        ("cyc", 0, 0, "t", "a", "n", "1"),
        ("cyc", 0, 1, None, None, None, None),
        ("cyc", 1, 0, "n", "0", "t", "b"),
        # hotspot "fin": S -> x A ; A -> y | z
        ("fin", 0, 0, "t", "x", "n", "1"),
        ("fin", 1, 0, "t", "y", None, None),
        ("fin", 1, 1, "t", "z", None, None),
    ]
    prods = spark.createDataFrame(
        rows,
        "hotspot_id string, nt long, prod_idx int, "
        "s1_kind string, s1 string, s2_kind string, s2 string",
    )
    got = {r["hotspot_id"]: r for r in grammar_patterns(prods).collect()}
    assert got["cyc"]["was_approximated"] is True
    assert got["fin"]["was_approximated"] is False
    cyc_rx, fin_rx = got["cyc"]["regex"], got["fin"]["regex"]
    assert _full(cyc_rx, "aabb") and _full(cyc_rx, "aab") and not _full(cyc_rx, "ba")
    assert _full(fin_rx, "xy") and _full(fin_rx, "xz") and not _full(fin_rx, "x")


# --- string OPERATION productions + charset approximation -------------------
# (reference helper/operations/Operations.kt:37-106, Replace.kt, Trim.kt,
#  ToUpperCase.kt, ToLowerCase.kt, Repeat.kt;
#  helper/approximations/CharSetApproximation.kt:40-117, CharSet.kt)

from cpg_spark.functions.grammar import (  # noqa: E402
    OP,
    CharSet,
    charset_approximation,
    op_charset,
    op_regex,
)


def test_charset_algebra():
    """Union identities from CharSet.kt:77-95: (Σ\\A)∪(Σ\\B) = Σ\\(A∩B),
    (Σ\\A)∪B = Σ\\(A−B), set∪set = set-union."""
    a = CharSet.of("ab")
    b = CharSet.of("bc")
    assert a.union(b) == CharSet.of("abc")
    sa = CharSet({"a", "b"}, sigma=True)
    sb = CharSet({"b", "c"}, sigma=True)
    assert sa.union(sb) == CharSet({"b"}, sigma=True)
    assert sa.union(CharSet.of("a")) == CharSet({"b"}, sigma=True)
    assert "a" in a and "z" not in a
    assert "z" in sa and "a" not in sa
    assert CharSet.of("ab").to_regex_pattern() == "[ab]*"
    assert CharSet({"a"}, sigma=True).to_regex_pattern() == "[^a]*"
    assert CharSet.anything().to_regex_pattern() == ".*"
    assert CharSet.empty().to_regex_pattern() == ""


def test_op_charset_transformations():
    """Per-op charset transforms (Replace.kt:44-159, ToUpperCase.kt,
    Trim.kt:113, Repeat.kt:42; unknown op → Σ, Operations.kt:110)."""
    cs = CharSet.of("abc")
    assert op_charset("replace:a:x", cs) == CharSet.of("xbc")
    assert op_charset("replace:z:x", cs) == cs  # old absent: unchanged
    assert op_charset("replace_old:a", cs) == CharSet.anything()
    assert op_charset("replace_old:z", cs) == cs
    assert op_charset("replace_new:x", cs) == CharSet.of("abcx")
    assert op_charset("replace_any", cs) == CharSet.anything()
    assert op_charset("trim", cs) == cs
    assert op_charset("upper", cs) == CharSet.of("ABC")
    assert op_charset("lower", CharSet.of("AbC")) == CharSet.of("abc")
    # sigma case: upper removes a..z too (ToUpperCase.kt comment)
    up_sigma = op_charset("upper", CharSet({"!"}, sigma=True))
    assert "x" not in up_sigma and "X" in up_sigma and "!" not in up_sigma
    assert op_charset("repeat:3", cs) == cs
    assert op_charset("totally_unknown", cs) == CharSet.anything()


def test_charset_fixpoint_breaks_operation_cycle():
    """S → upper(S) | 'ab' is an operation cycle: unapproximatable until
    the charset pass replaces the in-cycle production with its
    charset-star bound (CharSetApproximation.breakCycles). Fixpoint:
    charset(S) = {a,b,A,B}; replacement terminal = upper(charset)* =
    [AB]*; final language exactly [AB]* | ab."""
    g = Grammar()
    s = g.add_nt("S")
    g.add_prod(s, ((OP, "upper", s),))
    g.add_prod(s, ((T, "ab"),))
    cs = charset_approximation(g)
    assert cs[s] == CharSet.of("abAB")
    assert not regular_approximation(g, {s})  # now regular
    rx = grammar_to_regex(g, s, cs)
    for good in ["", "AB", "ab", "ABAB", "A"]:
        assert _full(rx, good), (rx, good)
    for bad in ["abab", "aB", "ba"]:
        assert not _full(rx, bad), (rx, bad)


def test_op_chain_exact():
    """Acyclic op chain folds exactly: upper → replace → concat →
    repeat → trim over 'ab-c' yields the single string AD-CzAD-Cz."""
    g = Grammar()
    x0, x1, x2, x3, z, x4, x5 = (g.add_nt() for _ in range(7))
    g.add_prod(x0, ((T, "ab-c"),))
    g.add_prod(x1, ((OP, "upper", x0),))
    g.add_prod(x2, ((OP, "replace:B:D", x1),))
    g.add_prod(z, ((T, "z"),))
    g.add_prod(x3, ((N, x2), (N, z)))
    g.add_prod(x4, ((OP, "repeat:2", x3),))
    g.add_prod(x5, ((OP, "trim", x4),))
    cs = charset_approximation(g)
    assert not regular_approximation(g, {x5})
    rx = grammar_to_regex(g, x5, cs)
    assert _full(rx, "AD-CzAD-Cz")
    for bad in ["AD-Cz", "AB-CzAB-Cz", "ad-czad-cz", ""]:
        assert not _full(rx, bad), (rx, bad)


def test_replace_regex_reference_cases():
    """The ReplaceBothKnown regex rewrites (Replace.kt:81-128): positive
    classes swap, negative classes gain old / lose new, wildcards become
    [^old], literals outside classes swap."""
    assert op_regex("replace:x:y", "[abx]*", CharSet.empty()) == "[aby]*"
    # negative class "[^aby]" with old=x new=y: y removed, x appended
    assert op_regex("replace:x:y", "[^aby]*", CharSet.empty()) == "[^abx]*"
    # both present: content kept, old appended
    assert op_regex("replace:x:y", "[^abxy]*", CharSet.empty()) == "[^abxyx]*"
    # wildcard -> [^x]
    assert op_regex("replace:x:y", ".*", CharSet.empty()) == "[^x]*"
    # literal outside class
    assert op_regex("replace:x:y", "axb[x]*", CharSet.empty()) == "ayb[y]*"


def test_op_on_mn_approximated_target():
    """Op applied to a BOTH-recursive target: MN first regularizes
    aⁿcbⁿ to a*cb*, then replace a→x maps the whole language."""
    g = Grammar()
    s, tn, d = g.add_nt("S"), g.add_nt("T"), g.add_nt("D")
    g.add_prod(s, ((T, "a"), (N, tn)))
    g.add_prod(s, ((T, "c"),))
    g.add_prod(tn, ((N, s), (T, "b")))
    g.add_prod(d, ((OP, "replace:a:x", s),))
    cs = charset_approximation(g)
    assert regular_approximation(g, {d})
    rx = grammar_to_regex(g, d, cs)
    for good in ["c", "xcb", "xxcbb", "xc"]:
        assert _full(rx, good), (rx, good)
    for bad in ["acb", "ab"]:
        assert not _full(rx, bad), (rx, bad)


def test_unknown_op_falls_back_to_sigma():
    """Unknown operations over-approximate to Σ* (TerminalProduction(
    Terminal.anything()) in Operations.kt:84)."""
    g = Grammar()
    a, b = g.add_nt(), g.add_nt()
    g.add_prod(a, ((T, "q"),))
    g.add_prod(b, ((OP, "mystery_op", a),))
    cs = charset_approximation(g)
    assert grammar_to_regex(g, b, cs) == ".*"
    assert cs[b] == CharSet.anything()


def test_grammar_patterns_emits_ops_and_charset(spark):
    """Grouped-map operator carries op productions ('o' rows) and the
    charset_regex column end to end."""
    rows = [
        # hotspot "opc": S(0) -> upper(B(1)); B -> "ab"
        ("opc", 0, 0, "o", "upper", "n", "1"),
        ("opc", 1, 0, "t", "ab", None, None),
        # hotspot "cyc": S -> upper(S) | "ab"  (operation cycle)
        ("cyc", 0, 0, "o", "upper", "n", "0"),
        ("cyc", 0, 1, "t", "ab", None, None),
    ]
    prods = spark.createDataFrame(
        rows,
        "hotspot_id string, nt long, prod_idx int, "
        "s1_kind string, s1 string, s2_kind string, s2 string",
    )
    got = {r["hotspot_id"]: r for r in grammar_patterns(prods).collect()}
    assert _full(got["opc"]["regex"], "AB")
    assert not _full(got["opc"]["regex"], "ab")
    assert got["opc"]["charset_regex"] == "[AB]*"  # upper({a,b})
    assert got["cyc"]["charset_regex"] == "[ABab]*"
    assert _full(got["cyc"]["regex"], "ABAB") and _full(got["cyc"]["regex"], "ab")
    assert not _full(got["cyc"]["regex"], "abab")


def test_productions_from_dfg_op_nodes(spark):
    """'op' DFG nodes emit operation productions through the slice."""
    from pyspark.sql import functions as F  # noqa: F811

    nodes = spark.createDataFrame(
        [(0, "lit", "hi"), (1, "op", "upper"), (2, "op", "repeat:2")],
        "node_id long, kind string, text string",
    )
    edges = spark.createDataFrame(
        [(0, 1, 0), (1, 2, 0)], "child long, parent long, pos int"
    )
    hotspots = spark.createDataFrame([("h", 2)], "hotspot_id string, node_id long")
    prods = stringapprox.productions_from_dfg(nodes, edges, hotspots)
    pats = stringapprox.grammar_patterns(prods)
    row = pats.collect()[0]
    assert _full(row["regex"], "HIHI")
    assert not _full(row["regex"], "HI") and not _full(row["regex"], "hihi")


def test_repeat_amount_resolved_from_dfg(spark):
    """A bare 'repeat' op whose amount is a literal DFG argument (pos 1)
    gets the count folded into the production — the reference's stated
    plan for Repeat (Repeat.kt: use the evaluator to get the Int value);
    a non-literal amount degrades to the star approximation."""
    nodes = spark.createDataFrame(
        [
            (0, "lit", "ab"), (1, "op", "repeat"), (2, "lit", "3"),
            # second hotspot: amount comes from an op (not a literal)
            (10, "lit", "cd"), (11, "op", "repeat"), (12, "op", "mystery"),
            (13, "lit", "9"),
        ],
        "node_id long, kind string, text string",
    )
    edges = spark.createDataFrame(
        [
            (0, 1, 0), (2, 1, 1),
            (10, 11, 0), (12, 11, 1), (13, 12, 0),
        ],
        "child long, parent long, pos int",
    )
    hotspots = spark.createDataFrame(
        [("fixed", 1), ("var", 11)], "hotspot_id string, node_id long"
    )
    prods = stringapprox.productions_from_dfg(nodes, edges, hotspots)
    pats = {r["hotspot_id"]: r for r in stringapprox.grammar_patterns(prods).collect()}
    assert _full(pats["fixed"]["regex"], "ababab")
    assert not _full(pats["fixed"]["regex"], "abab")
    # unknown amount: star over-approximation accepts any repetition
    assert _full(pats["var"]["regex"], "") and _full(pats["var"]["regex"], "cdcdcdcd")
    assert not _full(pats["var"]["regex"], "ce")


def test_repeat_amount_shared_with_other_hotspot(spark):
    """Regression (r3 verdict #4): the amount lookup must join on the
    RAW node id, not re-derive it from nt arithmetic (child_nt - 1). The
    amount literal here is ALSO a hotspot in its own right (so its nt
    remaps to 0 inside that slice) and sits inside another hotspot's
    slice — both held only by accident under the old arithmetic and the
    'fixed' grammar silently lost its fold if the remap convention
    moved."""
    nodes = spark.createDataFrame(
        [(0, "lit", "ab"), (1, "op", "repeat"), (2, "lit", "3")],
        "node_id long, kind string, text string",
    )
    edges = spark.createDataFrame(
        [(0, 1, 0), (2, 1, 1)], "child long, parent long, pos int"
    )
    # hotspot 'amt' IS the literal amount node: within that slice node 2
    # remaps to nt 0, the case the child_nt-1 arithmetic got wrong
    hotspots = spark.createDataFrame(
        [("fixed", 1), ("amt", 2)], "hotspot_id string, node_id long"
    )
    prods = stringapprox.productions_from_dfg(nodes, edges, hotspots)
    pats = {r["hotspot_id"]: r for r in stringapprox.grammar_patterns(prods).collect()}
    assert _full(pats["fixed"]["regex"], "ababab")
    assert not _full(pats["fixed"]["regex"], "abab")
    assert _full(pats["amt"]["regex"], "3")


def test_replace_never_rewrites_repeat_quantifiers():
    """Regression (code review): replace with a digit old-char must not
    rewrite the {n} counts a repeat production synthesizes."""
    g = Grammar()
    x0, x1, x2 = (g.add_nt() for _ in range(3))
    g.add_prod(x0, ((T, "a2"),))
    g.add_prod(x1, ((OP, "repeat:2", x0),))
    g.add_prod(x2, ((OP, "replace:2:9", x1),))
    cs = charset_approximation(g)
    regular_approximation(g, {x2})
    rx = grammar_to_regex(g, x2, cs)
    assert _full(rx, "a9a9"), rx
    assert not _full(rx, "a2a2"), rx


def test_case_map_falls_back_on_negative_classes():
    """Regression (code review): lower/upper over a regex containing a
    negative class or wildcard must use the charset-star bound — a
    per-char case map would invert the class ([^A] lowered is not
    [^a])."""
    g = Grammar()
    e, c, b, d = (g.add_nt() for _ in range(4))
    g.add_prod(e, ((T, "q"),))
    g.add_prod(c, ((OP, "replace_any", e),))   # '.*'
    g.add_prod(b, ((OP, "replace:A:y", c),))   # wildcard -> '[^A]*'
    g.add_prod(d, ((OP, "lower", b),))
    cs = charset_approximation(g)
    regular_approximation(g, {d})
    rx = grammar_to_regex(g, d, cs)
    # 'a' ∈ L([^A]*) and lower('a') = 'a' — must stay accepted
    assert _full(rx, "a"), rx
