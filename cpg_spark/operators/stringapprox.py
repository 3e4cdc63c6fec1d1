"""String-approximation chain — the web-KG analog of the fork's flagship
string-property analysis (cpg-analysis: DFG slice → grammar → charset
approximation → regular approximation → NFA → regex;
helper/approximations/CharSetApproximation.kt:40-67,
helper/automaton/GrammarToNFA.kt, analysis/fsm/NFA.kt:177-186).

Here the "language" of an entity is its set of surface forms (aliases).
Per canonical entity we synthesize:

  * charset_regex — the charset over-approximation: one character-class
    quantified to the observed length band (CharSetApproximation analog:
    sound over-approximation, accepts every member and more);
  * exact_regex  — trie-factored alternation (a state-elimination
    special case, the NFA.toRegex analog: exact language, common
    prefixes merged).

Both are computed per component inside applyInPandas — components are
small (the reference computes per-hotspot automata locally for the same
reason), so the parallelism unit is the entity, not the string.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions import grammar as G

PATTERN_SCHEMA = StructType(
    [
        StructField("component_id", StringType()),
        StructField("n_aliases", IntegerType()),
        StructField("charset_regex", StringType()),
        StructField("exact_regex", StringType()),
    ]
)

# one production per row; symbols are ('t', literal) / ('n', nt id-as-string),
# epsilon = both kinds NULL; nt 0 is the start/hotspot nonterminal.
# OPERATION productions (reference helper/operations/Operations.kt:37-106)
# encode as s1_kind='o' with s1 = the op spec ("replace:<old>:<new>",
# "upper", "lower", "trim", "repeat[:<n>]", ...) and s2_kind='n',
# s2 = the target nonterminal the operation applies to.
PRODUCTION_SCHEMA = (
    "hotspot_id string, nt long, prod_idx int, "
    "s1_kind string, s1 string, s2_kind string, s2 string"
)

GRAMMAR_PATTERN_SCHEMA = StructType(
    [
        StructField("hotspot_id", StringType()),
        StructField("n_nonterminals", IntegerType()),
        StructField("n_productions", IntegerType()),
        StructField("was_approximated", BooleanType()),
        StructField("regex", StringType()),
        # charset over-approximation bound of the hotspot's language:
        # the CharSetApproximation fixpoint result (C* pattern)
        StructField("charset_regex", StringType()),
    ]
)


# --- pure functions (unit-testable without Spark) ---------------------------


def charset_approx_py(words: list[str]) -> str:
    """Character-set over-approximation: `[chars]{min,max}` covering every
    member (sound: accepts all members, over-approximates the language)."""
    chars = sorted({c for w in words for c in w})
    lens = [len(w) for w in words]
    cls = "".join(re.escape(c) if c not in " " else " " for c in chars)
    return f"[{cls}]{{{min(lens)},{max(lens)}}}"


def _trie(words: list[str]) -> dict:
    root: dict = {}
    for w in words:
        node = root
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}  # terminal
    return root


def _trie_to_regex(node: dict) -> str:
    """State elimination over the trie: alternation of factored branches;
    optional terminal becomes `(?:...)?`."""
    branches = []
    terminal = False
    for ch, child in sorted(node.items()):
        if ch == "":
            terminal = True
            continue
        sub = _trie_to_regex(child)
        branches.append(re.escape(ch) + sub)
    if not branches:
        return ""
    alt = branches[0] if len(branches) == 1 else "(?:" + "|".join(branches) + ")"
    return f"(?:{alt})?" if terminal else alt


def trie_regex_py(words: list[str]) -> str:
    """Exact regex for the finite language `words`, with common prefixes
    factored (the NFA→regex synthesis for the trie-shaped automaton)."""
    return _trie_to_regex(_trie(words))


# --- grouped-map operator ----------------------------------------------------


def entity_surface_patterns(alias_dict: DataFrame, canon: DataFrame) -> DataFrame:
    """Per canonical entity: synthesize both approximations over the
    component's member aliases. canon maps member_id -> component_id
    (the canonicalize stage output)."""
    members = alias_dict.join(
        canon.withColumnRenamed("member_id", "entity_id"), "entity_id"
    ).select("component_id", "alias")

    def synth(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = pdf["component_id"].iloc[0]
        words = sorted(set(pdf["alias"]))
        return pd.DataFrame(
            [(comp, len(words), charset_approx_py(words), trie_regex_py(words))],
            columns=[f.name for f in PATTERN_SCHEMA.fields],
        )

    # grouped map: one component per group (components are small — the
    # reference computes per-hotspot automata locally for the same reason,
    # EndToEndStringPropertyTest.kt:54-90; a mapInPandas over a hash
    # repartition could split a group across Arrow batches). Width is
    # pinned so AQE cannot coalesce the small shuffle to one partition
    # and serialize the per-component synthesis.
    spark = members.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        members.repartition(width, "component_id")
        .groupBy("component_id")
        .applyInPandas(synth, PATTERN_SCHEMA)
    )


def productions_from_dfg(
    nodes: DataFrame,
    edges: DataFrame,
    hotspots: DataFrame,
) -> DataFrame:
    """createGrammar analog (reference cpg-analysis grammar creation from
    the backward DFG slice of a hotspot): turn a string-building DFG into
    PRODUCTION_SCHEMA rows, one grammar per hotspot.

    nodes(node_id, kind, text): kind 'lit' (text = literal), 'concat'
    (two incoming args at pos 0/1), 'phi' (alternative definitions — one
    unit production per incoming edge), 'op' (a string OPERATION call —
    replace/trim/toLowerCase/toUpperCase/repeat, reference
    helper/operations/Operations.kt:37-106 — with text = the op spec and
    ONE incoming edge at pos 0, the receiver the operation applies to).
    edges(child, parent, pos).
    hotspots(hotspot_id string, node_id): the print/sink nodes whose
    string language we want.

    The backward slice is a per-hotspot label propagation over reversed
    edges (the reference walks prevDFG per hotspot; propagating all
    hotspot labels at once keeps it one frontier loop, not a loop per
    hotspot — slices may overlap, each hotspot gets its own grammar).
    Nonterminals are remapped so the hotspot node is nt 0, the start
    convention grammar_patterns expects; feed the output straight into
    grammar_patterns for approximation + regex synthesis."""
    from .iterutil import closure

    rev = edges.select(F.col("parent").alias("r_src"), F.col("child").alias("r_dst"))

    def back(frontier, seen, _):
        return (
            frontier.join(rev, F.col("node") == F.col("r_src"))
            .select("hotspot_id", F.col("r_dst").alias("node"))
            .distinct()
            .join(seen, ["hotspot_id", "node"], "left_anti")
        )

    labels = closure(
        back,
        hotspots.select("hotspot_id", F.col("node_id").alias("node")),
        max_iter=64,
        what="productions_from_dfg",
    )

    # nt remap: the hotspot node itself -> 0, every other node -> id + 1
    hot = hotspots.select(
        "hotspot_id", F.col("node_id").alias("node"), F.lit(True).alias("__is_hot")
    )
    nt_map = (
        labels.join(hot, ["hotspot_id", "node"], "left")
        .select(
            "hotspot_id",
            "node",
            F.when(F.col("__is_hot"), F.lit(0))
            .otherwise(F.col("node") + 1)
            .cast("long")
            .alias("nt"),
        )
    )
    member = nt_map.join(nodes, nt_map["node"] == nodes["node_id"]).select(
        "hotspot_id", "node", "nt", "kind", "text"
    )
    # per-hotspot edge list with both endpoints remapped
    child_nt = nt_map.select(
        "hotspot_id", F.col("node").alias("child"), F.col("nt").alias("child_nt")
    )
    parent_nt = nt_map.select(
        "hotspot_id", F.col("node").alias("parent"), F.col("nt").alias("parent_nt")
    )
    ein = (
        edges.join(child_nt, "child")
        .join(parent_nt, ["hotspot_id", "parent"])
        # child_node carries the RAW node id alongside the remapped nt:
        # consumers that need to look a child up in the nodes table (the
        # repeat-amount literal below) join on it directly instead of
        # re-deriving the id from nt arithmetic, which breaks whenever
        # the child is itself a hotspot (remapped to 0) or the remap
        # convention changes
        .select(
            "hotspot_id",
            "parent_nt",
            "child_nt",
            F.col("child").alias("child_node"),
            "pos",
        )
    )

    null_s = F.lit(None).cast("string")
    lit_rows = member.filter(F.col("kind") == "lit").select(
        "hotspot_id",
        "nt",
        F.lit(0).cast("int").alias("prod_idx"),
        F.lit("t").alias("s1_kind"),
        F.col("text").alias("s1"),
        null_s.alias("s2_kind"),
        null_s.alias("s2"),
    )
    concat_rows = (
        member.filter(F.col("kind") == "concat")
        .join(ein, (member["nt"] == ein["parent_nt"]) & (member["hotspot_id"] == ein["hotspot_id"]))
        .groupBy(member["hotspot_id"].alias("hotspot_id"), F.col("nt"))
        .agg(
            F.min(F.when(F.col("pos") == 0, F.col("child_nt"))).alias("__a"),
            F.min(F.when(F.col("pos") == 1, F.col("child_nt"))).alias("__b"),
        )
        .select(
            "hotspot_id",
            "nt",
            F.lit(0).cast("int").alias("prod_idx"),
            F.lit("n").alias("s1_kind"),
            F.col("__a").cast("string").alias("s1"),
            F.lit("n").alias("s2_kind"),
            F.col("__b").cast("string").alias("s2"),
        )
    )
    phi_rows = (
        member.filter(F.col("kind") == "phi")
        .join(ein, (member["nt"] == ein["parent_nt"]) & (member["hotspot_id"] == ein["hotspot_id"]))
        .select(
            member["hotspot_id"].alias("hotspot_id"),
            F.col("nt"),
            F.col("pos").cast("int").alias("prod_idx"),
            F.lit("n").alias("s1_kind"),
            F.col("child_nt").cast("string").alias("s1"),
            null_s.alias("s2_kind"),
            null_s.alias("s2"),
        )
    )
    # operation nodes: nt -> op(receiver) — the OperationProduction
    # emission (reference GrammerCreation handles CallExpression ->
    # createOperationProduction, Operations.kt:37-85); receiver is the
    # single incoming edge at pos 0. A bare 'repeat' op with a literal
    # argument wired at pos 1 gets its amount folded into the spec —
    # the reference's own plan for Repeat ("use a ValueEvaluator to get
    # the Int value of amount", Repeat.kt:32-40); non-literal amounts
    # stay 'repeat' (unknown count -> star approximation).
    op_base = (
        member.filter(F.col("kind") == "op")
        .join(ein, (member["nt"] == ein["parent_nt"]) & (member["hotspot_id"] == ein["hotspot_id"]))
        .filter(F.col("pos") == 0)
        .select(
            member["hotspot_id"].alias("hotspot_id"),
            F.col("nt"),
            F.col("text").alias("__spec"),
            F.col("child_nt"),
        )
    )
    amounts = (
        member.filter((F.col("kind") == "op") & (F.col("text") == "repeat"))
        .join(ein, (member["nt"] == ein["parent_nt"]) & (member["hotspot_id"] == ein["hotspot_id"]))
        .filter(F.col("pos") == 1)
        .join(
            nodes.filter(F.col("kind") == "lit").select(
                F.col("node_id").alias("__amt_node"),
                F.col("text").alias("__amt"),
            ),
            F.col("child_node") == F.col("__amt_node"),
        )
        .select(
            member["hotspot_id"].alias("hotspot_id"),
            F.col("nt").alias("__amt_nt"),
            F.col("__amt"),
        )
    )
    op_rows = (
        op_base.join(
            amounts,
            (op_base["hotspot_id"] == amounts["hotspot_id"])
            & (op_base["nt"] == amounts["__amt_nt"]),
            "left",
        )
        .select(
            op_base["hotspot_id"].alias("hotspot_id"),
            op_base["nt"].alias("nt"),
            F.lit(0).cast("int").alias("prod_idx"),
            F.lit("o").alias("s1_kind"),
            F.when(
                (F.col("__spec") == "repeat") & F.col("__amt").rlike("^[0-9]+$"),
                F.concat(F.lit("repeat:"), F.col("__amt")),
            )
            .otherwise(F.col("__spec"))
            .alias("s1"),
            F.lit("n").alias("s2_kind"),
            F.col("child_nt").cast("string").alias("s2"),
        )
    )
    return (
        lit_rows.unionByName(concat_rows)
        .unionByName(phi_rows)
        .unionByName(op_rows)
    )


def _build_grammar(pdf: pd.DataFrame) -> tuple[G.Grammar, dict[int, int]]:
    g = G.Grammar()
    ids: dict[int, int] = {}

    def nt_of(raw: int) -> int:
        if raw not in ids:
            ids[raw] = g.add_nt(str(raw))
        return ids[raw]

    def sym(kind, val) -> tuple | None:
        if kind is None or (isinstance(kind, float) and pd.isna(kind)):
            return None
        if kind == "t":
            return (G.T, val)
        if kind == "r":
            return (G.R, val, G.CharSet.anything())
        return (G.N, nt_of(int(val)))

    rows = pdf.sort_values(["nt", "prod_idx"]).itertuples(index=False)
    for row in rows:
        nt = nt_of(int(row.nt))
        if row.s1_kind == "o":
            # operation production: nt -> op(target) — spec in s1,
            # target nonterminal in s2 (OperationProduction analog)
            g.add_prod(nt, ((G.OP, row.s1, nt_of(int(row.s2))),))
            continue
        symbols = tuple(
            s for s in (sym(row.s1_kind, row.s1), sym(row.s2_kind, row.s2)) if s
        )
        g.add_prod(nt, symbols)
    return g, ids


def grammar_patterns(prods: DataFrame) -> DataFrame:
    """The full string-approximation chain for grammar-valued hotspots
    (the reference's flagship: createGrammar → RegularApproximation →
    GrammarToNFA → toRegex; RegularApproximation.kt:45-174,
    EndToEndStringPropertyTest.kt:54-90). Input: one production per row
    (PRODUCTION_SCHEMA); nt 0 is the hotspot/start nonterminal.

    Per hotspot the reference's full chain runs
    (Grammar.approximateToRegularGrammar, helper/Grammar.kt:40-43):
    (1) charset_approximation — per-SCC character-set fixpoint; breaks
    OPERATION CYCLES by replacing the highest-priority in-cycle op
    production with its charset-star bound (CharSetApproximation.kt:
    40-117); the hotspot's charset bound is exposed as charset_regex;
    (2) regular_approximation — Mohri-Nederhof rewriting of BOTH-
    recursive components (was_approximated=True ⇒ the regex is a sound
    regular OVER-approximation; False ⇒ exact language);
    (3) per-SCC Arden elimination to a regex, applying operation
    productions (replace/trim/upper/lower/repeat — Operations.kt:37-106)
    to their target's finished sub-regex.
    Grouped map: grammars are small, hotspots are many — parallelism is
    per hotspot, like the reference's per-hotspot local automata."""

    def synth(pdf: pd.DataFrame) -> pd.DataFrame:
        hid = pdf["hotspot_id"].iloc[0]
        g, ids = _build_grammar(pdf)
        start = ids[0]
        charsets = G.charset_approximation(g)
        approximated = G.regular_approximation(g, hotspots={start})
        rx = G.grammar_to_regex(g, start, charsets)
        cs_rx = charsets.get(start, G.CharSet.empty()).to_regex_pattern()
        n_prods = sum(len(ps) for ps in g.prods.values())
        return pd.DataFrame(
            [(hid, len(g.prods), n_prods, approximated, rx, cs_rx)],
            columns=[f.name for f in GRAMMAR_PATTERN_SCHEMA.fields],
        )

    # pre-partition at the session width (bfs_reach_grouped rule): the
    # per-hotspot synthesis is the heavy step, and AQE would coalesce
    # the small groupBy shuffle to one partition, serializing every
    # grammar through a single Python worker
    spark = prods.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        prods.repartition(width, "hotspot_id")
        .groupBy("hotspot_id")
        .applyInPandas(synth, GRAMMAR_PATTERN_SCHEMA)
    )
