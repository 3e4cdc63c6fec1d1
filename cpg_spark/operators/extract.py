"""Extract stage: pages -> extracted text -> sentences -> mentions.

The language-frontend analog (reference TranslationManager.kt:246-297
parses files in parallel with per-file state; here each page row is
independent, so the stage is a pure map — no shuffle at all until the
caller aggregates). Everything is JVM Column expressions inside
whole-stage codegen; the pandas variant exists only to prove the
byte-identical contract from a second implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    extract_text_col,
    extract_text_dispatch,
    jsonld_blocks_col,
    sentences_col,
)
from ..synth import MENTION_REGEX, TARGET_LANGS


def extracted_text(pages: DataFrame) -> DataFrame:
    """(url, lang, text) with text derived from html bytes.

    Byte-identical per url to the page's original text (BASELINE.json
    per-row invariant) — golden-tested in tests/test_extract.py.

    If the pages table carries a `content_type` column (the per-row
    parse-config analog of the reference's compilation database), each
    row is dispatched to its format's frontend (html / markdown / plain);
    without one, every page takes the html frontend.
    """
    if "content_type" in pages.columns:
        text = extract_text_dispatch(F.col("html"), F.col("content_type"))
    else:
        text = extract_text_col(F.col("html"))
    return pages.select("url", "lang", text.alias("text"))


def sentences(pages: DataFrame, target_langs: tuple[str, ...] = TARGET_LANGS) -> DataFrame:
    """One row per sentence: (url, lang, sent_idx, sentence).

    Non-target-lang pages are skipped, not failed (the reference's
    failOnError analog, TranslationManager.kt:347-351). Empty /
    whitespace pages yield zero rows (sentences_col filters empties).
    """
    txt = pages.filter(F.col("lang").isin(list(target_langs))).select(
        "url", "lang", extract_text_col(F.col("html")).alias("text")
    )
    return txt.select(
        "url",
        "lang",
        F.posexplode(sentences_col(F.col("text"))).alias("sent_idx", "sentence"),
    )


def jsonld_triples(pages: DataFrame, id_col: str = "url") -> DataFrame:
    """Structured-data frontend: schema.org JSON-LD blocks → typed
    triples — the publisher-asserted entities on a Common-Crawl page
    (highest-precision KG source, no NER involved). The reference
    analog is one more registered language frontend (Language.kt
    per-extension dispatch; this one parses a data grammar instead of a
    programming language).

    Per page: regexp-extract every <script type="application/ld+json">
    body (one codegen pass), posexplode, then unwrap each block into
    its entity MEMBERS — all three shapes JSON-LD ships in the wild:

      {...}                       one member (sub_idx 0)
      [{...}, {...}]              top-level array — one member each
      {"@context":…,"@graph":[…]} the wrapper Google's structured-data
                                  docs recommend — the @graph members
                                  (a scalar @graph counts as one)

    Each member parses with from_json into map<string,string> —
    numbers stringify, NESTED values carry their raw JSON text (kept
    verbatim in `obj` so no structure is lost). A member that is not a
    JSON object (malformed block, scalar array element) emits ONE
    problem triple (pred '@error', obj = the raw text) instead of
    silently vanishing — the reference frontends' emit-don't-drop
    contract (Handler.java problem-node fallback; skip-don't-fail is
    reserved for rows that never matched the grammar at all,
    TranslationManager.kt:347-351). Subject = @id, else the member's
    name, else url#block_idx (url#block_idx.sub_idx past the first
    member) — deterministic blank-node ids; '@id'/'@context'/'@graph'
    are structural and emit no triple, '@type' does (the rdf:type
    assertion). Pure map — no shuffle, no Python.
    Returns (<id_col>, block_idx, sub_idx, subj, pred, obj)."""
    blocks = pages.select(
        id_col,
        F.posexplode(jsonld_blocks_col(F.col("html"))).alias(
            "block_idx", "__block"
        ),
    )
    b = F.trim(F.col("__block"))
    # from_json(array<string>) wraps a bare object into a 1-array, so
    # array-ness is decided on the raw text, not on parse nullability
    obj = F.from_json(b, "map<string,string>")
    graph_raw = F.element_at(obj, "@graph")
    members = (
        F.when(b.startswith("["), F.from_json(b, "array<string>"))
        .when(
            graph_raw.isNotNull(),
            F.when(
                F.trim(graph_raw).startswith("["),
                F.from_json(graph_raw, "array<string>"),
            ).otherwise(F.array(graph_raw)),
        )
        .otherwise(F.array(F.col("__block")))
    )
    # posexplode_outer: an unparseable top-level array keeps its row
    # (NULL member) so the problem branch below still sees the block
    mem = blocks.select(
        id_col,
        "block_idx",
        "__block",
        F.posexplode_outer(members).alias("sub_idx", "__member"),
    ).withColumn("__m", F.from_json("__member", "map<string,string>"))
    subj = F.coalesce(
        F.element_at("__m", "@id"),
        F.element_at("__m", "name"),
        F.when(
            F.col("sub_idx") > 0,
            F.concat(
                F.col(id_col), F.lit("#"), F.col("block_idx"),
                F.lit("."), F.col("sub_idx"),
            ),
        ).otherwise(F.concat(F.col(id_col), F.lit("#"), F.col("block_idx"))),
    )
    good = (
        mem.filter(F.col("__m").isNotNull())
        .select(
            id_col,
            "block_idx",
            "sub_idx",
            subj.alias("subj"),
            F.explode("__m").alias("pred", "obj"),
        )
        .filter(~F.col("pred").isin("@id", "@context", "@graph"))
    )
    bad = mem.filter(F.col("__m").isNull()).select(
        id_col,
        "block_idx",
        F.coalesce("sub_idx", F.lit(0)).alias("sub_idx"),
        F.concat(F.col(id_col), F.lit("#"), F.col("block_idx")).alias("subj"),
        F.lit("@error").alias("pred"),
        F.coalesce(F.col("__member"), F.col("__block")).alias("obj"),
    )
    return good.unionByName(bad)


def flag_unreachable_edges(
    edges: DataFrame,
    cond_col: str = "cond_value",
    branch_col: str = "branch",
) -> DataFrame:
    """UnreachableEOGPass analog (reference cpg-analysis/.../passes/
    UnreachableEOGPass.kt:43-80): constant-fold each guard's condition
    and mark the EOG edge whose branch label contradicts it as
    unreachable. Data-level contract: edges carry a `branch` label
    ('true'/'false', NULL for unconditional edges) and the guard's folded
    condition value (`cond_value` boolean, NULL when the condition does
    not fold to a constant). An edge is unreachable iff both are known
    and disagree; unknown conditions and unconditional edges stay
    reachable — exactly the reference's conservative rule.

    Consumers skip flagged edges (bfs_reach honor_unreachable — the
    ControlFlowSensitiveDFGPass.kt:211-213 pattern)."""
    branch = F.col(branch_col)
    cond = F.col(cond_col)
    dead = (
        branch.isNotNull()
        & cond.isNotNull()
        & (
            (cond & (branch == F.lit("false")))
            | (~cond & (branch == F.lit("true")))
        )
    )
    return edges.withColumn("unreachable", F.coalesce(dead, F.lit(False)))


def mentions(sent_df: DataFrame) -> DataFrame:
    """Capitalized-run mention detection (1-3 Title Case words).

    The AST-node-emission analog (reference Handler framework,
    frontends/Handler.java). Pure per-row regexp — stays in codegen;
    tok_idx is the in-sentence occurrence index.
    """
    surf = sent_df.select(
        "url",
        "sent_idx",
        F.posexplode(
            F.regexp_extract_all(F.col("sentence"), F.lit(MENTION_REGEX), 0)
        ).alias("tok_idx", "surface"),
    )
    return surf.select(
        "url",
        "sent_idx",
        F.col("tok_idx").cast("int").alias("tok_idx"),
        F.lower(F.col("surface")).alias("alias_norm"),
        "surface",
        F.size(F.split(F.col("surface"), " ")).cast("int").alias("n_words"),
    )
