"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token counting,
and document fingerprinting — the building blocks a 100 TB text-corpus
pipeline runs before anything else. Everything is a pure Column
expression (whole-stage codegen, no Python in the hot path); each
operator has a DuckDB-oracle twin in cpg_spark/queries.py.

Reference lineage: these are the StringPropertyPass-style predicate scans
(reference cpg-analysis StringPropertyPass.kt:69-110 selects nodes by
FQN regex) and StatisticsCollectionPass counts (StatisticsCollectionPass
.kt:39-62) generalized to web text.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import ordered_sum
from ..functions.hashing import char_poly_hash_col, let_col

# token pattern shared with the DuckDB oracle (simple classes — identical
# semantics between Java regex and RE2)
DOC_TOKEN_RE = "[a-z0-9]+"

# tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic; order fixes the argmax tie-break (first wins)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
    "es": ("el", "la", "los", "y", "de", "es", "un"),
    "fr": ("le", "la", "les", "et", "de", "est", "un"),
    "zh": ("de", "le", "shi", "zai", "he", "you", "wo"),
}


def doc_tokens(text: Column) -> Column:
    """array<string> lowercase tokens."""
    return F.regexp_extract_all(F.lower(text), F.lit(DOC_TOKEN_RE), 0)


def has_min_tokens(text: Column, k: int = 1) -> Column:
    """Cheap, scan-pushable equivalent of size(doc_tokens(text)) >= k.

    A filter on the computed token array gets pushed below any upstream
    repartition into the (often single-split) scan, re-running the
    tokenizer there AND once more in the projection (measured 14x on the
    shingle kernel — see OPTIMIZATION_r07.md). A regex existence check
    on lower(text) is equivalent: k maximal [a-z0-9] runs exist iff the
    pattern below finds a match (the k-1 interior separators force k
    distinct runs), and rlike stops at the first match."""
    if k < 1:
        return F.lit(True)
    pat = "[a-z0-9]" + "[^a-z0-9]+[a-z0-9]" * (k - 1)
    return F.lower(text).rlike(pat)


def _token_stat_struct(text: Column) -> Column:
    """(n_tokens, n_distinct, ttr, mean_tok_len) in ONE let-bound pass —
    the token array is evaluated once per row instead of once per
    referencing subexpression (interpreted-HOF re-evaluation rule)."""

    def inner(t):
        n = F.size(t)
        nd = F.size(F.array_distinct(t))
        return F.struct(
            n.alias("n_tokens"),
            nd.alias("n_distinct"),
            (nd / n).alias("ttr"),
            (
                F.aggregate(
                    t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
                )
                / n
            ).alias("mean_tok_len"),
        )

    return let_col(doc_tokens(text), inner)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counting: totals, distinct, type-token ratio, mean
    token length. All exact or deterministic-per-row arithmetic."""
    st = _token_stat_struct(F.col("text"))
    return docs.filter(has_min_tokens(F.col("text"))).select(
        "doc_id",
        st.getField("n_tokens").alias("n_tokens"),
        st.getField("n_distinct").alias("n_distinct"),
        # raw doubles on purpose: the per-row arithmetic is bit-identical
        # to the oracle's, while round() half-cases differ between engines
        st.getField("ttr").alias("ttr"),
        st.getField("mean_tok_len").alias("mean_tok_len"),
    )


def quality_of_tokens(text: Column, t: Column) -> Column:
    """(n_chars_text, stop_hits, quality) of `text` from its token array
    `t` (doc_tokens(text), bound once by the caller)."""
    en = list(LANG_STOPWORDS["en"])
    n = F.size(t)
    stop_hits = F.size(F.filter(t, lambda w: w.isin(en)))
    ttr = F.size(F.array_distinct(t)) / n
    len_ok = (F.length(text) >= 100) & (F.length(text) <= 20000)
    score = (
        len_ok.cast("double") * 0.4
        + F.least(stop_hits / F.lit(5.0), F.lit(1.0)) * 0.3
        + F.least(ttr * 2, F.lit(1.0)) * 0.3
    )
    return F.struct(
        F.length(text).alias("n_chars_text"),
        stop_hits.alias("stop_hits"),
        score.alias("quality"),
    )


def quality_struct(text: Column) -> Column:
    """quality_of_tokens as one let-bound struct over text's tokens."""
    return let_col(doc_tokens(text), lambda t: quality_of_tokens(text, t))


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality score in [0,1]: length band + stopword presence +
    lexical diversity. The closed formula matters less than that it is
    vectorized, deterministic, and oracle-checkable."""
    q = quality_struct(F.col("text"))
    return docs.filter(has_min_tokens(F.col("text"))).select(
        "doc_id",
        q.getField("n_chars_text").alias("n_chars_text"),
        q.getField("stop_hits").alias("stop_hits"),
        q.getField("quality").alias("quality"),
    )


def lang_hits_of_tokens(t: Column) -> Column:
    """Per-language stopword hit counts (LANG_STOPWORDS order) of the
    token array `t`."""
    # NB: never add default args to HOF lambdas — PySpark reads a 2-arg
    # lambda as (element, index) and binds the index to the default.
    return F.array(
        *[
            F.size(F.filter(t, lambda tk: tk.isin(list(words))))
            for words in LANG_STOPWORDS.values()
        ]
    )


def lang_hits_array(text: Column) -> Column:
    """lang_hits_of_tokens in one let-bound pass over text's tokens."""
    return let_col(doc_tokens(text), lang_hits_of_tokens)


def lang_pred_col(hits: Column) -> Column:
    """argmax language with fixed precedence (dict order) on ties, 'und'
    when every score is 0, from a lang_hits_array value."""
    langs = list(LANG_STOPWORDS)
    best = F.array_max(hits)
    pred = F.lit("und")
    # first language (dict order) achieving the max wins — build the CASE
    # back-to-front so earlier langs take precedence
    for i in range(len(langs) - 1, -1, -1):
        pred = F.when(F.element_at(hits, i + 1) == best, F.lit(langs[i])).otherwise(
            pred
        )
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID: count per-language stopword occurrences,
    argmax with fixed precedence (dict order) on ties. Returns the score
    vector plus the prediction so the oracle checks the whole decision.

    r7 shape: the hit counts land in ONE named array column, and every
    downstream reference (5 score columns, the argmax CASE) is a cheap
    element_at — previously each reference re-ran its own token-array
    pass (the score expressions appeared 3x each across scores/best/
    pred, ~15 interpreted array scans per row)."""
    langs = list(LANG_STOPWORDS)
    with_hits = docs.select(
        "doc_id", "lang", lang_hits_array(F.col("text")).alias("__hits")
    )
    cols = [F.col("doc_id"), F.col("lang")]
    cols += [
        F.element_at("__hits", i + 1).alias(f"score_{lg}")
        for i, lg in enumerate(langs)
    ]
    cols += [lang_pred_col(F.col("__hits")).alias("pred_lang")]
    return with_hits.select(*cols)


def fingerprint(docs: DataFrame) -> DataFrame:
    """Whole-document rolling-hash fingerprint (engine-portable polynomial
    hash over the normalized text) — the cheap exact-dedup key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        char_poly_hash_col(norm).alias("fp"),
        F.length("text").alias("n_chars_text"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k salient terms by tf·(N/df) — the corpus-level
    term-weighting a training-data pipeline uses for keyword tagging and
    topic-balanced sampling. Deliberately N/df, NOT log(N/df): the
    logarithm's last-ulp behavior is libm-dependent, while count
    arithmetic and one IEEE division are bit-reproducible across engines
    (the repo-wide oracle-exactness rule). Rankings per term are
    identical; cross-term weighting is linear instead of logarithmic.

    Shape: one LINEAR pipeline over the expensive tokenize+explode
    subtree — it runs exactly once, structurally (review finding: the
    original tf → {df groupBy, totals agg, join} fan-out recomputed it
    per consumer; Spark's exchange reuse did not kick in): (doc, term)
    counts → per-term df as a count over a term-partitioned window →
    broadcast 1-row corpus total (counted from the raw scan with a
    size() filter, no explode) → window top-k per doc. Three shuffles
    ((doc,term) agg, term window, doc top-k), no joins on the heavy
    side, no driver actions.
    """
    from pyspark.sql import Window

    from .sampling import top_k_per_group

    base = docs.select("doc_id", F.explode(doc_tokens(F.col("text"))).alias("term"))
    tf = base.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    totals = (
        docs.filter(has_min_tokens(F.col("text")))
        .agg(F.count_distinct("doc_id").alias("__n"))
    )
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("__n")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    return top_k_per_group(
        scored, ["doc_id"], "score", k, descending=True, tie_break="term"
    )


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher/MassiveText repetition-and-shape quality signals (Rae et
    al. 2021, "Scaling Language Models: ...", Table A1 — the public
    filter recipe most web-corpus pipelines start from), computed
    relationally per document:

      n_tokens            word count
      mean_word_len       mean token length
      frac_top_word       occurrences of the most frequent word / n
      top_2gram_frac      chars covered by the most frequent 2-gram /
                          total token chars (each occurrence counted)
      dup_5gram_char_frac chars in 5-grams that occur more than once /
                          total token chars
      gopher_pass         conjunction of a SUBSET of the published
                          gates (50 ≤ n ≤ 100000, 3 ≤ mean_word_len
                          ≤ 10, top_2gram_frac ≤ 0.20,
                          dup_5gram_char_frac ≤ 0.15) plus one CUSTOM
                          gate (frac_top_word ≤ 0.2, not in Table A1).
                          This is a compact screen, not the full
                          MassiveText recipe — the complete published
                          repetition battery (top 2/3/4-gram, dup
                          5–10-gram, duplicate line/paragraph) is
                          gopher_repetition below.

    Scale shape: explode → count per (doc, gram) → combinable max/sum
    per doc — one shuffle keyed by doc_id-and-gram, partials combined
    map-side; no per-row O(n²) scans, no window, no Python. Every
    fraction is one division of exact integer counts (engine-parity
    safe). Empty documents come back with n_tokens=0, NULL signals and
    gopher_pass=false — unscorable, not silently passing."""
    toks = doc_tokens(F.col("text"))
    # cheap regex pre-filter (r7 rule: never filter on the computed
    # token column — the predicate is pushed into the scan single-task)
    base = docs.filter(has_min_tokens(F.col("text"))).select(
        "doc_id", toks.alias("__t")
    )

    words = base.select("doc_id", F.explode("__t").alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    word_stats = wc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        (F.sum(F.col("c") * F.length("w")) / F.sum("c")).alias("mean_word_len"),
        (F.max("c") / F.sum("c")).alias("frac_top_word"),
        F.sum(F.col("c") * F.length("w")).cast("long").alias("__chars"),
    )

    def grams(n: int):
        # n-gram join with '\x01' (outside the token alphabet) so
        # gram char-length = length(gram) - (n-1) separators; short
        # docs guarded INSIDE the generator (explode drops the empty
        # array) — a filter on __t would push the tokenizer into the
        # scan single-task (r7 rule)
        return base.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"IF(size(__t) >= {n}, "
                    f"transform(sequence(1, size(__t) - {n - 1}), "
                    f"i -> array_join(slice(__t, i, {n}), '\x01')), "
                    "CAST(array() AS array<string>))"
                )
            ).alias("g"),
        )

    g2 = (
        grams(2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            # top 2-gram by (count desc, gram asc) — deterministic via
            # min(struct(-count, gram)); its covered chars =
            # occurrences x gram chars
            F.min(
                F.struct(
                    (-F.col("c")).alias("__nc"),
                    F.col("g").alias("g"),
                )
            ).alias("__top"),
        )
        .select(
            "doc_id",
            (-F.col("__top.__nc")).alias("__top2_cnt"),
            (F.length(F.col("__top.g")) - 1).alias("__top2_chars"),
        )
    )
    g5 = (
        grams(5)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .select("doc_id", "c", (F.length("g") - 4).alias("__gc"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.col("__gc")).otherwise(0)
            )
            .cast("long")
            .alias("__dup5_chars")
        )
    )

    joined = (
        word_stats.join(g2, "doc_id", "left")
        .join(g5, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "mean_word_len",
            "frac_top_word",
            F.coalesce(
                F.col("__top2_cnt") * F.col("__top2_chars") / F.col("__chars"),
                F.lit(0.0),
            ).alias("top_2gram_frac"),
            F.coalesce(
                F.col("__dup5_chars") / F.col("__chars"), F.lit(0.0)
            ).alias("dup_5gram_char_frac"),
        )
    )
    gate = (
        F.col("n_tokens").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("frac_top_word") <= 0.2)
        & (F.col("top_2gram_frac") <= 0.20)
        & (F.col("dup_5gram_char_frac") <= 0.15)
    )
    scored = joined.withColumn("gopher_pass", gate)
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            "mean_word_len",
            "frac_top_word",
            "top_2gram_frac",
            "dup_5gram_char_frac",
            F.coalesce("gopher_pass", F.lit(False)).alias("gopher_pass"),
        )
    )


# (gate, threshold) pairs of the published MassiveText repetition
# battery (Rae et al. 2021 Table A1): most-frequent-n-gram coverage for
# n=2..4, duplicated-n-gram coverage for n=5..10.
# gram fingerprint fold: multiplier > max token hash (injective
# pre-mod), modulus = largest 32-bit prime so (P2-1)*M + (M-1) < 2^63
GRAM_FP_MULT = 1_000_000_007
GRAM_FP_P = 4_294_967_291

GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
GOPHER_DUP_LINE_FRAC_MAX = 0.30
GOPHER_DUP_LINE_CHAR_MAX = 0.20
GOPHER_DUP_PARA_FRAC_MAX = 0.30
GOPHER_DUP_PARA_CHAR_MAX = 0.20


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """The COMPLETE published Gopher/MassiveText repetition battery
    (Rae et al. 2021, Table A1) — the remaining gates gopher_quality's
    compact screen leaves out, per document:

      dup_line_frac        repeated line occurrences (2nd+ occurrence
                           of an identical non-empty line) / lines
      dup_line_char_frac   chars of those repeated occurrences / line chars
      dup_para_frac        same, over blank-line-separated paragraphs
      dup_para_char_frac   "
      top_{2,3,4}gram_frac token chars inside occurrences of the most
                           frequent n-gram / total token chars —
                           coverage as a UNION of covered token
                           positions, so overlapping occurrences never
                           double-count and the value is a true
                           fraction ≤ 1 (the paper's "fraction of
                           characters contained within", exactly —
                           unlike gopher_quality's compact
                           occurrences×chars approximation)
      dup_{5..10}gram_char_frac
                           token chars inside any n-gram occurring
                           more than once / total token chars (same
                           position-union coverage)
      repetition_pass      conjunction of all 13 published thresholds
                           (0.30/0.20 line+para, 0.20/0.18/0.16 top-n,
                           0.15..0.10 dup-n)

    Duplicate lines/paragraphs follow the first-occurrence-free
    convention: a unit occurring c times contributes c-1 repeated
    occurrences and (c-1)·len chars.

    Scale shape: ZERO shuffle — every gate is per-document math, so
    the whole battery is ONE narrow projection over the corpus scan
    (embarrassingly parallel; at 10¹² documents nothing ever leaves
    the executor). Per row: tokens are char-hashed once (O(chars)),
    each n-gram fingerprint is a fold over n int64 token hashes
    (`(a·(10⁹+7) + h) mod (2³²−5)` — no gram string is ever
    materialized), the (fp, pos) pairs are array_sort'ed so counts
    and the per-n argmax are O(m log m) run-length folds, and exact
    position-union char coverage is a linear fold over the sorted
    qualifying starts (intervals all have length n, so each gap
    contributes min(n, gap) positions — no quadratic mask). Earlier
    rounds shuffled ~100·|docs| exploded (doc, n, gram, pos) rows
    through a groupBy + self-join (measured 7.7–8.8 s at sf0.1); the
    shuffle-free fold shape replaces that with pure scan work.
    Fingerprint collisions can merge two distinct grams within one
    (doc, n) family (p ≈ grams²/2³³, ~10⁻⁴ for a 2k-token page —
    conservative direction: repetition only inflates); the DuckDB
    twin folds the identical token hashes relationally, so oracle
    parity is bit-exact regardless. Every fraction is one division
    of exact integer counts (engine-parity rule); docs with no
    tokens return NULL fractions and repetition_pass=false
    (unscorable, never silently passing)."""
    return _repetition_scored(docs).drop("__t")


def _repetition_scored(docs: DataFrame) -> DataFrame:
    """gopher_repetition's engine; keeps the token array column __t so
    massivetext_gates can add its word-shape stats in the same
    zero-shuffle projection chain instead of a second scan + join."""
    prep, chain, fracs = _battery_cols()
    prepared = docs.select("doc_id", *prep)
    for name, c in chain:
        prepared = prepared.withColumn(name, c)
    # fracs land in their own projection; the gate references them by
    # NAME so no gram fold is ever evaluated twice (CollapseProject
    # declines to inline multiply-referenced non-cheap aliases)
    scored = prepared.select(
        "doc_id",
        "__t",
        *[c.alias(name) for name, c in fracs],
    )
    gate = (
        (F.col("dup_line_frac") <= GOPHER_DUP_LINE_FRAC_MAX)
        & (F.col("dup_line_char_frac") <= GOPHER_DUP_LINE_CHAR_MAX)
        & (F.col("dup_para_frac") <= GOPHER_DUP_PARA_FRAC_MAX)
        & (F.col("dup_para_char_frac") <= GOPHER_DUP_PARA_CHAR_MAX)
    )
    for n, thr in sorted(GOPHER_TOP_NGRAM_MAX.items()):
        gate = gate & (F.col(f"top_{n}gram_frac") <= thr)
    for n, thr in sorted(GOPHER_DUP_NGRAM_MAX.items()):
        gate = gate & (F.col(f"dup_{n}gram_char_frac") <= thr)
    return scored.withColumn(
        "repetition_pass", F.coalesce(gate, F.lit(False))
    )


@lru_cache(maxsize=None)
def _battery_cols() -> tuple:
    """Every Column of the repetition battery — the prepared-projection
    columns, the (name, Column) withColumn chain, and the (name, Column)
    fraction list — built ONCE per process: the trees are parameter-free
    and data-free (fixed column-name references only), and building them
    costs ~0.35 s of py4j/SQL-parse driver time per call (the r7
    construction-overhead finding, OPTIMIZATION_r07.md)."""
    M, P = GRAM_FP_MULT, GRAM_FP_P

    def _gram_cov(n: int, top: bool) -> Column:
        # covered chars of the qualifying n-gram family, one per-row
        # expression; single-element transform() calls are pure-SQL
        # let-bindings so each subtree evaluates exactly once.
        # r7: the family's fingerprints come from the chained __fp{n}
        # column (each derived from __fp{n-1} with one multiply-add per
        # position) instead of an O(n) slice-fold per position — ~6x
        # less fold work — and each (fp, pos) pair is PACKED into one
        # int64 (fp * 2^31 + pos; max (P-1)*2^31 + 2^31 < 2^63) so the
        # per-row sort runs on primitive longs instead of structs and
        # packed order == (fp asc, pos asc) exactly. Identical values.
        fps = (
            f"transform(sequence(1, size(__fp{n})), "
            f"i -> element_at(__fp{n}, i) * 2147483648 + i)"
        )
        unpack_f = "({x} DIV 2147483648)"
        unpack_p = "CAST({x} % 2147483648 AS INT)"
        if top:
            # run-length fold over fp-sorted packed pairs; strict >
            # keeps the first (smallest-fp) run on count ties, matching
            # the oracle's ORDER BY c DESC, fp
            xf = unpack_f.format(x="x")
            best = (
                "aggregate(prs, named_struct("
                "'cf', CAST(-1 AS BIGINT), 'cc', CAST(0 AS BIGINT), "
                "'bf', CAST(-1 AS BIGINT), 'bc', CAST(0 AS BIGINT)), "
                f"(s, x) -> if({xf} = s.cf, "
                "named_struct('cf', s.cf, 'cc', s.cc + CAST(1 AS BIGINT), "
                "'bf', s.bf, 'bc', s.bc), "
                "if(s.cc > s.bc, "
                f"named_struct('cf', {xf}, 'cc', CAST(1 AS BIGINT), "
                "'bf', s.cf, 'bc', s.cc), "
                f"named_struct('cf', {xf}, 'cc', CAST(1 AS BIGINT), "
                "'bf', s.bf, 'bc', s.bc))), "
                "s -> if(s.cc > s.bc, s.cf, s.bf))"
            )
            # packed order sorts by (f, p): within the best run the
            # positions are already ascending — no re-sort needed
            qpos = (
                f"transform(array({best}), bf -> "
                f"transform(filter(prs, x -> {xf} = bf), "
                f"x -> {unpack_p.format(x='x')}))[0]"
            )
        else:
            # an occurrence qualifies iff its fp has a sorted-order
            # neighbor with the same fp (count > 1)
            ej = unpack_f.format(x="element_at(prs, j)")
            ejm = unpack_f.format(x="element_at(prs, j - 1)")
            ejp = unpack_f.format(x="element_at(prs, j + 1)")
            qpos = (
                "array_sort(transform(filter(sequence(1, size(prs)), j -> "
                f"(j > 1 AND {ej} = {ejm}) "
                f"OR (j < size(prs) AND {ej} = {ejp})), "
                f"j -> {unpack_p.format(x='element_at(prs, j)')}))"
            )
        # union coverage: starts are sorted and every interval has
        # length n, so occurrence j contributes exactly the positions
        # [q_j, min(q_j + n - 1, q_{j+1} - 1)] — a linear fold with a
        # <= n-wide inner sum of token char lengths
        cov = (
            "if(size(qp) = 0, CAST(0 AS BIGINT), "
            "aggregate(sequence(1, size(qp)), CAST(0 AS BIGINT), "
            "(acc, j) -> acc + aggregate("
            "sequence(element_at(qp, j), "
            f"least(element_at(qp, j) + {n} - 1, "
            "if(j < size(qp), element_at(qp, j + 1) - 1, size(__th)))), "
            "CAST(0 AS BIGINT), (a, p) -> a + element_at(__lens, p))))"
        )
        return F.expr(
            f"if(size(__th) < {n}, CAST(0 AS BIGINT), "
            f"transform(array(array_sort({fps})), prs -> "
            f"transform(array({qpos}), qp -> {cov})[0])[0])"
        )

    def _dup_units(col: str) -> str:
        # run-length fold over the sorted units: occurrence j >= 2 with
        # s[j] = s[j-1] is a repeat (the first-occurrence-free rule)
        return (
            f"transform(array(array_sort({col})), s -> named_struct("
            "'n', CAST(size(s) AS BIGINT), "
            "'chars', aggregate(s, CAST(0 AS BIGINT), "
            "(a, u) -> a + length(u)), "
            "'dup', if(size(s) < 2, CAST(0 AS BIGINT), "
            "aggregate(filter(sequence(2, size(s)), "
            "j -> element_at(s, j) = element_at(s, j - 1)), "
            "CAST(0 AS BIGINT), (a, j) -> a + CAST(1 AS BIGINT))), "
            "'dupchars', if(size(s) < 2, CAST(0 AS BIGINT), "
            "aggregate(filter(sequence(2, size(s)), "
            "j -> element_at(s, j) = element_at(s, j - 1)), "
            "CAST(0 AS BIGINT), (a, j) -> a + length(element_at(s, j))))"
            "))[0]"
        )

    toks = doc_tokens(F.col("text"))
    prep = (
        toks.alias("__t"),
        F.filter(
            F.split(F.col("text"), r"\n"), lambda u: u != ""
        ).alias("__lnu"),
        F.filter(
            F.split(F.col("text"), r"\n{2,}"), lambda u: u != ""
        ).alias("__pau"),
    )
    chain = [
        ("__th", F.transform("__t", char_poly_hash_col)),
        ("__lens", F.transform("__t", F.length)),
        (
            "__chars",
            F.aggregate(
                "__lens", F.lit(0).cast("long"), lambda a, x: a + x
            ),
        ),
        ("__ln", F.expr(_dup_units("__lnu"))),
        ("__pa", F.expr(_dup_units("__pau"))),
    ]
    # chained gram-fingerprint families: fp_n[i] = (fp_{n-1}[i]*M +
    # th[i+n-1]) mod P — exactly the left fold over th[i..i+n-1]
    # (th < P, fp*M < 2^62; each layer is one multiply-add per position)
    all_ns = sorted(GOPHER_TOP_NGRAM_MAX) + sorted(GOPHER_DUP_NGRAM_MAX)
    chain.append(
        (
            "__fp2",
            F.expr(
                f"IF(size(__th) >= 2, transform(sequence(1, size(__th) - 1), "
                f"i -> (element_at(__th, i) * {M} + element_at(__th, i + 1)) % {P}), "
                "CAST(array() AS array<bigint>))"
            ),
        )
    )
    for n in range(3, max(all_ns) + 1):
        chain.append(
            (
                f"__fp{n}",
                F.expr(
                    f"IF(size(__th) >= {n}, "
                    f"transform(sequence(1, size(__th) - {n - 1}), "
                    f"i -> (element_at(__fp{n - 1}, i) * {M} "
                    f"+ element_at(__th, i + {n - 1})) % {P}), "
                    "CAST(array() AS array<bigint>))"
                ),
            )
        )

    has = F.size("__t") > 0

    def _frac(num: Column, den: Column) -> Column:
        # x/0 and NULL/x are NULL -> 0.0; token-less docs stay NULL
        return F.when(has, F.coalesce(num / den, F.lit(0.0)))

    fracs = {
        "dup_line_frac": _frac(F.col("__ln.dup"), F.col("__ln.n")),
        "dup_line_char_frac": _frac(
            F.col("__ln.dupchars"), F.col("__ln.chars")
        ),
        "dup_para_frac": _frac(F.col("__pa.dup"), F.col("__pa.n")),
        "dup_para_char_frac": _frac(
            F.col("__pa.dupchars"), F.col("__pa.chars")
        ),
        **{
            f"top_{n}gram_frac": _frac(_gram_cov(n, True), F.col("__chars"))
            for n in sorted(GOPHER_TOP_NGRAM_MAX)
        },
        **{
            f"dup_{n}gram_char_frac": _frac(
                _gram_cov(n, False), F.col("__chars")
            )
            for n in sorted(GOPHER_DUP_NGRAM_MAX)
        },
    }
    return (prep, tuple(chain), tuple(fracs.items()))


def massivetext_gates(docs: DataFrame) -> DataFrame:
    """The full published MassiveText quality verdict per document:
    word-shape stats + the complete 13-gate repetition battery
    (gopher_repetition) + the conjunction gate. This is the operator a
    curation pipeline actually filters on; gopher_quality remains the
    cheap approximate pre-screen.

      n_tokens, mean_word_len   word-shape stats
      frac_top_word             reported as a SIGNAL only — it is not
                                a Table A1 gate and is excluded from
                                the verdict (the r5 ADVICE finding)
      <13 repetition fractions> see gopher_repetition
      repetition_pass           the 13 published repetition thresholds
      gopher_pass               repetition_pass AND the published
                                shape gates 50 ≤ n_tokens ≤ 100000,
                                3 ≤ mean_word_len ≤ 10

    Token-less documents: n_tokens=0, NULL signals, both passes false.

    Scale shape: zero shuffle end to end — the shape stats are per-row
    folds over the token array (mean = Σlen/n; the top-word count is a
    run-length fold over array_sort(__t)), appended to
    _repetition_scored's projection chain, so the full 15-signal
    verdict is ONE narrow scan projection over the corpus."""
    rep = _repetition_scored(docs)
    has = F.size("__t") > 0
    n_tok = F.size("__t").cast("long")
    sum_len = F.aggregate(
        "__t", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    # max occurrence count of any single token: run-length fold over the
    # sorted array (cw = current word, cc = current run, bc = best run)
    top_c = F.expr(
        "transform(array(array_sort(__t)), s -> "
        "aggregate(s, named_struct("
        "'cw', '', 'cc', CAST(0 AS BIGINT), 'bc', CAST(0 AS BIGINT)), "
        "(st, w) -> named_struct("
        "'cw', w, "
        "'cc', if(w = st.cw, st.cc + CAST(1 AS BIGINT), CAST(1 AS BIGINT)), "
        "'bc', greatest(st.bc, "
        "if(w = st.cw, st.cc + CAST(1 AS BIGINT), CAST(1 AS BIGINT)))), "
        "st -> st.bc))[0]"
    )
    mean_word_len = F.when(has, sum_len / n_tok)
    shape_gate = n_tok.between(50, 100_000) & mean_word_len.between(3.0, 10.0)
    rep_cols = [
        c for c in rep.columns
        if c not in ("doc_id", "__t", "repetition_pass")
    ]
    return rep.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        F.when(has, top_c / n_tok).alias("frac_top_word"),
        *rep_cols,
        "repetition_pass",
        (
            F.coalesce(shape_gate, F.lit(False)) & F.col("repetition_pass")
        ).alias("gopher_pass"),
    )


OOV_TOKEN = "<unk>"  # outside DOC_TOKEN_RE's alphabet — can't collide


def lm_bigram_score(docs: DataFrame, max_vocab: int | None = None) -> DataFrame:
    """Corpus-trained word-bigram LM quality score — the CCNet-style
    LM-filter analog (score each document by how typical its word
    transitions are; sort/filter the corpus on it). Model and scoring in
    one job over the corpus:

      c(w1,w2)  bigram counts           — explode + combinable agg
      c(w1)     continuation denominator (= Σ_w2 c(w1,w2))
      V         distinct continuation vocabulary
      p(w2|w1)  = (c(w1,w2) + 1) / (c(w1) + V)   add-one smoothed

    score = MEAN transition likelihood over the doc's ordered bigrams,
    computed as a sequential fold over the position-sorted array.
    Deliberately rational and log-free (the tfidf_top_terms rule):
    count arithmetic + IEEE division + a sequential sum are
    bit-reproducible across engines, while ln()'s last ulp is
    libm-dependent; the ranking a filter needs is preserved. On a real
    cluster swap the mean for avg log-prob — no oracle parity needed
    there.

    Scale contract (the CCNet recipe): with `max_vocab` set, tokens
    outside the top-`max_vocab` by corpus occurrence count (ties to the
    lexicographically smaller token) fold into one OOV_TOKEN bucket
    BEFORE bigram construction, so the vocab map and the c(w1) table
    are provably ≤ max_vocab+1 rows — those two joins broadcast.
    c(w1,w2) is O(vocab²) worst-case and is NEVER broadcast-hinted at
    any setting: it shuffle-joins on (w1,w2), and AQE may still elect a
    broadcast when the observed table is small. With max_vocab=None
    (oracle-parity mode, small corpora) no table gets a forced hint.

    Returns (doc_id, n_bigrams, score); documents with <2 tokens carry
    n_bigrams=0 and score NULL (unscorable, not silently 0)."""
    toks = doc_tokens(F.col("text"))
    base = (
        # <2 tokens: no bigram (and sequence(1, 0) DESCENDS in Spark,
        # which would index out of bounds) — restored by the left join.
        # Cheap regex pre-filter: a filter on the computed __t would be
        # pushed into the scan and re-tokenize single-task (r7 rule)
        docs.filter(has_min_tokens(F.col("text"), 2))
        .select("doc_id", toks.alias("__t"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1), "
                    "i -> struct(__t[i-1] AS w1, __t[i] AS w2))"
                )
            ).alias("pos", "bg"),
        )
        .select(
            "doc_id", "pos", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
        )
    )
    if max_vocab is not None:
        uni = (
            docs.select(F.explode(toks).alias("__tok"))
            .groupBy("__tok")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # TakeOrderedAndProject over the vocab-sized count table —
        # deterministic (count desc, token asc), driver-small result
        vocab = (
            uni.orderBy(F.desc("__c"), F.asc("__tok"))
            .limit(max_vocab)
            .select("__tok", F.lit(True).alias("__in"))
        )
        for col in ("w1", "w2"):
            base = (
                base.join(
                    F.broadcast(vocab.withColumnRenamed("__tok", col)), col, "left"
                )
                .withColumn(
                    col, F.when(F.col("__in"), F.col(col)).otherwise(F.lit(OOV_TOKEN))
                )
                .drop("__in")
            )
    c12 = base.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = base.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = base.agg(F.count_distinct("w2").alias("__v"))
    c1_side = F.broadcast(c1) if max_vocab is not None else c1
    scored = (
        base.join(c12, ["w1", "w2"])
        .join(c1_side, "w1")
        .crossJoin(F.broadcast(v))
        .withColumn(
            "__p",
            (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("__v")),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (ordered_sum("pos", "__p") / F.count(F.lit(1))).alias("score"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "score",
        )
    )


# --- C4 / FineWeb heuristic batteries ---------------------------------------
# C4 line + page rules: Raffel et al. 2020 (T5), §2.2. FineWeb custom
# filters: Penedo et al. 2024, §3 (the three heuristics they add on top
# of the Gopher battery implemented above in massivetext_gates).
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
# placeholder for the public "List of Dirty, Naughty, Obscene..." list
# C4 actually uses (thousands of entries, fetched at deploy time); the
# operator takes any tuple so a real run passes the full list
C4_BADWORDS_STUB = ("obscene", "expletive")
FINEWEB_PUNCT_LINE_MIN = 0.12   # frac of lines ending in terminal punct
FINEWEB_SHORT_LINE_CHARS = 30   # a "short" line is < 30 chars
FINEWEB_SHORT_LINE_MAX = 0.67   # frac of short lines allowed


def c4_fineweb_gates(
    docs: DataFrame, badwords: tuple[str, ...] = C4_BADWORDS_STUB
) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2) plus the three
    FineWeb custom heuristics (Penedo et al. 2024 §3), per document:

      line rule (C4)  — a line SURVIVES iff its trimmed text ends in a
                        terminal punctuation mark (. ! ? \"), carries
                        >= 5 word tokens, and does not contain the word
                        'javascript' (case-insensitive). text_clean is
                        the surviving lines re-joined with newlines.
      page rules (C4) — dropped if the CLEANED page has < 3 sentences
                        (terminal-punct count, the published heuristic),
                        contains 'lorem ipsum', a curly brace '{', or a
                        bad-word hit (`badwords`; default is a clearly
                        marked two-entry stub for the public list C4
                        pulls at deploy time).
      FineWeb         — frac of (non-empty) lines ending in terminal
                        punctuation < 0.12 -> drop; frac of lines
                        shorter than 30 chars > 0.67 -> drop. (The
                        third FineWeb heuristic, duplicated-line char
                        fraction, lives in gopher_repetition above.)

    Scale shape: zero shuffle — line splitting, the per-line word
    counts, and every gate are per-row array folds in one narrow scan
    projection, same contract as gopher_repetition. Every fraction is
    one division of exact integer counts; documents with no non-empty
    lines emit NULL fractions and both passes false (unscorable, never
    silently passing)."""
    punct = list(C4_TERMINAL_PUNCT)
    lines = F.filter(
        F.transform(F.split(F.col("text"), r"\n"), lambda u: F.trim(u)),
        lambda u: u != "",
    )
    ends_punct = lambda u: F.substring(u, -1, 1).isin(punct)  # noqa: E731
    nwords = lambda u: F.size(doc_tokens(u))  # noqa: E731
    kept = F.filter(
        lines,
        lambda u: ends_punct(u)
        & (nwords(u) >= C4_MIN_LINE_WORDS)
        & ~F.lower(u).contains("javascript"),
    )
    base = docs.select(
        "doc_id",
        F.lower("text").alias("__low"),
        lines.alias("__ln"),
        kept.alias("__kept"),
    )
    text_clean = F.array_join("__kept", "\n")
    # page-level C4 rules scan the ORIGINAL page (Raffel et al.: "any
    # page that contained ..."), sentence count the cleaned one
    low = F.col("__low")
    n_sentences = (
        F.length(text_clean)
        - F.length(F.translate(text_clean, ".!?", ""))
    ).cast("long")
    has_badword = F.lit(False)
    for w in badwords:
        has_badword = has_badword | low.contains(w.lower())
    n_lines = F.size("__ln").cast("long")
    n_kept = F.size("__kept").cast("long")
    has = n_lines > 0
    n_punct_lines = F.size(F.filter("__ln", ends_punct)).cast("long")
    n_short_lines = F.size(
        F.filter("__ln", lambda u: F.length(u) < FINEWEB_SHORT_LINE_CHARS)
    ).cast("long")
    frac_punct = F.when(has, n_punct_lines / n_lines)
    frac_short = F.when(has, n_short_lines / n_lines)
    c4_pass = (
        (n_sentences >= C4_MIN_SENTENCES)
        & ~low.contains("lorem ipsum")
        & ~low.contains("{")
        & ~has_badword
        & (n_kept > 0)
    )
    fineweb_pass = (frac_punct >= FINEWEB_PUNCT_LINE_MIN) & (
        frac_short <= FINEWEB_SHORT_LINE_MAX
    )
    return base.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_kept.alias("n_kept_lines"),
        text_clean.alias("text_clean"),
        n_sentences.alias("n_sentences"),
        frac_punct.alias("frac_punct_lines"),
        frac_short.alias("frac_short_lines"),
        F.coalesce(c4_pass, F.lit(False)).alias("c4_pass"),
        F.coalesce(fineweb_pass, F.lit(False)).alias("fineweb_pass"),
    )
