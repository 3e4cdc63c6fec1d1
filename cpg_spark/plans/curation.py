"""Training-data curation pipeline: the composed shape a 100 TB corpus
actually runs — language/quality gates, exact dedup, MinHash-LSH
candidate generation, Jaccard verification, connected-components
canonical selection — built entirely from the operators in this repo.

Each stage is one function here (`gate`, `survivors`, `verified_edges`,
`dup_map`, `kept`), and both surfaces are built from them:
  curate()            composes the stages into one lazy plan
                      (benchmarks, notebooks);
  CurationPipeline    commits each stage as a resumable snapshot with
                      per-stage lineage rows — the KgPipeline contract
                      applied to curation, so a killed 100 TB curation
                      job resumes from its last committed stage instead
                      of re-shingling the corpus.

Stage order (all lazy until materialized):

    docs -> lang/quality gate            (textstats; pure map)
         -> exact dedup                  (normalized-text window min)
         -> LSH candidates -> Jaccard≥t  (dedup; explode+agg, blocked join)
         -> near-dup components          (canonicalize.connected_components
                                          — the SAME CC as entity
                                          canonicalization, reused)
         -> keep min doc_id per component

Scale notes: the near-dup edge set is tiny relative to the corpus (only
verified pairs), so CC usually runs the driver union-find path; the
star-loop kicks in automatically past the threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import let_col
from ..operators import canonicalize, dedup, textstats
from .pipeline import StagedPipeline


def gate(
    docs: DataFrame,
    target_langs: tuple[str, ...] | None,
    min_quality: float,
    c4_gate: bool = False,
) -> DataFrame:
    """docs plus ``quality``, ``pred_lang`` (and, with ``c4_gate``,
    ``c4_pass`` and ``fineweb_pass``) and a boolean ``gated`` column,
    true for a row the gate drops.

    r7: quality and pred_lang are PURE PER-ROW functions of text, so
    the gate computes them inline in one projection — the previous
    operator-output joins back on doc_id shuffled the whole corpus
    twice to attach columns derivable in the scan (same values:
    quality is NULL for token-less docs exactly as the left join
    produced). Both come from one let-bound token array, so each
    document is tokenized once."""
    text = F.col("text")

    def annotate(t):
        quality = textstats.quality_of_tokens(text, t).getField("quality")
        pred = let_col(textstats.lang_hits_of_tokens(t), textstats.lang_pred_col)
        return F.struct(
            F.when(F.size(t) > 0, quality).alias("quality"), pred.alias("pred_lang")
        )

    # the struct is one column so the projection below reads it twice
    # without re-running the tokenizer
    annotated = (
        docs.withColumn("__ann", let_col(textstats.doc_tokens(text), annotate))
        .withColumn("quality", F.col("__ann.quality"))
        .withColumn("pred_lang", F.col("__ann.pred_lang"))
        .drop("__ann")
    )

    gate_fail = F.lit(False)
    if target_langs is not None:
        gate_fail = gate_fail | ~F.col("pred_lang").isin(list(target_langs))
    gate_fail = gate_fail | (F.coalesce(F.col("quality"), F.lit(0.0)) < min_quality)
    if c4_gate:
        c4 = textstats.c4_fineweb_gates(docs).select(
            "doc_id", "c4_pass", "fineweb_pass"
        )
        annotated = annotated.join(c4, "doc_id", "left")
        gate_fail = gate_fail | ~F.coalesce(
            F.col("c4_pass") & F.col("fineweb_pass"), F.lit(False)
        )
    return annotated.withColumn("gated", gate_fail)


def survivors(gated: DataFrame) -> DataFrame:
    """The rows of a `gate` frame that pass the gate, without ``gated``."""
    return gated.filter(~F.col("gated")).drop("gated")


def verified_edges(
    survivors: DataFrame,
    cand: DataFrame,
    max_doc_freq: int | None,
    near_dup_jaccard: float,
) -> DataFrame:
    """Duplicate edges (a, b): LSH candidate pairs verified by
    candidate-confined Jaccard (NOT corpus-wide jaccard_pairs — the
    blocking must confine the expensive intersection work to the
    candidates, or LSH saves nothing), plus the exact-dup edges on
    normalized text."""
    jac = dedup.jaccard_for_pairs(survivors, cand, max_doc_freq=max_doc_freq)
    verified = jac.filter(F.col("jaccard") >= near_dup_jaccard).select("a", "b")
    exact_edges = (
        dedup.exact_dup_map(survivors)
        .filter(F.col("is_dup"))
        .select(F.col("doc_id").alias("a"), F.col("canonical_id").alias("b"))
    )
    return verified.unionByName(exact_edges)


def dup_map(survivors: DataFrame, edges: DataFrame) -> DataFrame:
    """doc_id -> canonical_id: the min doc_id of each survivor's
    duplicate component (itself when it has no duplicate)."""
    cc = canonicalize.connected_components(edges, src="a", dst="b")
    return (
        survivors.select("doc_id")
        .join(cc.withColumnRenamed("member_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("canonical_id"),
        )
    )


def kept(survivors: DataFrame, dmap: DataFrame) -> DataFrame:
    """The survivors that are their component's canonical doc."""
    return (
        survivors.join(dmap, "doc_id")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .drop("canonical_id")
    )


def curate(
    docs: DataFrame,
    target_langs: tuple[str, ...] | None = None,
    min_quality: float = 0.0,
    near_dup_jaccard: float = 0.8,
    max_doc_freq: int | None = None,
    lsh_max_bucket: int | None = None,
    c4_gate: bool = False,
    exact_substring: int | None = None,
) -> dict[str, DataFrame]:
    """Returns {kept, dropped, dup_map, lsh_dropped_buckets, unpersist}:
    kept survivors, dropped rows with a reason column, the doc_id ->
    canonical_id near/exact-dup map, the audit table of LSH buckets
    excluded by lsh_max_bucket (empty when uncapped), and an
    ``unpersist()`` callable. The gate and candidate-pair stages are
    cached; the CALLER owns that cache's lifetime, as it owns any local
    checkpoint the returned frames read (iterutil.scope) — call
    ``result["unpersist"]()`` once the outputs are materialized, or
    cached blocks accumulate in executor storage across repeated
    invocations in a long-lived session.

    max_doc_freq drops shingles shared by more than that many docs before
    Jaccard verification (boilerplate guard); lsh_max_bucket excludes LSH
    buckets larger than that from candidate generation. Both default to
    None = exact.

    c4_gate=True folds the published C4 + FineWeb batteries
    (textstats.c4_fineweb_gates — both passes required) into the gate
    stage; still one scan, the gates are per-row folds.
    exact_substring=L appends Lee et al. corpus-level duplicated-
    substring removal (dedup.exact_substring_dedup, >= L tokens) over
    the kept survivors — the standard post-dedup boilerplate scrub;
    kept.text is rewritten and es_removed_tokens added. Both default
    OFF so the long-benched 5-stage plan is unchanged."""
    gated = gate(docs, target_langs, min_quality, c4_gate)
    # fan-out point #1: exact dedup, MinHash, the Jaccard verify, and
    # the kept/dropped outputs all read the gated rows — cache the
    # gate frame (before the filter) so the tokenize/quality/lang-id
    # chain runs once, not per consumer, AND so the gate filter
    # applies to materialized rows: filtering on the computed columns
    # directly would push the whole gate expression chain below the
    # upstream repartition into the single-split scan (the r7
    # filter-on-computed rule — measured 5.6s for the gate chain alone
    # at sf1.0, ~1s cached). A production run materializes this stage
    # to a snapshot; the cache is the in-session analog, released via
    # `unpersist`.
    gated = gated.cache()
    surv = survivors(gated)

    sig = dedup.minhash_signatures(surv)
    # fan-out point #2: the verify reads the candidate set once per pair
    # end, for the candidate-doc semi-join and for the pair-keyed join —
    # cache so MinHash+banding runs once (EdgeCachePass analog)
    cand = dedup.lsh_candidate_pairs(sig, max_bucket_size=lsh_max_bucket).cache()
    dmap = dup_map(surv, verified_edges(surv, cand, max_doc_freq, near_dup_jaccard))
    lsh_dropped = dedup.lsh_dropped_buckets(sig, max_bucket_size=lsh_max_bucket)

    out = kept(surv, dmap)
    if exact_substring:
        es = dedup.exact_substring_dedup(
            out.select("doc_id", "text"), min_tokens=exact_substring
        )
        out = out.drop("text").join(
            es.select(
                "doc_id",
                F.col("text_deduped").alias("text"),
                F.col("n_removed").alias("es_removed_tokens"),
            ),
            "doc_id",
        )

    dropped_gate = gated.filter(F.col("gated")).select(
        "doc_id", F.lit("gate").alias("drop_reason")
    )
    dropped_dup = dmap.filter(F.col("doc_id") != F.col("canonical_id")).select(
        "doc_id", F.lit("duplicate").alias("drop_reason")
    )
    dropped = dropped_gate.unionByName(dropped_dup)
    return {
        "kept": out,
        "dropped": dropped,
        "dup_map": dmap,
        "lsh_dropped_buckets": lsh_dropped,
        "unpersist": lambda: (cand.unpersist(), gated.unpersist()),
    }


# --- resumable staged variant (the KgPipeline contract) ---------------------

CURATION_VERSION = "1"

CURATION_STAGES = ("gate", "candidates", "verified_edges", "dup_map", "kept")


class CurationPipeline(StagedPipeline):
    """The curation DAG as resumable snapshot stages (same contract as
    plans.pipeline.KgPipeline: fingerprint = input token + stage
    version + upstream fingerprints; committed stages are skipped on
    rerun; every stage appends per-partition lineage rows). The
    expensive stages — gate (tokenize/quality/lang-id over the whole
    corpus) and candidates (shingle + MinHash + banding) — are exactly
    the ones a killed 100 TB job must not repeat."""

    def __init__(
        self,
        spark,
        warehouse: str,
        run_id: str = "run-0",
        target_langs: tuple[str, ...] | None = None,
        min_quality: float = 0.0,
        near_dup_jaccard: float = 0.8,
        max_doc_freq: int | None = None,
        lsh_max_bucket: int | None = None,
    ):
        super().__init__(spark, warehouse, run_id)
        self.params = (
            target_langs,
            min_quality,
            near_dup_jaccard,
            max_doc_freq,
            lsh_max_bucket,
        )

    def run(self, docs: DataFrame, input_token: str, stop_after: str | None = None):
        """Run (or resume) curation over docs(doc_id, text, lang, ...).
        Returns {stage: DataFrame} for every completed stage."""
        target_langs, min_quality, near_dup_jaccard, max_doc_freq, lsh_max_bucket = (
            self.params
        )
        dag = (
            ("gate", (), lambda o: gate(docs, target_langs, min_quality)),
            (
                "candidates",
                ("gate",),
                lambda o: dedup.lsh_candidate_pairs(
                    dedup.minhash_signatures(survivors(o["gate"])),
                    max_bucket_size=lsh_max_bucket,
                ),
            ),
            (
                "verified_edges",
                ("candidates",),
                lambda o: verified_edges(
                    survivors(o["gate"]), o["candidates"], max_doc_freq, near_dup_jaccard
                ),
            ),
            (
                "dup_map",
                ("verified_edges",),
                lambda o: dup_map(survivors(o["gate"]), o["verified_edges"]),
            ),
            ("kept", ("gate", "dup_map"), lambda o: kept(survivors(o["gate"]), o["dup_map"])),
        )
        tokens = (input_token, repr(self.params), CURATION_VERSION)
        return self._run(dag, tokens, input_token, stop_after)
