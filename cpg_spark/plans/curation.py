"""Training-data curation pipeline: the composed shape a 100 TB corpus
actually runs — language/quality gates, exact dedup, MinHash-LSH
candidate generation, Jaccard verification, connected-components
canonical selection — built entirely from the operators in this repo.

Two surfaces:
  curate()            one lazy plan (benchmarks, notebooks);
  CurationPipeline    the same DAG as resumable snapshot stages with
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

from ..operators import canonicalize, dedup, textstats
from .pipeline import StagedPipeline, _fingerprint


def curate(
    docs: DataFrame,
    target_langs: tuple[str, ...] | None = None,
    min_quality: float = 0.0,
    near_dup_jaccard: float = 0.8,
    max_doc_freq: int | None = None,
    lsh_max_bucket: int | None = None,
    c4_gate: bool = False,
    exact_substring: int | None = None,
    cache: bool = True,
) -> dict[str, DataFrame]:
    """Returns {kept, dropped, dup_map, lsh_dropped_buckets, unpersist}:
    kept survivors, dropped rows with a reason column, the doc_id ->
    canonical_id near/exact-dup map, the audit table of LSH buckets
    excluded by lsh_max_bucket (empty when uncapped), and an
    ``unpersist()`` callable. The candidate-pair stage is cached (it
    feeds both sides of the verify join); the CALLER owns that cache's
    lifetime — call ``result["unpersist"]()`` once the outputs are
    materialized, or cached blocks accumulate in executor storage across
    repeated invocations in a long-lived session.

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
    OFF so the long-benched 5-stage plan is unchanged.

    r7: quality and pred_lang are PURE PER-ROW functions of text, so
    the gate computes them inline in one projection — the previous
    operator-output joins back on doc_id shuffled the whole corpus
    twice to attach columns derivable in the scan (same values:
    quality is NULL for token-less docs exactly as the left join
    produced)."""
    from ..functions.hashing import let_col

    quality = F.when(
        textstats.has_min_tokens(F.col("text")),
        textstats.quality_struct(F.col("text")).getField("quality"),
    )
    pred = let_col(
        textstats.lang_hits_array(F.col("text")), textstats.lang_pred_col
    )
    annotated = docs.withColumn("quality", quality).withColumn(
        "pred_lang", pred
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
    # fan-out point #1: exact dedup, MinHash, the Jaccard verify, and
    # the kept/dropped outputs all read the gated rows — cache the
    # ANNOTATED frame (before the filter) so the tokenize/quality/
    # lang-id chain runs once, not per consumer, AND so the gate filter
    # applies to materialized rows: filtering on the computed columns
    # directly would push the whole gate expression chain below the
    # upstream repartition into the single-split scan (the r7
    # filter-on-computed rule — measured 5.6s for the gate chain alone
    # at sf1.0, ~1s cached). A production run materializes this stage
    # to a snapshot; the cache is the in-session analog, released via
    # `unpersist`.
    if cache:  # cache=False = plan-audit mode (explain the raw chain)
        annotated = annotated.cache()
    gated = annotated.withColumn("__gated", gate_fail)
    survivors = gated.filter(~F.col("__gated")).drop("__gated")

    # exact dedup on normalized text
    exact = dedup.exact_dup_map(survivors).withColumnRenamed(
        "canonical_id", "exact_canonical"
    )

    # near-dup: LSH candidates, verified by candidate-confined Jaccard
    # (NOT corpus-wide jaccard_pairs — the blocking must confine the
    # expensive intersection work to the candidates, or LSH saves
    # nothing), closed under CC
    sig = dedup.minhash_signatures(survivors)
    # fan-out point #2: the candidate set feeds both sides of the verify
    # join — cache so MinHash+banding runs once (EdgeCachePass analog)
    cand = dedup.lsh_candidate_pairs(sig, max_bucket_size=lsh_max_bucket)
    if cache:
        cand = cand.cache()
    jac = dedup.jaccard_for_pairs(survivors, cand, max_doc_freq=max_doc_freq)
    verified = jac.filter(F.col("jaccard") >= near_dup_jaccard).select("a", "b")
    lsh_dropped = dedup.lsh_dropped_buckets(sig, max_bucket_size=lsh_max_bucket)
    exact_edges = exact.filter(F.col("is_dup")).select(
        F.col("doc_id").alias("a"), F.col("exact_canonical").alias("b")
    )
    edges = verified.unionByName(exact_edges)
    cc = canonicalize.connected_components(edges, src="a", dst="b")

    dup_map = (
        survivors.select("doc_id")
        .join(cc.withColumnRenamed("member_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("canonical_id"),
        )
    )

    kept = (
        survivors.join(dup_map, "doc_id")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .drop("canonical_id")
    )
    if exact_substring:
        es = dedup.exact_substring_dedup(
            kept.select("doc_id", "text"), min_tokens=exact_substring
        )
        kept = kept.drop("text").join(
            es.select(
                "doc_id",
                F.col("text_deduped").alias("text"),
                F.col("n_removed").alias("es_removed_tokens"),
            ),
            "doc_id",
        )

    dropped_gate = gated.filter(F.col("__gated")).select(
        "doc_id", F.lit("gate").alias("drop_reason")
    )
    dropped_dup = dup_map.filter(F.col("doc_id") != F.col("canonical_id")).select(
        "doc_id", F.lit("duplicate").alias("drop_reason")
    )
    dropped = dropped_gate.unionByName(dropped_dup)
    return {
        "kept": kept,
        "dropped": dropped,
        "dup_map": dup_map,
        "lsh_dropped_buckets": lsh_dropped,
        "unpersist": lambda: (cand.unpersist(), annotated.unpersist()),
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
        param_token = repr(self.params)
        fps: dict[str, str] = {}
        out: dict[str, DataFrame] = {}

        def fp(stage: str, *upstream: str) -> str:
            fps[stage] = _fingerprint(
                input_token,
                param_token,
                CURATION_VERSION,
                stage,
                *[fps[u] for u in upstream],
            )
            return fps[stage]

        def _gate() -> DataFrame:
            q = textstats.quality_score(docs).select("doc_id", "quality")
            lid = textstats.lang_id(docs).select("doc_id", "pred_lang")
            annotated = docs.join(q, "doc_id", "left").join(lid, "doc_id", "left")
            gate_fail = F.lit(False)
            if target_langs is not None:
                gate_fail = gate_fail | ~F.col("pred_lang").isin(list(target_langs))
            gate_fail = gate_fail | (
                F.coalesce(F.col("quality"), F.lit(0.0)) < min_quality
            )
            return annotated.withColumn("gated", gate_fail)

        gate = self._stage("gate", fp("gate"), _gate, input_token)
        out["gate"] = gate
        if stop_after == "gate":
            return out
        survivors = gate.filter(~F.col("gated")).drop("gated")

        cand = self._stage(
            "candidates",
            fp("candidates", "gate"),
            lambda: dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(survivors), max_bucket_size=lsh_max_bucket
            ),
            input_token,
        )
        out["candidates"] = cand
        if stop_after == "candidates":
            return out

        def _verified() -> DataFrame:
            jac = dedup.jaccard_for_pairs(survivors, cand, max_doc_freq=max_doc_freq)
            verified = jac.filter(F.col("jaccard") >= near_dup_jaccard).select(
                "a", "b"
            )
            exact = dedup.exact_dup_map(survivors)
            exact_edges = exact.filter(F.col("is_dup")).select(
                F.col("doc_id").alias("a"), F.col("canonical_id").alias("b")
            )
            return verified.unionByName(exact_edges)

        edges = self._stage(
            "verified_edges", fp("verified_edges", "candidates"), _verified, input_token
        )
        out["verified_edges"] = edges
        if stop_after == "verified_edges":
            return out

        def _dup_map() -> DataFrame:
            cc = canonicalize.connected_components(edges, src="a", dst="b")
            return (
                survivors.select("doc_id")
                .join(cc.withColumnRenamed("member_id", "doc_id"), "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce("component_id", "doc_id").alias("canonical_id"),
                )
            )

        dup_map = self._stage(
            "dup_map", fp("dup_map", "verified_edges"), _dup_map, input_token
        )
        out["dup_map"] = dup_map
        if stop_after == "dup_map":
            return out

        kept = self._stage(
            "kept",
            fp("kept", "gate", "dup_map"),
            lambda: survivors.join(dup_map, "doc_id")
            .filter(F.col("doc_id") == F.col("canonical_id"))
            .drop("canonical_id"),
            input_token,
        )
        out["kept"] = kept
        return out
