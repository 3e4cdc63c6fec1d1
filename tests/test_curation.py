"""End-to-end curation pipeline over a planted corpus: gates drop what
they should, exact+near duplicates collapse to one canonical survivor."""

from __future__ import annotations

import pytest

from cpg_spark.plans.curation import curate

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")
OTHER = (
    "completely different content about spark shuffles partitions and "
    "broadcast joins running on very large clusters every day"
)
DOCS = [
    (0, BASE, "en"),
    (1, BASE, "en"),            # exact dup of 0
    (2, NEAR, "en"),            # near dup of 0
    (3, OTHER, "en"),           # unique keeper
    (4, "der hund und die katze ist von hier und der rest der tiere", "de"),
    (5, "x", "en"),             # too short / low quality
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string").cache()


def test_curate_end_to_end(spark, docs_df):
    out = curate(
        docs_df, target_langs=("en",), min_quality=0.3, near_dup_jaccard=0.5
    )
    kept = sorted(r["doc_id"] for r in out["kept"].collect())
    dropped = {r["doc_id"]: r["drop_reason"] for r in out["dropped"].collect()}

    assert kept == [0, 3]
    assert dropped[1] == "duplicate"
    assert dropped[2] == "duplicate"
    assert dropped[4] == "gate"      # predicted de
    assert dropped[5] == "gate"      # low quality
    # every doc accounted for exactly once
    assert set(kept) | set(dropped) == {d[0] for d in DOCS}
    assert not (set(kept) & set(dropped))

    dup_map = {r["doc_id"]: r["canonical_id"] for r in out["dup_map"].collect()}
    assert dup_map[1] == 0 and dup_map[2] == 0 and dup_map[3] == 3


def test_curate_no_gates_keeps_uniques(spark, docs_df):
    out = curate(docs_df, near_dup_jaccard=0.99)
    kept = sorted(r["doc_id"] for r in out["kept"].collect())
    # only the exact dup collapses at 0.99 (near-dup jaccard < 0.99)
    assert 0 in kept and 2 in kept and 3 in kept
    assert 1 not in kept


def test_curate_unpersist_releases_cache(spark, docs_df):
    """The caller-owned cache handle releases the candidate-pair blocks
    (library sessions must not leak storage across invocations)."""
    out = curate(docs_df, near_dup_jaccard=0.99)
    out["kept"].count()
    out["unpersist"]()
    # idempotent second call must not raise
    out["unpersist"]()


def test_curation_pipeline_stages_and_resume(spark, docs_df, tmp_path):
    """CurationPipeline commits one snapshot per stage with lineage
    rows; a rerun with the same input token skips every committed stage
    and returns identical kept rows; killing after `candidates` resumes
    from there. Matches curate()'s answer on the same corpus."""
    from cpg_spark.lineage import read_lineage
    from cpg_spark.plans.curation import CURATION_STAGES, CurationPipeline, curate

    wh = str(tmp_path / "wh")
    kw = dict(target_langs=("en",), min_quality=0.3, near_dup_jaccard=0.5)

    # partial run, as if killed after the candidate stage
    p0 = CurationPipeline(spark, wh, run_id="c0", **kw)
    p0.run(docs_df, input_token="t1", stop_after="candidates")
    assert p0.ran == ["gate", "candidates"]

    # full run resumes: the two committed stages are skipped
    p1 = CurationPipeline(spark, wh, run_id="c1", **kw)
    out = p1.run(docs_df, input_token="t1")
    assert p1.skipped == ["gate", "candidates"]
    assert set(p1.ran) == {"verified_edges", "dup_map", "kept"}
    kept = sorted(r["doc_id"] for r in out["kept"].collect())

    # identical to the lazy composition's answer
    lazy = curate(docs_df, **kw)
    assert kept == sorted(r["doc_id"] for r in lazy["kept"].collect())
    lazy["unpersist"]()

    # second full rerun: everything skipped, same rows
    p2 = CurationPipeline(spark, wh, run_id="c2", **kw)
    out2 = p2.run(docs_df, input_token="t1")
    assert p2.skipped == list(CURATION_STAGES) and p2.ran == []
    assert kept == sorted(r["doc_id"] for r in out2["kept"].collect())

    # lineage: at least one row per executed stage
    lin = {r["stage"] for r in read_lineage(spark, wh).collect()}
    assert set(CURATION_STAGES) <= lin

    # param change invalidates: new fingerprints, stages rerun
    p3 = CurationPipeline(
        spark, wh, run_id="c3", target_langs=("en",), min_quality=0.3,
        near_dup_jaccard=0.99,
    )
    p3.run(docs_df, input_token="t1", stop_after="gate")
    # the param token is part of EVERY stage fingerprint, so even the
    # gate recomputes under changed params instead of serving a
    # snapshot built for different settings
    assert p3.ran == ["gate"]


def test_curation_lineage_equals_snapshot(spark, docs_df, tmp_path):
    from cpg_spark.lineage import read_lineage
    from cpg_spark.plans.curation import CURATION_STAGES, CurationPipeline

    wh = str(tmp_path / "wh")
    pipe = CurationPipeline(spark, wh, run_id="sum", target_langs=("en",), min_quality=0.3)
    pipe.run(docs_df, input_token="t-sum")
    lin = read_lineage(spark, wh).collect()
    for stage in CURATION_STAGES:
        got = sum(r["rows_out"] for r in lin if r["stage"] == stage)
        assert got == pipe.catalog.read(spark, stage).count(), stage


def test_curate_c4_gate_and_exact_substring_stages(spark):
    """The r6 opt-in stages compose: a page failing the C4 battery is
    gate-dropped; a duplicated >=L-token passage shared by two kept
    docs survives only at its corpus-first occurrence with the token
    loss audited in es_removed_tokens; defaults-off output is
    unchanged from the 5-stage plan."""
    from cpg_spark.plans.curation import curate

    good = (
        "this is a perfectly normal first sentence with many words. "
        "here is a second sentence that also reads fine. "
        "and a third sentence closes the paragraph."
    )
    passage = " ".join(f"boiler{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, good + " " + passage + ".", "en"),
            (2, "totally different page content here. " + passage
             + " more words trail afterwards. third sentence here.", "en"),
            (3, "function f() { return 1; } " + good, "en"),  # brace kill
            (4, good, "en"),
        ],
        "doc_id long, text string, lang string",
    )
    res = curate(docs, c4_gate=True, exact_substring=10, cache=False)
    kept = {r["doc_id"]: r for r in res["kept"].collect()}
    dropped = {r["doc_id"]: r["drop_reason"] for r in res["dropped"].collect()}
    assert dropped.get(3) == "gate"
    assert 1 in kept and 2 in kept
    # the 12-token passage is first in doc 1 -> doc 2 loses it
    assert kept[1]["es_removed_tokens"] == 0
    assert kept[2]["es_removed_tokens"] == 12
    assert "boiler0" in kept[1]["text"] and "boiler0" not in kept[2]["text"]
    # defaults off: schema has no es column and doc 3 survives
    base = curate(docs, cache=False)
    assert "es_removed_tokens" not in base["kept"].columns
    assert 3 in {r["doc_id"] for r in base["kept"].collect()}
