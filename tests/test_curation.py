"""End-to-end curation pipeline over a planted corpus: gates drop what
they should, exact+near duplicates collapse to one canonical survivor."""

from __future__ import annotations

import pytest

from cpg_spark.operators import canonicalize, iterutil
from cpg_spark.plans.curation import CURATION_STAGES, CurationPipeline, curate, gate

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


@pytest.fixture(scope="module")
def staged_run(spark, docs_df, tmp_path_factory):
    """(warehouse, pipeline) of one full staged run into a fresh warehouse."""
    wh = str(tmp_path_factory.mktemp("wh"))
    pipe = CurationPipeline(spark, wh, run_id="sum", target_langs=("en",), min_quality=0.3)
    pipe.run(docs_df, input_token="tok-pin")
    assert pipe.ran == list(CURATION_STAGES)
    return wh, pipe


def test_curation_lineage_equals_snapshot(spark, staged_run):
    from cpg_spark.lineage import read_lineage

    wh, pipe = staged_run
    lin = read_lineage(spark, wh).collect()
    for stage in CURATION_STAGES:
        got = sum(r["rows_out"] for r in lin if r["stage"] == stage)
        assert got == pipe.catalog.read(spark, stage).count(), stage


def test_curation_fingerprints_are_pinned(staged_run):
    """Committed warehouses resume only while the fingerprint formula
    stays the same, so its output is pinned here."""
    _, pipe = staged_run
    fp = {s: pipe.catalog.current_manifest(s)["fingerprint"] for s in ("gate", "kept")}
    assert fp == {
        "gate": "f1da4d84d229081a53cb22ee956ede17fc3fd0ca",
        "kept": "f9c1694deaf0ba6daa39d76f0a762107f8342130",
    }


def test_curation_stop_after_returns_the_stages_up_to_it(spark, docs_df, staged_run):
    wh, _ = staged_run
    kw = dict(target_langs=("en",), min_quality=0.3)
    for i, stop in enumerate(CURATION_STAGES):
        pipe = CurationPipeline(spark, wh, run_id="stop", **kw)
        out = pipe.run(docs_df, input_token="tok-pin", stop_after=stop)
        assert list(out) == list(CURATION_STAGES[: i + 1]) == pipe.skipped, stop
        assert pipe.ran == [], stop
    with pytest.raises(ValueError, match="verified_edges"):
        CurationPipeline(spark, wh, **kw).run(docs_df, input_token="tok-pin", stop_after="edges")


def test_curation_stages_take_no_hidden_action(
    spark, docs_df, tmp_path, executions_by_description
):
    """No curation stage build leaves a persisted RDD (no operator takes
    a local checkpoint while its plan is built), and verified_edges
    commits in one SQL execution, its snapshot write. Stages run on
    their own threads, so each runs under its own job group and its
    executions are the ones started under that group's description."""
    sc = spark.sparkContext
    docs_df.count()  # fill the fixture's own cache first
    pipe = CurationPipeline(
        spark, str(tmp_path), run_id="acts", target_langs=("en",), min_quality=0.3,
        near_dup_jaccard=0.5,
    )
    stage, tag = pipe._stage, tmp_path.name
    added: dict[str, set] = {}

    def watched(name, fingerprint, compute, input_split):
        def built():
            before = iterutil.persisted_ids(sc)
            df = compute()
            added[name] = iterutil.persisted_ids(sc) - before
            return df

        sc.setJobGroup(f"{tag}.{name}", f"{tag}.{name}")
        try:
            return stage(name, fingerprint, built, input_split)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    pipe._stage = watched
    out = pipe.run(docs_df, input_token="tok-acts")
    assert added == {s: set() for s in CURATION_STAGES}
    assert executions_by_description().get(f"{tag}.verified_edges") == 1
    assert sorted(r["doc_id"] for r in out["kept"].collect()) == [0, 3]


def test_connected_components_driver_path_is_one_action(spark, last_execution_id):
    """At or under the threshold the edge rows come back in one bounded
    collect and are solved on the driver; a repeated edge counts toward
    the threshold but changes no component."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 3), (7, 8), (9, 9)], "a long, b long"
    )
    x0 = last_execution_id()
    cc = canonicalize.connected_components(edges, src="a", dst="b", driver_threshold=4)
    assert last_execution_id() - x0 == 1
    assert {tuple(r) for r in cc.collect()} == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}


def test_connected_components_threshold_zero_takes_no_collect(spark, monkeypatch):
    """driver_threshold=0 always runs the distributed star loop, even on
    an empty edge set: nothing is collected to the driver."""
    DataFrame = type(spark.range(1))  # the session's DataFrame class
    collects = []
    collect = DataFrame.collect

    def spy(self):
        collects.append(self)
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    out = [
        canonicalize.connected_components(
            spark.createDataFrame(rows, "src long, dst long"), driver_threshold=0
        )
        for rows in ([(1, 2), (2, 3), (5, 4)], [])
    ]
    assert collects == []
    monkeypatch.undo()
    assert [{tuple(r) for r in df.collect()} for df in out] == [
        {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)},
        set(),
    ]


@pytest.mark.parametrize("target_langs,min_quality", [(None, 0.0), (("en",), 0.3)])
def test_gate_equals_its_operators(spark, tmp_path, target_langs, min_quality):
    """The gate equals the gate built from the quality_score and lang_id
    operators joined back on doc_id, on rows with empty and NULL text
    too: the same schema (nullability included) before the commit, and
    the same columns and rows in the committed snapshot, which reads
    every column back as nullable."""
    from pyspark.sql import functions as F

    from cpg_spark.operators import textstats

    docs = spark.createDataFrame(
        DOCS + [(6, "", "en"), (7, None, "en")], "doc_id long, text string, lang string"
    )
    pipe = CurationPipeline(
        spark, str(tmp_path), target_langs=target_langs, min_quality=min_quality
    )
    got = pipe.run(docs, input_token="t-gate", stop_after="gate")["gate"]

    q = textstats.quality_score(docs).select("doc_id", "quality")
    lid = textstats.lang_id(docs).select("doc_id", "pred_lang")
    gate_fail = F.lit(False)
    if target_langs is not None:
        gate_fail = gate_fail | ~F.col("pred_lang").isin(list(target_langs))
    gate_fail = gate_fail | (F.coalesce(F.col("quality"), F.lit(0.0)) < min_quality)
    ref = (
        docs.join(q, "doc_id", "left")
        .join(lid, "doc_id", "left")
        .withColumn("gated", gate_fail)
    )
    assert gate(docs, target_langs, min_quality).schema == ref.schema
    assert got.dtypes == ref.dtypes
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    assert got.count() == len(DOCS) + 2


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
    res = curate(docs, c4_gate=True, exact_substring=10)
    kept = {r["doc_id"]: r for r in res["kept"].collect()}
    dropped = {r["doc_id"]: r["drop_reason"] for r in res["dropped"].collect()}
    res["unpersist"]()
    assert dropped.get(3) == "gate"
    assert 1 in kept and 2 in kept
    # the 12-token passage is first in doc 1 -> doc 2 loses it
    assert kept[1]["es_removed_tokens"] == 0
    assert kept[2]["es_removed_tokens"] == 12
    assert "boiler0" in kept[1]["text"] and "boiler0" not in kept[2]["text"]
    # defaults off: schema has no es column and doc 3 survives
    base = curate(docs)
    assert "es_removed_tokens" not in base["kept"].columns
    assert 3 in {r["doc_id"] for r in base["kept"].collect()}
    base["unpersist"]()
