"""End-to-end pipeline tests: exact golden-triple match (P/R = 1.0 on the
smoke corpus, gate is >= 0.95), snapshot resume without recompute, and
lineage rows — the north_rule requirements."""

import json
import os
import tempfile

import pytest

from cpg_spark.lineage import append_lineage, read_lineage
from cpg_spark.plans.pipeline import STAGES, KgPipeline


def _triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
        for r in df.collect()
    }


def _golden_set(corpus):
    return {
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
        for r in corpus["golden_triples"]
    }


def test_end_to_end_triples_match_golden(spark, pages_df, alias_df, corpus):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    pipe = KgPipeline(spark, wh, run_id="t1")
    out = pipe.run(pages_df, alias_df, input_token="tok-e2e")
    got = _triple_set(out["triples"])
    exp = _golden_set(corpus)
    tp = len(got & exp)
    precision = tp / len(got)
    recall = tp / len(exp)
    assert precision >= 0.95 and recall >= 0.95
    assert got == exp  # exact on the smoke corpus


def test_resume_skips_committed_stages(spark, pages_df, alias_df, corpus):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    p1 = KgPipeline(spark, wh, run_id="r1")
    p1.run(pages_df, alias_df, input_token="tok-resume", stop_after="links")
    assert p1.ran == ["sentences", "mentions", "links"]

    p2 = KgPipeline(spark, wh, run_id="r2")
    out = p2.run(pages_df, alias_df, input_token="tok-resume")
    assert p2.skipped == ["sentences", "mentions", "links"]
    assert "sentences" not in p2.ran
    assert _triple_set(out["triples"]) == _golden_set(corpus)

    # third run: everything skipped, nothing recomputed
    p3 = KgPipeline(spark, wh, run_id="r3")
    p3.run(pages_df, alias_df, input_token="tok-resume")
    assert p3.ran == []
    assert set(p3.skipped) == {
        "sentences", "mentions", "links", "components", "triples",
        "triples_agg", "nodes",
    }


def test_changed_input_invalidates_snapshots(spark, pages_df, alias_df):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    KgPipeline(spark, wh, run_id="a").run(
        pages_df, alias_df, input_token="tok-A", stop_after="sentences"
    )
    p = KgPipeline(spark, wh, run_id="b")
    p.run(pages_df, alias_df, input_token="tok-B", stop_after="sentences")
    assert p.ran == ["sentences"]  # different input -> recompute


def test_lineage_rows_written(spark, pages_df, alias_df):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    KgPipeline(spark, wh, run_id="lin").run(
        pages_df, alias_df, input_token="tok-lin", stop_after="mentions"
    )
    lin = read_lineage(spark, wh)
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"sentences", "mentions"}
    row = lin.filter("stage = 'sentences'").first()
    assert row["run_id"] == "lin"
    assert row["rows_out"] is not None and row["wall_ms"] is not None
    assert row["snapshot_id"] == 1


@pytest.fixture(scope="module")
def full_run(spark, pages_df, alias_df):
    """(warehouse, pipeline) of one full run into a fresh warehouse."""
    wh = tempfile.mkdtemp(prefix="kgwh_")
    pipe = KgPipeline(spark, wh, run_id="full")
    pipe.run(pages_df, alias_df, input_token="tok-full")
    assert pipe.ran == list(STAGES)
    return wh, pipe


def test_lineage_equals_snapshot(spark, full_run):
    wh, pipe = full_run
    lin = read_lineage(spark, wh).filter("run_id = 'full'").collect()
    for stage in STAGES:
        rows = [(r["partition_id"], r["rows_out"]) for r in lin if r["stage"] == stage]
        pids = [pid for pid, _ in rows]
        assert len(pids) == len(set(pids)), stage
        assert sum(n for _, n in rows) == pipe.catalog.read(spark, stage).count(), stage


def test_empty_stage_lineage_is_one_zero_row(spark, pages_df):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    pipe = KgPipeline(spark, wh, run_id="empty")
    out = pipe._stage("nothing", "fp-empty", lambda: pages_df.limit(0), "tok-empty")
    assert out.count() == 0
    rows = [(r["partition_id"], r["rows_out"]) for r in read_lineage(spark, wh).collect()]
    assert rows == [(0, 0)]


def test_stage_commit_is_one_execution_and_keeps_no_blocks(
    spark, pages_df, alias_df, last_execution_id
):
    """Committing a map stage runs one SQL execution (the snapshot
    write), and a stage commit persists no blocks: none are added
    between building the stage's plan and its write, nor left after the
    commit. Blocks an operator pins while its plan is built (the
    connected-components edge checkpoint) are the operator's, so they
    are the baseline the commit must leave as it found."""
    sc = spark.sparkContext

    def persisted():
        return set(sc._jsc.getPersistentRDDs().keySet())

    pages_df.count(), alias_df.count()  # fill the fixtures' own caches first
    pipe = KgPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="ex")
    stage, write = pipe._stage, pipe.catalog.write
    seen: dict[str, list] = {}
    executions = {}

    def watched_write(df, name, *args, **kwargs):
        seen[name].append(persisted())
        return write(df, name, *args, **kwargs)

    def watched(name, fingerprint, compute, input_split):
        def built():
            df = compute()
            seen[name] = [persisted()]
            return df

        x0 = last_execution_id()
        out = stage(name, fingerprint, built, input_split)
        seen[name].append(persisted())
        executions[name] = last_execution_id() - x0
        return out

    pipe._stage, pipe.catalog.write = watched, watched_write
    pipe.run(pages_df, alias_df, input_token="tok-ex")
    assert list(seen) == list(STAGES)
    for name, (built, at_write, committed) in seen.items():
        assert at_write == built and committed == built, name
    assert executions["sentences"] == 1


def test_manifest_schema_matches_inferred(spark, full_run):
    wh, pipe = full_run
    for stage in STAGES:
        path = pipe.catalog.current_manifest(stage)["path"]
        assert pipe.catalog.read(spark, stage).schema == spark.read.parquet(path).schema, stage

    # a manifest committed before manifests carried the schema still reads
    m = pipe.catalog.current_manifest("nodes")
    expected = sorted(tuple(r) for r in pipe.catalog.read(spark, "nodes").select("id", "n_mentions").collect())
    del m["schema"]
    with open(os.path.join(wh, "nodes", f"snap-{m['snapshot_id']}.json"), "w") as f:
        json.dump(m, f)
    old = pipe.catalog.read(spark, "nodes")
    assert old.schema == spark.read.parquet(m["path"]).schema
    assert sorted(tuple(r) for r in old.select("id", "n_mentions").collect()) == expected


def test_torn_lineage_write_is_invisible(spark):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    for stage, parts in (("a", [(0, 3), (2, 4)]), ("b", [])):
        append_lineage(spark, wh, "torn", stage, "tok", None, parts, 7, 1)
    tdir = os.path.join(wh, "_lineage")
    with open(os.path.join(tdir, ".part-killed.zstd.parquet"), "wb") as f:
        f.write(b"PAR1 not a parquet file")
    files = [n for n in os.listdir(tdir) if not n.startswith(".")]
    assert len(files) == 2
    rows = sorted(
        (r["stage"], r["partition_id"], r["rows_out"]) for r in read_lineage(spark, wh).collect()
    )
    assert rows == [("a", 0, 3), ("a", 2, 4), ("b", 0, 0)]


def test_nodes_table_shape(spark, pages_df, alias_df):
    wh = tempfile.mkdtemp(prefix="kgwh_")
    out = KgPipeline(spark, wh, run_id="n").run(
        pages_df, alias_df, input_token="tok-nodes"
    )
    nodes = out["nodes"].collect()
    assert len(nodes) > 0
    for r in nodes:
        assert r["id"] and r["kind"] == "entity"
        assert r["n_mentions"] >= r["n_pages"] >= 1
        assert r["example_urls"] is not None and len(r["example_urls"]) <= 5


def test_incremental_merge_equals_full_recompute(spark, pages_df, alias_df):
    """Incremental crawl semantics: splitting the corpus into two
    url-disjoint batches, aggregating each, and MERGING must equal the
    full recompute exactly — triples (evidence counts summed) and nodes
    (mention/page counts summed, example urls re-capped). Content-hash
    ids make this an equality, not an approximation."""
    from pyspark.sql import functions as F

    from cpg_spark.operators import canonicalize, extract, link, materialize

    comps = canonicalize.canonical_map(alias_df)

    def chain(pages):
        ment = extract.mentions(extract.sentences(pages))
        links = link.link_mentions(ment, alias_df)
        clinks = materialize.canonical_links(links, comps)
        return (
            materialize.triples_agg(
                materialize.triples_from_links(clinks, comps)
            ),
            materialize.nodes_table(clinks),
        )

    full_triples, full_nodes = chain(pages_df)
    half_a = pages_df.filter(F.crc32(F.col("url")) % 2 == 0)
    half_b = pages_df.filter(F.crc32(F.col("url")) % 2 == 1)
    ta, na = chain(half_a)
    tb, nb = chain(half_b)

    merged_triples = materialize.merge_triples_agg(ta, tb)
    got_t = {tuple(r) for r in merged_triples.collect()}
    exp_t = {tuple(r) for r in full_triples.collect()}
    assert got_t == exp_t and len(exp_t) > 0

    # structural predicates (typed_as, linked_to) are re-derived by every
    # batch with n_evidence=1; merge takes max for them (confirmation,
    # not new evidence) and sum for observation-backed predicates —
    # without the split the structural counts would double
    merged_nodes = materialize.merge_nodes(na, nb)
    got_n = {
        (r["id"], r["n_mentions"], r["n_pages"], tuple(r["example_urls"] or ()))
        for r in merged_nodes.collect()
    }
    exp_n = {
        (r["id"], r["n_mentions"], r["n_pages"], tuple(r["example_urls"] or ()))
        for r in full_nodes.collect()
    }
    assert got_n == exp_n
