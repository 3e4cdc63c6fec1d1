"""End-to-end pipeline tests: exact golden-triple match (P/R = 1.0 on the
smoke corpus, gate is >= 0.95), snapshot resume without recompute, and
lineage rows — the north_rule requirements."""

import json
import os
import sys
import tempfile
import threading
from functools import partial

import pytest

from cpg_spark.lineage import append_lineage, read_lineage
from cpg_spark.operators import canonicalize, iterutil
from cpg_spark.plans.pipeline import STAGES, KgPipeline, StagedPipeline


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
    pipe.run(pages_df, alias_df, input_token="tok-pin")
    assert pipe.ran == list(STAGES)
    return wh, pipe


def test_fingerprints_are_pinned(full_run):
    """Committed warehouses resume only while the fingerprint formula
    stays the same, so its output is pinned here."""
    _, pipe = full_run
    fp = {s: pipe.catalog.current_manifest(s)["fingerprint"] for s in ("sentences", "nodes")}
    assert fp == {
        "sentences": "bc98e7d98e242b25c547d2adc9be22b54d47ff1c",
        "nodes": "97ca722755bdbb8e9afdab3a71461a4a6853d856",
    }


def test_stop_after_returns_the_stages_up_to_it(spark, pages_df, alias_df, full_run):
    wh, _ = full_run
    for i, stop in enumerate(STAGES):
        pipe = KgPipeline(spark, wh, run_id="stop")
        out = pipe.run(pages_df, alias_df, input_token="tok-pin", stop_after=stop)
        assert list(out) == list(STAGES[: i + 1]) == pipe.skipped and pipe.ran == [], stop
    with pytest.raises(ValueError, match="triples_agg"):
        KgPipeline(spark, wh).run(pages_df, alias_df, input_token="tok-pin", stop_after="edges")


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
    spark, pages_df, alias_df, executions_by_description
):
    """Committing a map stage runs one SQL execution (the snapshot
    write), and a stage commit keeps no blocks: a stage's build persists
    only blocks its own frame reads (the local checkpoints an operator
    takes while its plan is built), and those are released once the
    snapshot is written, so the run ends holding no block it persisted.
    Stages build and commit concurrently, so each stage runs under its
    own job group and its executions are the ones started under that
    group's description, and a build's checkpoints are read from its
    stage's own release scope."""
    sc = spark.sparkContext
    pages_df.count(), alias_df.count()  # fill the fixtures' own caches first
    wh = tempfile.mkdtemp(prefix="kgwh_")
    pipe = KgPipeline(spark, wh, run_id="ex")
    stage, tag = pipe._stage, os.path.basename(wh)
    unread: dict[str, set] = {}

    def watched(name, fingerprint, compute, input_split):
        def built():
            df = compute()
            unread[name] = iterutil._SCOPE.get().held - iterutil._reads([df])
            return df

        sc.setJobGroup(f"{tag}.{name}", f"{tag}.{name}")
        try:
            return stage(name, fingerprint, built, input_split)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    before = iterutil.persisted_ids(sc)
    pipe._stage = watched
    pipe.run(pages_df, alias_df, input_token="tok-ex")
    # the run ends holding no block it persisted; the set it started with
    # may have shrunk, as Spark's ContextCleaner can drop the blocks of
    # earlier tests' collected frames at any moment, while a commit
    # releases only what was persisted after its own snapshot
    assert iterutil.persisted_ids(sc) - before == set()
    assert unread == {s: set() for s in STAGES}
    assert executions_by_description().get(f"{tag}.sentences") == 1


def test_commit_release_keeps_what_frames_in_flight_read(
    spark, pages_df, alias_df, corpus, monkeypatch
):
    """A commit releases only what no frame still being written reads.
    With the driver thresholds at 0, `components` is solved by the CC
    star loop, so its frame reads the loop's local checkpoints. Its
    build starts once `sentences` is built and its write waits until
    `sentences` has committed, so `sentences`' commit release runs
    while `components` is in flight, after `components` took its
    checkpoints. The release must keep them: the run completes with
    the golden triples and ends holding no block it persisted."""
    cc = canonicalize.connected_components
    monkeypatch.setattr(canonicalize, "DRIVER_THRESHOLD", 0)
    monkeypatch.setattr(canonicalize, "connected_components", partial(cc, driver_threshold=0))
    sc = spark.sparkContext
    pages_df.count(), alias_df.count()  # fill the fixtures' own caches first
    pipe = KgPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="inflight")
    stage, write = pipe._stage, pipe.catalog.write
    built, committed = threading.Event(), threading.Event()
    held: list[set] = []

    def ordered(name, fingerprint, compute, input_split):
        if name == "components":
            assert built.wait(60), "sentences was not built"

        def build():
            df = compute()
            if name == "sentences":
                built.set()
            return df

        try:
            return stage(name, fingerprint, build, input_split)
        finally:
            if name == "sentences":
                committed.set()

    def held_write(df, name, *args, **kwargs):
        if name == "components":
            held.append(iterutil._reads([df]) & iterutil.persisted_ids(sc))
            assert committed.wait(60), "sentences did not commit"
        return write(df, name, *args, **kwargs)

    before = iterutil.persisted_ids(sc)
    pipe._stage, pipe.catalog.write = ordered, held_write
    out = pipe.run(pages_df, alias_df, input_token="tok-inflight")
    assert held and held[0]  # components was written over local checkpoints
    assert _triple_set(out["triples"]) == _golden_set(corpus)
    assert iterutil.persisted_ids(sc) - before == set()


def test_commit_does_not_wait_on_another_build(spark, pages_df, alias_df, corpus):
    """`components`' build is held until `sentences` has committed: a
    commit that waited on another stage's build would never come."""
    sc = spark.sparkContext
    pages_df.count(), alias_df.count()  # fill the fixtures' own caches first
    pipe = KgPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="nowait")
    stage = pipe._stage
    committed = threading.Event()

    def held(name, fingerprint, compute, input_split):
        def build():
            if name == "components":
                assert committed.wait(60), "sentences did not commit"
            return compute()

        out = stage(name, fingerprint, build, input_split)
        if name == "sentences":
            committed.set()
        return out

    before = iterutil.persisted_ids(sc)
    pipe._stage = held
    out = pipe.run(pages_df, alias_df, input_token="tok-nowait")
    assert _triple_set(out["triples"]) == _golden_set(corpus)
    assert iterutil.persisted_ids(sc) - before == set()


def test_independent_stages_overlap(spark, pages_df, alias_df, corpus):
    """`components` reads only the alias dictionary, so it commits while
    `sentences` waits for it; run one after another, the stages would
    never get past the wait."""
    pipe = KgPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="overlap")
    stage = pipe._stage
    components_done = threading.Event()

    def gated(name, *args):
        if name == "sentences":
            assert components_done.wait(60), "components did not commit first"
        out = stage(name, *args)
        if name == "components":
            components_done.set()
        return out

    pipe._stage = gated
    out = pipe.run(pages_df, alias_df, input_token="tok-overlap")
    assert pipe.ran == list(STAGES)
    assert _triple_set(out["triples"]) == _golden_set(corpus)


def test_failed_stage_raises_after_the_stages_in_flight(spark, pages_df, alias_df, corpus):
    """A failed build fails the stages downstream of it, but an
    independent stage still commits: `run` raises the error once every
    stage has finished, leaves no stage thread behind, and the rerun
    skips what committed."""
    wh = tempfile.mkdtemp(prefix="kgwh_")
    pipe = KgPipeline(spark, wh, run_id="fail")
    stage = pipe._stage

    def broken():
        raise RuntimeError("sentences build failed")

    def failing(name, fingerprint, compute, input_split):
        return stage(name, fingerprint, broken if name == "sentences" else compute, input_split)

    pipe._stage = failing
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="sentences build failed"):
        pipe.run(pages_df, alias_df, input_token="tok-fail")
    assert set(threading.enumerate()) <= threads
    assert pipe.ran == ["components"]

    rerun = KgPipeline(spark, wh, run_id="fail-rerun")
    out = rerun.run(pages_df, alias_df, input_token="tok-fail")
    assert rerun.skipped == ["components"]
    assert rerun.ran == [s for s in STAGES if s != "components"]
    assert _triple_set(out["triples"]) == _golden_set(corpus)


def test_failed_build_releases_its_checkpoints(spark):
    """A build that raises after taking a local checkpoint leaves no
    block behind."""
    sc = spark.sparkContext

    def broken(o):
        iterutil.ckpt(spark.range(10))
        raise RuntimeError("build failed")

    pipe = StagedPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="leak")
    before = iterutil.persisted_ids(sc)
    with pytest.raises(RuntimeError, match="build failed"):
        pipe._run((("a", (), broken),), ("tok-leak",), "tok-leak", None)
    assert iterutil.persisted_ids(sc) - before == set()


def test_build_reads_only_its_upstream(spark):
    """A build is handed the frames of its transitive upstream only, so
    reading another stage is a KeyError, not a race."""
    pipe = StagedPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="keys")
    dag = (
        ("a", (), lambda o: spark.range(3)),
        ("b", ("a",), lambda o: o["a"].selectExpr("id + 1 AS id")),
        ("c", ("b",), lambda o: o["a"].union(o["b"])),
        ("d", (), lambda o: o["a"]),
    )
    with pytest.raises(KeyError, match="'a'"):
        pipe._run(dag, ("tok-keys",), "tok-keys", None)
    assert pipe.ran == ["a", "b", "c"]


def test_many_concurrent_stages_keep_their_checkpoints(spark):
    """More concurrent stages than cores, with a short thread switch
    interval: half the builds take one local checkpoint of their own,
    half run a short bounded `fixpoint` that checkpoints every round.
    Every write must still find its checkpoint (a commit that released
    another stage's would fail that stage's write), each loop keeps only
    its last round and hands it to its own stage's scope, and the run
    ends holding no block it persisted."""
    sc = spark.sparkContext
    handed: dict[str, tuple] = {}

    def negate(state, _):
        return (state[0].selectExpr("-v AS v"),)

    def loop(df):
        # four rounds of negation give back the input rows
        return iterutil.fixpoint(negate, (df,), max_iter=4, what="negate")[0]

    def build(name, make, i):
        def run(o):
            df = make(spark.range(40).selectExpr(f"id * {i} AS v"))
            handed[name] = (set(iterutil._SCOPE.get().held), iterutil._reads([df]))
            return df.filter("v % 3 = 0")

        return run

    dag = tuple(
        (f"{kind}{i}", (), build(f"{kind}{i}", make, i))
        for kind, make in (("s", iterutil.ckpt), ("f", loop))
        for i in range(8)
    )
    pipe = StagedPipeline(spark, tempfile.mkdtemp(prefix="kgwh_"), run_id="stress")
    before = iterutil.persisted_ids(sc)
    out: dict = {}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        runner = threading.Thread(
            target=lambda: out.update(pipe._run(dag, ("tok-stress",), "tok-stress", None))
        )
        runner.start()
        runner.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not runner.is_alive()
    assert pipe.ran == [name for name, _, _ in dag]
    got = {name: sorted(r["v"] for r in df.collect()) for name, df in out.items()}
    assert got == {
        f"{kind}{i}": sorted(v * i for v in range(40) if v * i % 3 == 0)
        for kind in "sf"
        for i in range(8)
    }
    assert all(len(held) == 1 and held == reads for held, reads in handed.values()), handed
    assert iterutil.persisted_ids(sc) - before == set()


# Spark jobs per stage of a fresh run on the fixture corpus: the
# dictionary-sized stages are one action each (components: the
# alias-group collect and its map stage, then the write; links: the
# broadcast dictionary and the write; nodes: the broadcast map, one
# salted exchange, the entity merge and the write)
STAGE_JOBS = {
    "sentences": 1,
    "mentions": 1,
    "links": 2,
    "components": 3,
    "triples": 4,
    "triples_agg": 2,
    "nodes": 4,
}


def test_stage_job_budget(spark, pages_df, alias_df):
    """Each stage runs under its own job group, the way perfbench
    attributes a traced run's jobs, and stays within its job budget."""
    sc = spark.sparkContext
    pages_df.count(), alias_df.count()  # fill the fixtures' own caches first
    wh = tempfile.mkdtemp(prefix="kgwh_")
    pipe = KgPipeline(spark, wh, run_id="jobs")
    stage, tag = pipe._stage, os.path.basename(wh)

    def grouped(name, *args):
        sc.setJobGroup(f"{tag}.{name}", name)
        try:
            return stage(name, *args)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    pipe._stage = grouped
    pipe.run(pages_df, alias_df, input_token="tok-jobs")
    tracker = sc.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(f"{tag}.{s}")) for s in STAGES}
    assert all(jobs[s] <= STAGE_JOBS[s] for s in STAGES), jobs


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


def _nodes_reference(clinks, max_example_urls=5):
    """nodes_table as it used to be built: per-entity stats and a
    two-phase salted collect_set of the example urls, two aggregations
    joined on canon_id."""
    from pyspark.sql import functions as F

    stats = clinks.groupBy("canon_id").agg(
        F.first("entity_name").alias("name"),
        F.first("entity_type").alias("entity_type"),
        F.max(F.col("is_inferred").cast("int")).cast("boolean").alias("is_inferred"),
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.countDistinct("url").alias("n_pages"),
    )
    salted = clinks.select("canon_id", "url").withColumn(
        "__salt", F.pmod(F.xxhash64("canon_id", "url"), F.lit(16)).cast("int")
    )
    partial = salted.groupBy("canon_id", "__salt").agg(
        F.slice(F.sort_array(F.collect_set("url")), 1, max_example_urls).alias("__p")
    )
    examples = partial.groupBy("canon_id").agg(
        F.slice(
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("__p")))),
            1,
            max_example_urls,
        ).alias("example_urls")
    )
    return stats.join(examples, "canon_id", "left").select(
        F.col("canon_id").alias("id"),
        F.lit("entity").alias("kind"),
        "name",
        "entity_type",
        "is_inferred",
        "n_mentions",
        F.col("n_pages").cast("long").alias("n_pages"),
        "example_urls",
    )


def _hot_pages(spark, n_pages=200):
    """Pages that all mention one hot entity, beside one other entity."""
    from cpg_spark import synth
    from cpg_spark.schema import PAGES

    world = synth.build_world()
    rows = []
    for i in range(n_pages):
        other = world[1 + i % (len(world) - 1)].aliases[0]
        text = f"{world[0].aliases[0]} opened a depot. {other} was there."
        rows.append(
            {
                "url": f"https://hot.example.org/en/p{i:03d}",
                "warc_ts": None,
                "html": synth.page_html(text, "en", f"hot {i}"),
                "text": text,
                "lang": "en",
            }
        )
    return spark.createDataFrame(rows, PAGES)


@pytest.mark.parametrize("corpus_name", ["fixture", "hot"])
def test_nodes_table_equals_reference(spark, pages_df, alias_df, corpus_name):
    """nodes_table keeps the contract of the two-aggregation build: the
    same schema, nullability included, and the same rows on every column
    but `name`, which is a first() either way and must be the name of
    some mention of the entity."""
    from pyspark.sql import functions as F

    from cpg_spark.operators import canonicalize, extract, link, materialize

    pages = pages_df if corpus_name == "fixture" else _hot_pages(spark)
    links = link.link_mentions(extract.mentions(extract.sentences(pages)), alias_df)
    clinks = materialize.canonical_links(links, canonicalize.canonical_map(alias_df))
    got, ref = materialize.nodes_table(clinks), _nodes_reference(clinks)
    assert got.schema == ref.schema
    g, r = got.drop("name"), ref.drop("name")
    assert g.exceptAll(r).count() == 0 and r.exceptAll(g).count() == 0
    names = {
        row["canon_id"]: set(row["names"])
        for row in clinks.groupBy("canon_id")
        .agg(F.collect_set("entity_name").alias("names"))
        .collect()
    }
    rows = got.collect()
    assert len(rows) == len(names) > 1
    assert all(row["name"] in names[row["id"]] for row in rows)
    if corpus_name == "hot":
        assert max(row["n_pages"] for row in rows) == 200


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
