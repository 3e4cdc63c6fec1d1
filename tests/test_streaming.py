"""Structured-Streaming tests: streaming KG ingest merged into a graph
snapshot (foreachBatch), golden against the batch chain, and the
snapshot sink's replay and retention contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cpg_spark.streaming import pipeline as sp


def test_ingest_graph_stream_matches_batch(spark, tmp_path, pages_df, alias_df):
    """Streaming KG construction golden: pages arrive as TWO file
    micro-batches, each batch's triples merge into the persistent
    snapshot — and because merge(agg A, agg B) == agg(A u B) exactly,
    the final streamed graph equals the batch-at-once graph
    row-for-row. Also exercises the idempotent pointer commit: a
    replayed batch_id must not double-merge."""
    from cpg_spark.operators import canonicalize, extract, link, materialize

    d = str(tmp_path / "pages_ig")
    half_a = pages_df.filter(F.xxhash64("url") % 2 == 0)
    half_b = pages_df.filter(F.xxhash64("url") % 2 != 0)
    half_a.coalesce(1).write.mode("overwrite").parquet(d)
    half_b.coalesce(1).write.mode("append").parquet(d)

    gdir = str(tmp_path / "graph_ig")
    q = sp.ingest_graph_stream(
        spark, d, alias_df, gdir,
        str(tmp_path / "ck_ig"), max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    streamed = sp.read_current_graph(spark, gdir)

    sent = extract.sentences(pages_df)
    ment = extract.mentions(sent)
    links = link.link_mentions(ment, alias_df)
    comps = canonicalize.canonical_map(alias_df)
    clinks = materialize.canonical_links(links, comps)
    batch = materialize.triples_agg(
        materialize.triples_from_links(clinks, comps)
    )

    key = lambda r: (r["subj"], r["pred"], r["obj"], r["n_evidence"])  # noqa: E731
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))

    # the stream really ran as more than one micro-batch
    import json, os
    with open(os.path.join(gdir, "CURRENT")) as f:
        cur = json.load(f)
    assert cur["batch_id"] >= 1

    # idempotency: replaying an already-committed batch id is a no-op
    before = sorted(map(key, streamed.collect()))
    # a second AvailableNow run over the same checkpoint sees no new
    # files and must leave the snapshot untouched
    q2 = sp.ingest_graph_stream(
        spark, d, alias_df, gdir, str(tmp_path / "ck_ig"),
        max_files_per_trigger=1, query_name="kg_ingest2",
    )
    q2.awaitTermination(120)
    after = sorted(map(key, sp.read_current_graph(spark, gdir).collect()))
    assert after == before


def test_ingest_checkpoint_reset_raises(spark, tmp_path, pages_df, alias_df):
    """Never-silent contract for the snapshot pointer: if the streaming
    checkpoint is deleted or relocated while graph_dir/CURRENT survives,
    batch ids restart at 0 and the old replay guard would silently drop
    every new batch. Both reset signatures must raise, not skip."""
    import json
    import os
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    d = str(tmp_path / "pages_cr")
    pages_df.coalesce(1).write.mode("overwrite").parquet(d)
    gdir = str(tmp_path / "graph_cr")
    ck1 = str(tmp_path / "ck_cr1")
    q = sp.ingest_graph_stream(spark, d, alias_df, gdir, ck1)
    q.awaitTermination(180)
    with open(os.path.join(gdir, "CURRENT")) as f:
        cur = json.load(f)
    assert cur["checkpoint_dir"] == os.path.abspath(ck1)

    # append one more file so a fresh checkpoint has a batch to deliver
    pages_df.limit(3).coalesce(1).write.mode("append").parquet(d)

    # relocated checkpoint: different dir -> pointer mismatch -> loud failure
    q2 = sp.ingest_graph_stream(
        spark, d, alias_df, gdir, str(tmp_path / "ck_cr2"),
        query_name="kg_ingest_reset",
    )
    with pytest.raises(StreamingQueryException, match="checkpoint"):
        q2.awaitTermination(120)
        raise AssertionError("relocated checkpoint must fail the stream")

    # deleted-in-place checkpoint: same dir, batch ids restart at 0
    # below the committed id -> loud failure (not a silent skip)
    shutil.rmtree(ck1)
    committed = dict(cur, checkpoint_dir=os.path.abspath(ck1), batch_id=5)
    with open(os.path.join(gdir, "CURRENT"), "w") as f:
        json.dump(committed, f)
    q3 = sp.ingest_graph_stream(
        spark, d, alias_df, gdir, ck1, query_name="kg_ingest_reset2",
    )
    with pytest.raises(StreamingQueryException, match="behind committed"):
        q3.awaitTermination(120)
        raise AssertionError("reset-in-place checkpoint must fail the stream")


def test_ingest_snapshot_retention(spark, tmp_path, pages_df, alias_df):
    """Superseded v* snapshot dirs are pruned after each commit; the
    pointer target always survives."""
    import json
    import os
    import re

    d = str(tmp_path / "pages_rt")
    half_a = pages_df.filter(F.xxhash64("url") % 2 == 0)
    half_b = pages_df.filter(F.xxhash64("url") % 2 != 0)
    half_a.coalesce(1).write.mode("overwrite").parquet(d)
    half_b.coalesce(1).write.mode("append").parquet(d)

    gdir = str(tmp_path / "graph_rt")
    q = sp.ingest_graph_stream(
        spark, d, alias_df, gdir, str(tmp_path / "ck_rt"),
        max_files_per_trigger=1, retain_snapshots=1,
        query_name="kg_ingest_rt",
    )
    q.awaitTermination(180)
    with open(os.path.join(gdir, "CURRENT")) as f:
        cur = json.load(f)
    assert cur["batch_id"] >= 1  # really ran multiple batches
    vdirs = sorted(x for x in os.listdir(gdir) if re.fullmatch(r"v\d{6}", x))
    assert vdirs == [os.path.basename(cur["path"])]
    # the retained snapshot is the readable current graph
    assert sp.read_current_graph(spark, gdir).count() > 0
