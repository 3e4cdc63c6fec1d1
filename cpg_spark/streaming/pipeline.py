"""Structured-Streaming variant of the KG pipeline for incremental
crawls: new page files land in a directory (the Iceberg-append analog),
and each micro-batch runs the batch chain and merges its triple
aggregate into a persistent graph snapshot.

The reference is batch-only (SURVEY.md §2.8); this module is the
incremental-ingest extension a production crawl pipeline needs. The
stages reuse the BATCH operators verbatim — Structured Streaming
executes the same declarative plan per micro-batch, which is the payoff
of never writing RDD/per-row code in the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema import PAGES


def read_page_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(pages_dir)


class SnapshotMergeSink:
    """The exactly-once snapshot-commit protocol of the foreachBatch
    ingest sink (ingest_graph_stream): each commit writes the merged
    frame to out_dir/v{batch_id} and atomically renames a pointer
    recording {batch_id, path, checkpoint_dir}.

    guard(batch_id) returns the committed pointer dict (or None for a
    fresh dir), returns the string "skip" for a crash-replay of the
    already-committed batch, and RAISES — never silently drops — when
    batch_id is behind the committed one or the pointer was committed
    under a different checkpoint (both mean the streaming checkpoint
    was deleted/reset while the output dir survived; batch ids restart
    at 0 and every new batch would otherwise be dropped).

    commit(df, batch_id) writes, flips the pointer, and prunes
    superseded v* dirs keeping the newest retain_snapshots (>=1; the
    pointer target is always retained)."""

    def __init__(
        self, out_dir: str, checkpoint_dir: str, retain_snapshots: int = 2
    ):
        import os as _os

        self.out_dir = out_dir
        self.ck_abs = _os.path.abspath(checkpoint_dir)
        self.retain = max(1, retain_snapshots)
        self.pointer = _os.path.join(out_dir, "CURRENT")
        _os.makedirs(out_dir, exist_ok=True)

    def read_pointer(self):
        import json as _json
        import os as _os

        if not _os.path.exists(self.pointer):
            return None
        with open(self.pointer) as f:
            return _json.load(f)

    def guard(self, batch_id: int):
        cur = self.read_pointer()
        if cur is None:
            return None
        committed_ck = cur.get("checkpoint_dir")
        if committed_ck is not None and committed_ck != self.ck_abs:
            raise RuntimeError(
                f"snapshot dir {self.out_dir!r} was committed under "
                f"checkpoint {committed_ck!r} but this stream runs under "
                f"{self.ck_abs!r}: a reset/relocated checkpoint restarts "
                "batch ids at 0 and would silently drop or double-merge "
                "batches. Remove the output dir (or point at a fresh one) "
                "to re-ingest."
            )
        if batch_id == cur["batch_id"]:
            return "skip"  # crash-replay of the committed batch
        if batch_id < cur["batch_id"]:
            raise RuntimeError(
                f"batch_id {batch_id} is behind committed "
                f"{cur['batch_id']} in {self.pointer!r}: Structured "
                "Streaming only replays the single most recent batch, so "
                "the checkpoint was deleted/reset while the pointer "
                "survived. Refusing to silently drop batches."
            )
        return cur

    def commit(self, df: DataFrame, batch_id: int) -> None:
        import json as _json
        import os as _os
        import re as _re
        import shutil as _shutil

        vdir = _os.path.join(self.out_dir, f"v{batch_id:06d}")
        df.write.mode("overwrite").parquet(vdir)
        tmp = self.pointer + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "batch_id": batch_id,
                    "path": vdir,
                    "checkpoint_dir": self.ck_abs,
                },
                f,
            )
        _os.replace(tmp, self.pointer)  # atomic on POSIX
        # match any v<digits> and order NUMERICALLY: past batch_id
        # 999999 the names grow to 7 digits, where a lexicographic sort
        # breaks retention order and a 6-digit-only pattern never prunes
        # (r6 ADVICE finding)
        vdirs = sorted(
            (
                d
                for d in _os.listdir(self.out_dir)
                if _re.fullmatch(r"v\d+", d)
            ),
            key=lambda name: int(name[1:]),
        )
        for stale in vdirs[: -self.retain]:
            _shutil.rmtree(
                _os.path.join(self.out_dir, stale), ignore_errors=True
            )


def ingest_graph_stream(
    spark: SparkSession,
    pages_dir: str,
    alias_dict: DataFrame,
    graph_dir: str,
    checkpoint_dir: str,
    query_name: str = "kg_ingest",
    max_files_per_trigger: int | None = None,
    retain_snapshots: int = 2,
):
    """Streaming KG CONSTRUCTION — the full batch chain (sentences →
    mentions → link → canonicalize → triple agg) run per micro-batch
    and MERGED into a persistent graph snapshot via foreachBatch +
    merge_triples_agg. Because merge(agg A, agg B) ≡ agg(A ∪ B)
    exactly (the golden-tested incremental-merge property), the final
    streamed graph is bit-identical to the batch-at-once graph over the
    same pages — golden-tested in tests/test_streaming.py.

    Exactly-once across micro-batch RETRIES: each commit writes the
    merged snapshot to graph_dir/v{batch_id} and then atomically
    renames a pointer file recording {batch_id, path, checkpoint_dir};
    a replayed batch_id EQUAL to the committed one is skipped, so a
    crash between the snapshot write and Spark's checkpoint advance
    cannot double-merge (the KgPipeline snapshot-commit protocol
    applied to streaming). The 'current graph' a reader sees is
    whatever the pointer names — always one complete, consistent
    snapshot.

    Never-silent replay contract: Structured Streaming only ever
    re-delivers the single most recent unacknowledged batch, so a
    batch_id STRICTLY BELOW the committed one — or a pointer recorded
    under a different checkpoint_dir — means the checkpoint was
    deleted/reset while graph_dir/CURRENT survived (batch ids restart
    at 0 and every new batch would be silently dropped). Both raise
    RuntimeError instead of skipping; recover by removing graph_dir or
    pointing at a fresh one.

    Retention: superseded v{batch_id} snapshot dirs are pruned after
    each commit, keeping the newest `retain_snapshots` (≥1; the
    pointer target is always retained).

    Per-page atomicity: a page's sentences never split across batches
    (file-sourced micro-batches are whole files), so co-occurrence
    evidence is batch-local and the merge's sum rule is exact.
    Returns the started StreamingQuery (AvailableNow trigger)."""
    from ..operators import canonicalize, extract, link, materialize

    comps = canonicalize.canonical_map(alias_dict)
    sink = SnapshotMergeSink(graph_dir, checkpoint_dir, retain_snapshots)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cur = sink.guard(batch_id)
        if cur == "skip":
            return  # crash-replay of the committed batch — never double-merge
        sent = extract.sentences(batch_df)
        ment = extract.mentions(sent)
        links = link.link_mentions(ment, alias_dict)
        clinks = materialize.canonical_links(links, comps)
        agg = materialize.triples_agg(
            materialize.triples_from_links(clinks, comps)
        )
        if cur is not None:
            existing = batch_df.sparkSession.read.parquet(cur["path"])
            agg = materialize.merge_triples_agg(existing, agg)
        sink.commit(agg, batch_id)

    stream = read_page_stream(spark, pages_dir, max_files_per_trigger)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )


def read_current_graph(spark: SparkSession, graph_dir: str) -> DataFrame:
    """The snapshot the ingest stream last committed (pointer-followed)."""
    import json as _json
    import os as _os

    with open(_os.path.join(graph_dir, "CURRENT")) as f:
        return spark.read.parquet(_json.load(f)["path"])
