"""The end-to-end KG-construction pipeline as a resumable stage DAG.

Stage order (the reference's topologically-ordered pass list,
TranslationConfiguration.kt:663-704, made explicit):

    pages -> sentences -> mentions -> links          (map-heavy)
          -> components (from alias dict)            (shuffle-heavy CC)
          -> triples -> triples_agg / nodes          (salted materialize)

Explicit repartitioning sits between the map-heavy extract phase and the
shuffle-heavy canonicalize/merge phase (north_rule requirement): extract
runs partitioned by url hash; linking is a broadcast join (no shuffle);
the first real shuffle is the per-sentence groupBy in triples, sized by
`shuffle_partitions`.

Every stage commits a snapshot keyed by a fingerprint of
(input token, stage code version, upstream fingerprint); a rerun skips
every stage whose fingerprint is already committed — kill the job at any
barrier and the next run resumes from the last committed snapshot.
"""

from __future__ import annotations

import hashlib
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from ..catalog import SnapshotCatalog
from ..lineage import StageTimer, append_lineage, partition_counts
from ..operators import canonicalize, extract, iterutil, link, materialize
from ..synth import TARGET_LANGS

# bump when stage semantics change — invalidates committed snapshots
PIPELINE_VERSION = "1"

STAGES = ("sentences", "mentions", "links", "components", "triples", "triples_agg", "nodes")


class StagedPipeline:
    """A DAG of resumable snapshot stages. Each stage commits one
    snapshot and appends its per-partition lineage rows; a stage whose
    fingerprint is already committed is read back instead of rerun."""

    def __init__(self, spark: SparkSession, warehouse: str, run_id: str):
        self.spark = spark
        self.catalog = SnapshotCatalog(warehouse)
        self.warehouse = warehouse
        self.run_id = run_id
        self.skipped: list[str] = []
        self.ran: list[str] = []

    def _run(
        self, dag: tuple, tokens: tuple[str, ...], input_token: str, stop_after: str | None
    ) -> dict[str, DataFrame]:
        """Run (or resume) ``dag``: ``(name, upstream, build)`` entries in
        topological order. A stage's fingerprint chains ``tokens``, its
        name and its upstream stages' fingerprints; ``build(out)`` gets
        the committed frames of the stages before it. Returns
        {stage: DataFrame} for every stage up to ``stop_after``."""
        names = [name for name, _, _ in dag]
        if stop_after is not None and stop_after not in names:
            raise ValueError(f"stop_after={stop_after!r} is not a stage; stages: {names}")
        fps: dict[str, str] = {}
        out: dict[str, DataFrame] = {}
        for name, upstream, build in dag:
            parts = (*tokens, name, *(fps[u] for u in upstream))
            fps[name] = hashlib.sha1("\x00".join(parts).encode()).hexdigest()
            out[name] = self._stage(name, fps[name], partial(build, out), input_token)
            if name == stop_after:
                break
        return out

    def _stage(
        self,
        name: str,
        fingerprint: str,
        compute,
        input_split: str,
    ) -> DataFrame:
        """Commit ``compute()`` as stage ``name`` and return the committed
        snapshot. Beyond any action ``compute`` takes while building its
        plan, the snapshot write is the stage's only Spark action: the
        frame is not cached, the lineage counts come from the written
        files' footers, and the driver writes the lineage rows. The
        commit is a release boundary (iterutil.release) with no live
        frame: the snapshot is read back from its files, so every local
        checkpoint taken while building the plan is released once the
        write returns."""
        if self.catalog.has_snapshot(name, fingerprint):
            self.skipped.append(name)
            return self.catalog.read(self.spark, name)
        timer = StageTimer()
        sc = self.spark.sparkContext
        since = iterutil.persisted_ids(sc)
        manifest = self.catalog.write(
            compute(), name, fingerprint, stage=name, run_id=self.run_id
        )
        iterutil.release(sc, since)
        df = self.catalog.read(self.spark, name)
        append_lineage(
            self.spark,
            self.warehouse,
            self.run_id,
            name,
            input_split,
            rows_in=None,
            per_partition_out=partition_counts(df),
            wall_ms=timer.wall_ms(),
            snapshot_id=manifest["snapshot_id"],
        )
        self.ran.append(name)
        return df


class KgPipeline(StagedPipeline):
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str = "run-0",
        target_langs: tuple[str, ...] = TARGET_LANGS,
        extract_partitions: int | None = None,
    ):
        super().__init__(spark, warehouse, run_id)
        self.target_langs = target_langs
        self.extract_partitions = extract_partitions

    # -- the DAG ----------------------------------------------------------------
    def run(
        self,
        pages: DataFrame,
        alias_dict: DataFrame,
        input_token: str,
        stop_after: str | None = None,
    ) -> dict[str, DataFrame]:
        """Run (or resume) the full pipeline. `input_token` must uniquely
        identify the input data (path or generator seed/size)."""
        if self.extract_partitions:
            pages = pages.repartition(self.extract_partitions, "url")

        def clinks(o: dict[str, DataFrame]) -> DataFrame:
            return materialize.canonical_links(o["links"], o["components"])

        dag = (
            ("sentences", (), lambda o: extract.sentences(pages, self.target_langs)),
            ("mentions", ("sentences",), lambda o: extract.mentions(o["sentences"])),
            ("links", ("mentions",), lambda o: link.link_mentions(o["mentions"], alias_dict)),
            ("components", (), lambda o: canonicalize.canonical_map(alias_dict)),
            (
                "triples",
                ("links", "components"),
                lambda o: materialize.triples_from_links(clinks(o), o["components"]),
            ),
            ("triples_agg", ("triples",), lambda o: materialize.triples_agg(o["triples"])),
            ("nodes", ("links", "components"), lambda o: materialize.nodes_table(clinks(o))),
        )
        return self._run(dag, (input_token, PIPELINE_VERSION), input_token, stop_after)
