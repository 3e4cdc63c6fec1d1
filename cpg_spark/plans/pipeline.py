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

from pyspark.sql import DataFrame, SparkSession

from ..catalog import SnapshotCatalog
from ..lineage import StageTimer, append_lineage, partition_counts
from ..operators import canonicalize, extract, link, materialize
from ..synth import TARGET_LANGS

# bump when stage semantics change — invalidates committed snapshots
PIPELINE_VERSION = "1"

STAGES = ("sentences", "mentions", "links", "components", "triples", "triples_agg", "nodes")


def _fingerprint(*parts: str) -> str:
    return hashlib.sha1("\x00".join(parts).encode()).hexdigest()


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

    # -- one checkpointed stage ------------------------------------------------
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
        files' footers, and the driver writes the lineage rows."""
        if self.catalog.has_snapshot(name, fingerprint):
            self.skipped.append(name)
            return self.catalog.read(self.spark, name)
        timer = StageTimer()
        manifest = self.catalog.write(
            compute(), name, fingerprint, stage=name, run_id=self.run_id
        )
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
        fps: dict[str, str] = {}
        out: dict[str, DataFrame] = {}

        def fp(stage: str, *upstream: str) -> str:
            fps[stage] = _fingerprint(
                input_token, PIPELINE_VERSION, stage, *[fps[u] for u in upstream]
            )
            return fps[stage]

        if self.extract_partitions:
            pages = pages.repartition(self.extract_partitions, "url")

        sent = self._stage(
            "sentences",
            fp("sentences"),
            lambda: extract.sentences(pages, self.target_langs),
            input_token,
        )
        out["sentences"] = sent
        if stop_after == "sentences":
            return out

        ment = self._stage(
            "mentions", fp("mentions", "sentences"), lambda: extract.mentions(sent), input_token
        )
        out["mentions"] = ment
        if stop_after == "mentions":
            return out

        links = self._stage(
            "links",
            fp("links", "mentions"),
            lambda: link.link_mentions(ment, alias_dict),
            input_token,
        )
        out["links"] = links
        if stop_after == "links":
            return out

        comps = self._stage(
            "components",
            fp("components"),
            lambda: canonicalize.canonical_map(alias_dict),
            input_token,
        )
        out["components"] = comps
        if stop_after == "components":
            return out

        def _triples() -> DataFrame:
            clinks = materialize.canonical_links(links, comps)
            return materialize.triples_from_links(clinks, comps)

        triples = self._stage(
            "triples", fp("triples", "links", "components"), _triples, input_token
        )
        out["triples"] = triples
        if stop_after == "triples":
            return out

        tagg = self._stage(
            "triples_agg",
            fp("triples_agg", "triples"),
            lambda: materialize.triples_agg(triples),
            input_token,
        )
        out["triples_agg"] = tagg

        def _nodes() -> DataFrame:
            clinks = materialize.canonical_links(links, comps)
            return materialize.nodes_table(clinks)

        nodes = self._stage(
            "nodes", fp("nodes", "links", "components"), _nodes, input_token
        )
        out["nodes"] = nodes
        return out
