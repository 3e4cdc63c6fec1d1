"""The end-to-end KG-construction pipeline as a resumable stage DAG.

Stage graph (the reference's pass dependencies,
TranslationConfiguration.kt:663-704, made explicit); an arrow reads
"is read by":

    pages -> sentences -> mentions -> links --+--> triples -> triples_agg
                                              |
    alias dict -> components -----------------+--> nodes

    (sentences/mentions/links: map-heavy; components: the dictionary CC;
     triples/triples_agg/nodes: salted materialize)

Each stage starts once the stages it reads have committed, so
independent stages build and commit concurrently: `components` overlaps
sentences -> mentions -> links, and `nodes` overlaps triples ->
triples_agg. The critical path is sentences -> mentions -> links ->
triples -> triples_agg; no stage waits on another's build.

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
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

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
        name and its upstream stages' fingerprints. Each stage runs on
        its own driver thread, which inherits the caller's Spark local
        properties (job group, description), as soon as its upstream
        stages have committed, so independent stages build and commit
        concurrently and Spark interleaves their jobs; ``build(o)``
        gets the committed frames of the stage's transitive upstream
        only, so reading any other stage raises ``KeyError``. Once every
        started stage has finished, the first failed stage's error (in
        DAG order) is raised. Returns {stage: DataFrame} for every stage
        up to ``stop_after``, in DAG order; ``ran`` and ``skipped`` list
        the stages in DAG order too."""
        names = [name for name, _, _ in dag]
        if stop_after is not None:
            if stop_after not in names:
                raise ValueError(f"stop_after={stop_after!r} is not a stage; stages: {names}")
            dag = dag[: names.index(stop_after) + 1]
        fps: dict[str, str] = {}
        ancestors: dict[str, set[str]] = {}
        for name, upstream, _ in dag:
            parts = (*tokens, name, *(fps[u] for u in upstream))
            fps[name] = hashlib.sha1("\x00".join(parts).encode()).hexdigest()
            ancestors[name] = set(upstream).union(*(ancestors[u] for u in upstream))
        ran, skipped = len(self.ran), len(self.skipped)
        futures = {}

        def task(name, build):
            o = {a: futures[a].result() for a in ancestors[name]}
            return self._stage(name, fps[name], lambda: build(o), input_token)

        with ThreadPoolExecutor(max_workers=len(dag)) as pool:
            for name, _, build in dag:
                target = inheritable_thread_target(self.spark)(task)
                futures[name] = pool.submit(target, name, build)
        for done, start in ((self.ran, ran), (self.skipped, skipped)):
            done[start:] = sorted(done[start:], key=names.index)
        return {name: f.result() for name, f in futures.items()}

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
        files' footers, and the driver writes the lineage rows.

        The build and the write share one release scope
        (iterutil.scope): the snapshot is read back from its files, so
        every local checkpoint the build took is released once the write
        returns or either raises, and other stages' builds and commits
        never wait on this one. The lineage ``wall_ms`` runs from this
        call, i.e. from the moment the stage's upstream has committed."""
        if self.catalog.has_snapshot(name, fingerprint):
            self.skipped.append(name)
            return self.catalog.read(self.spark, name)
        timer = StageTimer()
        with iterutil.scope():
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
