"""The benchmark workloads: seeded inputs, one timed public call, and
the correctness checks on its outputs.

``kg_batch`` and ``curation`` drive one staged pipeline each. Both
pipelines commit every stage through the same snapshot catalog and
lineage table, so their stage layers share names.

Two layer probes run in traced runs only (PROBES): a drain of the
streaming ingest, one file per micro-batch, in the traced ``kg_batch``
run (``ingest_layers``), and one pass over loop-heavy registry queries
in the traced ``curation`` run (``ops_layers``). As timed workloads of
their own they do not fit the benchmark's time budget (README.md).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from contextlib import nullcontext

import inputs
import tracing
from stats import compare_rows, compare_sets

from cpg_spark import catalog, lineage, synth
from cpg_spark.operators import canonicalize
from cpg_spark.plans import curation, pipeline
from cpg_spark.streaming import pipeline as streaming

KG_PAGES = 2000
KG_FILES = 8  # input parquet files per batch table
CUR_BASE_DOCS = 1000
CUR_FILES = 8
INC_PAGES = 600
INC_FILES = 3  # one micro-batch each
DRAIN_TIMEOUT_S = 90  # keeps a stuck drain inside the run's time limit
# the ops.* pass: loop operators no timed workload reaches (the CC star
# loop, evaluate, stringapprox, iterutil checkpoints), on small tables
OPS_QUERIES = ("canon_cc", "eval_loop_unroll", "sa_ops_grammar", "eog_corpus_reach")
OPS_CUSTOMERS = 1000
OPS_DOCS = 200
# recentProgress durations reported per micro-batch (median)
INGEST_DURATIONS = (
    "addBatch",
    "walCommit",
    "commitOffsets",
    "queryPlanning",
    "latestOffset",
    "triggerExecution",
)
# the probes' per-layer metrics; every traced run reports every one, as
# 0 where its probe does not reach the layer
EXTRA_LAYERS = (
    [(f"ingest.{d}_ms", "ms") for d in INGEST_DURATIONS]
    + [
        ("ingest.pages_per_s", "1/s"),
        ("ingest.sink_commit_s", "s"),
        ("ingest.build_s", "s"),
        ("ingest.jobs_per_batch", "count"),
        ("ingest.shuffle_write_bytes_per_batch", "bytes"),
        ("ingest.graph_rows_last", "count"),
    ]
    + [
        (f"ops.{q}.{k}", u)
        for q in OPS_QUERIES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("hidden_execs", "count"))
    ]
    + [("ops.pass_s", "s")]
)


class Workload:
    """One public call: ``op`` runs it once into a fresh output
    directory and returns its wall seconds."""

    prefix = ""  # span and job-group prefix, the module the call belongs to

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.n_ops = 0
        self.last_out: str | None = None

    def _fresh_out(self) -> str:
        self.n_ops += 1
        out = os.path.join(self.work_dir, f"out{self.n_ops}")
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return out

    def op(self, spark, tracer=None) -> float:
        out = self._fresh_out()
        token = f"seed{self.seed}-op{self.n_ops}"
        group = f"{self.prefix}.run"
        with nullcontext() if tracer is None else tracer.span(group, group):
            t0 = time.perf_counter()
            self._run(spark, out, token)
            return time.perf_counter() - t0


class StagedWorkload(Workload):
    """A timed workload: a staged pipeline whose ``_stage`` method
    commits one stage."""

    name = ""
    pipeline_cls: type = object
    stages: tuple[str, ...] = ()
    items_label = ""  # end-to-end name of throughput on this workload
    items_noun = ""

    def work_items(self) -> int:
        """Numerator of the workload's throughput."""
        raise NotImplementedError

    def count_check(self, spark) -> str | None:
        """Cheap check of the output's size after every call: None, or
        a diagnostic."""
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Wrap the stage boundary and the calls the stages share
        (catalog, lineage, canonicalize) with spans; each stage's Spark
        jobs go to the job group ``<prefix>.<stage>``."""
        p = self.prefix
        tracer.wrap(
            self.pipeline_cls,
            "_stage",
            lambda _self, name, *a, **k: f"{p}.{name}",
            group=lambda _self, name, *a, **k: f"{p}.{name}",
        )
        tracer.wrap(lineage, "partition_counts", "lineage.partition_counts")
        tracer.wrap(lineage, "append_lineage", "lineage.append_lineage")
        tracer.wrap(catalog.SnapshotCatalog, "write", "catalog.write")
        for fn in ("canonical_map", "connected_components"):
            tracer.wrap(canonicalize, fn, f"canonicalize.{fn}")


def golden_sets(corpus: dict) -> tuple[set, set]:
    """(triples_agg keys, distinct triple evidence) of the pure-Python
    golden that ``synth.make_corpus`` computes beside the pages."""
    evidence = {
        (t["subj"], t["pred"], t["obj"], t["url"], t["sent_idx"]) for t in corpus["golden_triples"]
    }
    return {k[:3] for k in evidence}, evidence


class KgBatch(StagedWorkload):
    """Full ``KgPipeline.run`` over seeded pages into an empty warehouse."""

    name = "kg_batch"
    prefix = "kg"
    pipeline_cls = pipeline.KgPipeline
    stages = pipeline.STAGES
    items_label = "kg_triples_per_s"
    items_noun = "triples_agg rows"

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        corpus = synth.make_corpus(KG_PAGES, seed)
        self.pages_dir = os.path.join(work_dir, "pages")
        self.alias_path = os.path.join(work_dir, "alias_dict.parquet")
        inputs.write_parts(corpus["pages"], inputs.PAGES_SCHEMA, self.pages_dir, KG_FILES)
        inputs.write_table(corpus["alias_dict"], inputs.ALIAS_SCHEMA, self.alias_path)
        self.golden_keys, self.golden_evidence = golden_sets(corpus)

    def load(self, spark) -> None:
        from cpg_spark.schema import ALIAS_DICT, PAGES

        self.pages = spark.read.schema(PAGES).parquet(self.pages_dir)
        self.alias = spark.read.schema(ALIAS_DICT).parquet(self.alias_path)

    def _run(self, spark, out: str, token: str) -> None:
        pipeline.KgPipeline(spark, out, run_id=token).run(self.pages, self.alias, token)

    def count_check(self, spark) -> str | None:
        n = catalog.SnapshotCatalog(self.last_out).read(spark, "triples_agg").count()
        return None if n == len(self.golden_keys) else f"{n} edges, want {len(self.golden_keys)}"

    def work_items(self) -> int:
        return len(self.golden_keys)

    def checks(self, spark) -> list[tuple[str, str | None]]:
        cat = catalog.SnapshotCatalog(self.last_out)
        agg = cat.read(spark, "triples_agg").select("subj", "pred", "obj").collect()
        ev = (
            cat.read(spark, "triples")
            .select("subj", "pred", "obj", "url", "sent_idx")
            .distinct()
            .collect()
        )
        got_keys, got_ev = {tuple(r) for r in agg}, {tuple(r) for r in ev}
        return [
            ("kg.triples_agg.keys", compare_sets(got_keys, self.golden_keys, "triples_agg keys")),
            ("kg.triples.evidence", compare_sets(got_ev, self.golden_evidence, "triples evidence")),
        ]


class IngestDrain(Workload):
    """``ingest_graph_stream`` draining seeded page files, one file per
    micro-batch, into a fresh graph and checkpoint directory. Each
    micro-batch starts after the previous one has committed."""

    prefix = "ingest"

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        corpus = synth.make_corpus(INC_PAGES, seed)
        self.pages_dir = os.path.join(work_dir, "pages")
        self.alias_path = os.path.join(work_dir, "alias_dict.parquet")
        inputs.write_parts(corpus["pages"], inputs.PAGES_SCHEMA, self.pages_dir, INC_FILES)
        inputs.write_table(corpus["alias_dict"], inputs.ALIAS_SCHEMA, self.alias_path)
        self.golden_keys, evidence = golden_sets(corpus)
        self.golden_counts = Counter(k[:3] for k in evidence)
        self.progress: list[dict] = []
        self.run_id = ""

    def load(self, spark) -> None:
        from cpg_spark.schema import ALIAS_DICT

        self.alias = spark.read.schema(ALIAS_DICT).parquet(self.alias_path)

    def _run(self, spark, out: str, token: str) -> None:
        q = streaming.ingest_graph_stream(
            spark,
            self.pages_dir,
            self.alias,
            os.path.join(out, "graph"),
            os.path.join(out, "checkpoint"),
            query_name=f"perfbench_{token.replace('-', '_')}",
            max_files_per_trigger=1,
        )
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError(f"drain still running after {DRAIN_TIMEOUT_S} s")
        finally:
            q.stop()
        self.progress = q.recentProgress
        self.run_id = str(q.runId)

    def _graph(self, spark):
        return streaming.read_current_graph(spark, os.path.join(self.last_out, "graph"))

    def instrument(self, tracer) -> None:
        tracer.wrap(streaming.SnapshotMergeSink, "guard", "ingest.guard")
        tracer.wrap(streaming.SnapshotMergeSink, "commit", "ingest.sink_commit")

    def layer_metrics(self, spark, tracer, wall: float) -> dict:
        n = len(self.progress)
        m = {
            f"ingest.{d}_ms": statistics.median(p["durationMs"].get(d, 0) for p in self.progress)
            for d in INGEST_DURATIONS
        }
        m["ingest.pages_per_s"] = INC_PAGES / wall
        guards = [s for s in tracer.spans if s["name"] == "ingest.guard"]
        commits = [s for s in tracer.spans if s["name"] == "ingest.sink_commit"]
        # per batch: the plan is built between the guard and the commit
        m["ingest.sink_commit_s"] = statistics.median(s["end"] - s["start"] for s in commits)
        m["ingest.build_s"] = statistics.median(
            c["start"] - g["end"] for g, c in zip(guards, commits, strict=True)
        )
        # the stream thread runs every micro-batch under the job group
        # of the query's run id
        g = tracing.group_stats(spark.sparkContext, self.run_id)
        m["ingest.jobs_per_batch"] = g["jobs"] / n
        m["ingest.shuffle_write_bytes_per_batch"] = g["shuffle_write_bytes"] / n
        m["ingest.graph_rows_last"] = self._graph(spark).count()
        return m

    def checks(self, spark) -> list[tuple[str, str | None]]:
        """The streamed graph has the golden edge set. Each edge's
        evidence count merges exactly: it equals the golden count of
        distinct (url, sentence) evidence, except for ``mentions``,
        which counts every occurrence and so may only be larger."""
        rows = self._graph(spark).select("subj", "pred", "obj", "n_evidence").collect()
        counts = {(r[0], r[1], r[2]): r[3] for r in rows}
        bad = sorted(
            (k, counts[k], want)
            for k, want in self.golden_counts.items()
            if k in counts and (counts[k] < want if k[1] == "mentions" else counts[k] != want)
        )
        batches = len(self.progress)
        return [
            ("ingest.graph.keys", compare_sets(set(counts), self.golden_keys, "graph keys")),
            (
                "ingest.graph.n_evidence",
                f"{len(bad)} edges with a wrong count, e.g. {bad[:3]}" if bad else None,
            ),
            (
                "ingest.batches",
                None if batches == INC_FILES else f"{batches} micro-batches, want {INC_FILES}",
            ),
        ]


class Curation(StagedWorkload):
    """Full staged ``CurationPipeline.run`` over seeded documents with
    injected exact copies and one-word near-duplicate edits."""

    name = "curation"
    prefix = "cur"
    pipeline_cls = curation.CurationPipeline
    stages = curation.CURATION_STAGES
    items_label = "curation_docs_per_s"
    items_noun = "docs in"

    def __init__(self, work_dir: str, seed: int):
        super().__init__(work_dir, seed)
        docs, self.copies, self.edits = inputs.make_curation_docs(CUR_BASE_DOCS, seed)
        self.doc_ids = {d["doc_id"] for d in docs}
        self.base_ids = set(range(CUR_BASE_DOCS))
        self.docs_dir = os.path.join(work_dir, "docs")
        inputs.write_parts(docs, inputs.DOCS_SCHEMA, self.docs_dir, CUR_FILES)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.docs_dir)

    def _run(self, spark, out: str, token: str) -> None:
        curation.CurationPipeline(spark, out, run_id=token).run(self.docs, token)

    def count_check(self, spark) -> str | None:
        """The kept rows lie between the base documents and the base
        documents plus the edits. The default gate (no language filter,
        minimum quality 0) passes every document, the base documents
        are pairwise distinct, and every exact copy is a duplicate."""
        n = catalog.SnapshotCatalog(self.last_out).read(spark, "kept").count()
        lo, hi = len(self.base_ids), len(self.base_ids) + len(self.edits)
        return None if lo <= n <= hi else f"{n} kept, want {lo}..{hi}"

    def work_items(self) -> int:
        return len(self.doc_ids)

    def checks(self, spark) -> list[tuple[str, str | None]]:
        cat = catalog.SnapshotCatalog(self.last_out)
        gated = {r["doc_id"] for r in cat.read(spark, "gate").filter("gated").collect()}
        dup = {r["doc_id"]: r["canonical_id"] for r in cat.read(spark, "dup_map").collect()}
        kept_rows = [r["doc_id"] for r in cat.read(spark, "kept").select("doc_id").collect()]
        kept = set(kept_rows)
        dropped = gated | {d for d, c in dup.items() if d != c}
        if len(kept_rows) != len(kept):
            conserved = f"{len(kept_rows) - len(kept)} kept ids repeat"
        elif kept & dropped:
            conserved = f"{len(kept & dropped)} ids both kept and dropped"
        else:
            conserved = compare_sets(kept | dropped, self.doc_ids, "kept + dropped vs docs in")
        members: dict[int, list[int]] = {}
        for d, c in dup.items():
            members.setdefault(c, []).append(d)
        not_min = sorted(d for d in kept if d not in members or min(members[d]) != d)
        # an injected row's duplicate group lies inside its source's
        # family: the source, its copies and its edits
        family: dict[int, set[int]] = {s: {s} for s in self.base_ids}
        for i, s in (*self.copies.items(), *self.edits.items()):
            family[s].add(i)
        wrong_copy = sorted(i for i, s in self.copies.items() if dup.get(i) != s)
        wrong_edit = sorted(
            i for i, s in self.edits.items() if i not in kept and dup.get(i) not in family[s]
        )

        def diag(bad, what):
            return f"{len(bad)} {what}: {sorted(bad)[:3]}" if bad else None

        return [
            ("cur.kept_plus_dropped", conserved),
            ("cur.gate_golden", diag(gated, "docs gated by a gate that passes every doc")),
            ("cur.base_docs_kept", diag(self.base_ids - kept, "distinct base docs not kept")),
            ("cur.copies_map_to_source", diag(wrong_copy, "copies not mapped to their source")),
            ("cur.edits_kept_or_in_family", diag(wrong_edit, "edits mapped outside their family")),
            ("cur.kept_is_component_min", diag(not_min, "kept ids not their component min")),
        ]


def ingest_layers(spark, work_dir: str, seed: int) -> tuple[dict, list, list]:
    """The ``ingest.*`` probe: one traced drain of 600 seeded pages,
    three micro-batches, in the warm session of the traced ``kg_batch``
    run. Returns (metrics, checks, spans)."""
    probe = IngestDrain(os.path.join(work_dir, "ingest"), seed)
    probe.load(spark)
    tracer = tracing.Tracer(spark.sparkContext)
    probe.instrument(tracer)
    try:
        wall = probe.op(spark, tracer)
    finally:
        tracer.unwrap_all()
    return probe.layer_metrics(spark, tracer, wall), probe.checks(spark), tracer.spans


def ops_layers(spark, work_dir: str, seed: int) -> tuple[dict, list, list]:
    """The ``ops.*`` probe, in the traced ``curation`` run: one pass over
    OPS_QUERIES on freshly generated tables, each query forced through
    the noop sink, then each result compared with its DuckDB oracle over
    the same tables. Returns (metrics, checks, spans)."""
    import duckdb

    from cpg_spark import queries

    sf_dir = os.path.join(work_dir, "ops_tables")
    inputs.write_ops_tables(sf_dir, OPS_CUSTOMERS, OPS_DOCS, seed)
    tracer = tracing.Tracer(spark.sparkContext)
    m: dict[str, float] = {}
    frames = {}
    t_pass = time.perf_counter()
    for q in OPS_QUERIES:
        fn = queries.QUERIES[q][0]
        n0 = tracing.sql_execution_count(spark)
        with tracer.span(f"ops.{q}.build", f"ops.{q}"):
            t0 = time.perf_counter()
            frames[q] = fn(spark, sf_dir)
            t1 = time.perf_counter()
        m[f"ops.{q}.hidden_execs"] = tracing.sql_execution_count(spark) - n0
        with tracer.span(f"ops.{q}.exec", f"ops.{q}"):
            frames[q].write.format("noop").mode("overwrite").save()
        m[f"ops.{q}.build_s"] = t1 - t0
        m[f"ops.{q}.exec_s"] = time.perf_counter() - t1
    m["ops.pass_s"] = time.perf_counter() - t_pass

    con = duckdb.connect()
    for table in ("customer", "nation", "documents"):
        path = os.path.join(sf_dir, f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    checks = []
    for q in OPS_QUERIES:
        res = con.sql(queries.QUERIES[q][1])
        want = (res.columns, res.fetchall())
        got = (frames[q].columns, [tuple(r) for r in frames[q].collect()])
        checks.append((f"ops.{q}.oracle", compare_rows(got, want, q)))
    con.close()
    return m, checks, tracer.spans


WORKLOADS = {w.name: w for w in (KgBatch, Curation)}
# the layer probe each workload's traced run makes after its own calls
PROBES = {"kg_batch": ingest_layers, "curation": ops_layers}
