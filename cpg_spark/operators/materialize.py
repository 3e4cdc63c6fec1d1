"""Materialize stage: links + canonical map -> deduplicated graph tables.

The Neo4j-push analog (reference cpg-neo4j Application.kt:200-222 saves
the whole object graph in one transaction; here the graph becomes
columnar triples/nodes tables committed as snapshots). Predicate set per
FIXTURES.md §3: mentions / co_occurs_with / linked_to / typed_as — the
DFG/EOG/INVOKES/REFERS_TO edge-label analog (reference Node.kt:110-154).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import sorted_pairs


def canonical_links(links: DataFrame, canon: DataFrame) -> DataFrame:
    """Re-point every linked mention at its canonical entity (the
    FK-re-pointing join of TypeResolver.removeDuplicateTypes,
    reference TypeResolver.kt:107-128). canon is dictionary-sized ->
    broadcast, no shuffle."""
    c = F.broadcast(canon.withColumnRenamed("member_id", "entity_id"))
    return (
        links.join(c, "entity_id", "left")
        .withColumn("canon_id", F.coalesce("component_id", "entity_id"))
        .drop("component_id")
    )


def triples_from_links(clinks: DataFrame, canon: DataFrame) -> DataFrame:
    """Emit the raw evidence-level triples (TRIPLES schema).

    co_occurs_with pairs are generated JVM-side from the per-sentence
    sorted distinct entity array (one groupBy shuffle, then a nested
    transform — no self-join, no Python).
    """
    mentions_t = clinks.select(
        F.col("url").alias("subj"),
        F.lit("mentions").alias("pred"),
        F.col("canon_id").alias("obj"),
        "url",
        "sent_idx",
    )

    per_sent = clinks.groupBy("url", "sent_idx").agg(
        F.sort_array(F.collect_set("canon_id")).alias("ents")
    )
    # all ordered pairs (ents[i], ents[j]) i<j, without a self-join
    pairs = per_sent.select(
        "url",
        "sent_idx",
        F.explode(sorted_pairs(F.col("ents"))).alias("p"),
    )
    cooccur_t = pairs.select(
        F.col("p.a").alias("subj"),
        F.lit("co_occurs_with").alias("pred"),
        F.col("p.b").alias("obj"),
        "url",
        "sent_idx",
    )

    typed_t = (
        clinks.select("canon_id", "entity_type")
        .distinct()
        .select(
            F.col("canon_id").alias("subj"),
            F.lit("typed_as").alias("pred"),
            F.col("entity_type").alias("obj"),
            F.lit(None).cast("string").alias("url"),
            F.lit(None).cast("int").alias("sent_idx"),
        )
    )

    linked_t = canon.filter(F.col("member_id") != F.col("component_id")).select(
        F.col("member_id").alias("subj"),
        F.lit("linked_to").alias("pred"),
        F.col("component_id").alias("obj"),
        F.lit(None).cast("string").alias("url"),
        F.lit(None).cast("int").alias("sent_idx"),
    )

    return mentions_t.unionByName(cooccur_t).unionByName(typed_t).unionByName(linked_t)


def triples_agg(triples: DataFrame) -> DataFrame:
    """Deduplicated edge table with evidence counts. Plain count is
    skew-safe via map-side partial aggregation; verified on the hot-alias
    fixture."""
    return triples.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n_evidence")
    )


def merge_triples_agg(
    existing: DataFrame,
    delta: DataFrame,
    structural_preds: tuple[str, ...] = ("typed_as", "linked_to"),
) -> DataFrame:
    """Incremental graph materialization: fold a NEW batch's aggregated
    triples into the existing table so that

        merge(agg(batch A), agg(batch B)) == agg(A ∪ B)   exactly

    — the property that lets a 10^12-document crawl append per-batch
    instead of recomputing (equality golden-tested; ids are content
    hashes, so the triples themselves are batch-independent).

    Two merge rules by predicate class: EVIDENCE predicates (mentions,
    co_occurs_with — one row per observation) sum their counts;
    STRUCTURAL predicates (typed_as, linked_to — facts derived from the
    canonical map / distinct entity attributes, emitted with
    n_evidence=1 by every batch that sees the entity) take max, because
    the same fact re-derived by a second batch is confirmation, not new
    evidence. One shuffle on the combined (subj, pred, obj); with both
    sides bucketed by subj on a real cluster the exchange disappears."""
    merged = (
        existing.unionByName(delta)
        .groupBy("subj", "pred", "obj")
        .agg(
            F.sum("n_evidence").alias("__sum"),
            F.max("n_evidence").alias("__max"),
        )
    )
    return merged.select(
        "subj",
        "pred",
        "obj",
        F.when(F.col("pred").isin(list(structural_preds)), F.col("__max"))
        .otherwise(F.col("__sum"))
        .cast("long")
        .alias("n_evidence"),
    )


def merge_nodes(
    existing: DataFrame, delta: DataFrame, max_example_urls: int = 5
) -> DataFrame:
    """Incremental node-table merge for URL-DISJOINT batches (each url
    belongs to exactly one batch — the natural crawl partitioning;
    re-crawled urls must be routed to the batch replacing them):
    n_mentions and n_pages are then additive, name/type are functionally
    dependent on the canonical id (any batch's value agrees), inferred
    flags OR together, and example urls union capped at
    max_example_urls (sorted — deterministic across merge orders)."""
    return (
        existing.unionByName(delta)
        .groupBy("id")
        .agg(
            F.first("kind").alias("kind"),
            F.first("name").alias("name"),
            F.first("entity_type").alias("entity_type"),
            F.max(F.col("is_inferred").cast("int")).cast("boolean").alias(
                "is_inferred"
            ),
            F.sum("n_mentions").cast("long").alias("n_mentions"),
            F.sum("n_pages").cast("long").alias("n_pages"),
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("example_urls")))
                ),
                1,
                max_example_urls,
            ).alias("example_urls"),
        )
        .select(
            "id", "kind", "name", "entity_type", "is_inferred",
            "n_mentions", "n_pages", "example_urls",
        )
    )


def nodes_table(clinks: DataFrame, max_example_urls: int = 5) -> DataFrame:
    """Canonical node table with mention/page stats and the
    `max_example_urls` smallest example urls, from one salted
    partitioning.

    Rows are hash-partitioned once by (canon_id, salt) with salt =
    pmod(xxhash64(canon_id, url), 16): a url always falls in one salt of
    its entity, and a hot entity still spreads over 16 partitions. Then
    three aggregation levels: (canon_id, salt, url) and (canon_id, salt)
    run on that partitioning with no exchange; the merge to canon_id
    shuffles only map-side partial rows, whose url lists hold at most
    `max_example_urls` sorted urls each. Per-salt page counts add up,
    because the salts of an entity split its urls."""
    salt = F.pmod(F.xxhash64("canon_id", "url"), F.lit(16))
    per_url = (
        clinks.withColumn("__salt", salt)
        .repartition("canon_id", "__salt")
        .groupBy("canon_id", "__salt", "url")
        .agg(
            F.first("entity_name").alias("name"),
            F.first("entity_type").alias("entity_type"),
            F.max(F.col("is_inferred").cast("int")).alias("__inf"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    per_salt = per_url.groupBy("canon_id", "__salt").agg(
        F.first("name").alias("name"),
        F.first("entity_type").alias("entity_type"),
        F.max("__inf").alias("__inf"),
        F.sum("__n").alias("__n"),
        F.count("url").alias("__pages"),
        F.slice(F.sort_array(F.collect_list("url")), 1, max_example_urls).alias("__urls"),
    )
    urls = F.slice(F.array_sort(F.flatten(F.collect_list("__urls"))), 1, max_example_urls)
    return per_salt.groupBy("canon_id").agg(
        F.first("name").alias("name"),
        F.first("entity_type").alias("entity_type"),
        F.max("__inf").cast("boolean").alias("is_inferred"),
        # sum() is nullable; every entity has rows, so the 0 never shows
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_mentions"),
        F.coalesce(F.sum("__pages"), F.lit(0)).cast("long").alias("n_pages"),
        urls.alias("example_urls"),
    ).select(
        F.col("canon_id").alias("id"),
        F.lit("entity").alias("kind"),
        "name",
        "entity_type",
        "is_inferred",
        "n_mentions",
        "n_pages",
        # n_mentions is at least 1, so this is the list itself; the CASE
        # keeps example_urls declared nullable, as it always was
        F.when(F.col("n_mentions") > 0, F.col("example_urls")).alias("example_urls"),
    )


def resolve_functional(
    triples: DataFrame,
    functional_preds: tuple[str, ...],
    priority_col: str = "source_priority",
    evidence_col: str = "n_evidence",
) -> DataFrame:
    """Functional-property resolution across triple SOURCES — the KG
    fusion step after multiple frontends emit into one graph (here:
    publisher-asserted JSON-LD vs text-inferred triples; the reference
    analog is TypeResolver picking one canonical type when frontends
    disagree, TypeResolver.kt:107-128). A predicate in
    `functional_preds` may hold only ONE object per subject; the winner
    is chosen by (source priority desc, evidence desc, object asc) —
    total order, deterministic at any parallelism. Non-functional
    predicates pass through untouched.

    Never silent: winning rows carry `n_alternatives` (how many
    distinct objects competed — 1 means no conflict existed), so a
    consumer can audit exactly which assertions were contested instead
    of discovering fusion losses by diffing inputs.

    Scale shape: one shuffle keyed by (subj, pred) for the window over
    the functional subset only; the pass-through subset never
    shuffles. Returns (subj, pred, obj, n_evidence, source_priority,
    n_alternatives)."""
    from pyspark.sql import Window

    is_fn = F.col("pred").isin(list(functional_preds))
    fn_rows = triples.filter(is_fn)
    rest = triples.filter(~is_fn)
    w = Window.partitionBy("subj", "pred")
    ranked = fn_rows.withColumn(
        "__rn",
        F.row_number().over(
            w.orderBy(
                F.desc(priority_col), F.desc(evidence_col), F.asc("obj")
            )
        ),
    ).withColumn(
        "n_alternatives", F.size(F.collect_set("obj").over(w)).cast("long")
    )
    winners = ranked.filter(F.col("__rn") == 1).drop("__rn")
    return winners.unionByName(
        rest.withColumn("n_alternatives", F.lit(1).cast("long"))
    )


def diff_triples_agg(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two materialized graph aggregates — what a
    crawl batch actually CHANGED (merge_triples_agg's audit partner:
    merge appends, diff explains). Full outer join on (subj, pred,
    obj):

      added     in new only
      removed   in old only
      changed   both, n_evidence differs
      (identical rows are omitted — the diff is the delta, and at
       10^12-document scale the unchanged mass dwarfs it)

    Returns (subj, pred, obj, status, old_n, new_n, delta) with
    old_n/new_n NULL on the absent side and delta = new-coalesced minus
    old-coalesced. One shuffle on the join key; with both snapshots
    bucketed by subj the exchange disappears — the same layout contract
    as merge_triples_agg."""
    o = old.select(
        "subj", "pred", "obj", F.col("n_evidence").alias("old_n")
    )
    n = new.select(
        "subj", "pred", "obj", F.col("n_evidence").alias("new_n")
    )
    joined = o.join(n, ["subj", "pred", "obj"], "full_outer")
    status = (
        F.when(F.col("old_n").isNull(), F.lit("added"))
        .when(F.col("new_n").isNull(), F.lit("removed"))
        .when(F.col("old_n") != F.col("new_n"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            "subj", "pred", "obj", "status", "old_n", "new_n",
            (
                F.coalesce("new_n", F.lit(0)) - F.coalesce("old_n", F.lit(0))
            ).cast("long").alias("delta"),
        )
    )
