"""Graph centrality over the materialized entity graph: weighted
PageRank as a fixed-iteration DataFrame loop.

The reference stops at graph construction and hands analytics to Neo4j
(cpg Application.kt pushes the graph; centrality would run as a Cypher /
GDS call). A Spark-native KG pipeline wants the first-class ranking
in-engine — it drives entity canonical-name election, crawl
prioritization, and triple-confidence weighting downstream.

Determinism contract (the repo's oracle rule): ranks are IEEE doubles,
so every cross-row sum is a SEQUENTIAL fold over a sort-keyed collected
array — bit-identical at any parallelism and reproducible by the DuckDB
twin. That fold is the ORACLE-PARITY mode; at open-web scale pass
ordered=False to swap each fold for a combinable F.sum (map-side
partials, heavy-hitter-safe) and accept last-ulp nondeterminism in
exchange — the standard trade, documented here rather than silent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import char_poly_hash_col
from .iterutil import ckpt


def _ordered_sum(key: str, val: str) -> Column:
    """Sequential left fold of `val` over rows sorted by `key` — the
    engine-parity float sum (see module docstring)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key, F.col(val)))),
            lambda s: s.getField(val),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def salted_ordered_sum(
    df: DataFrame,
    group_cols: list[str],
    key: str,
    val: str,
    out: str,
    n_salts: int = 16,
) -> DataFrame:
    """Heavy-hitter-safe deterministic float sum: fold `val` per
    (group, salt) sorted by `key`, then fold the ≤n_salts partials in
    salt order. The salt is content-derived (char_poly_hash(key) mod
    n_salts — replayable in the DuckDB twin), so the grouping of the
    additions is a pure function of the DATA, never of partitioning:
    same input → bit-identical output at any parallelism, and no
    reducer ever collects more than ~|group|/n_salts items (a hub
    entity with 10^8 in-edges folds as 10^8/n_salts-sized partials —
    raise n_salts with the expected hub size).

    n_salts=1 degenerates to the single flat fold (bit-equal to
    _ordered_sum — the r5 contract; the pytest asserts it)."""
    if n_salts <= 1:
        return df.groupBy(*group_cols).agg(_ordered_sum(key, val).alias(out))
    salted = df.withColumn(
        "__psalt",
        (char_poly_hash_col(F.col(key).cast("string")) % n_salts).cast("int"),
    )
    p1 = salted.groupBy(*group_cols, "__psalt").agg(
        _ordered_sum(key, val).alias("__pp")
    )
    return p1.groupBy(*group_cols).agg(_ordered_sum("__psalt", "__pp").alias(out))


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    ordered: bool = True,
    ordered_salts: int = 16,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Weighted PageRank over edges(src, dst[, weight]), fixed n_iter
    power iterations (no data-dependent stopping — same input, same
    output at any parallelism, the kmeans_fit rule).

      r0(v)   = 1/N
      r+1(v)  = (1-d)/N + d * (Σ_{u→v} r(u)·w(u,v)/W_out(u) + D/N)

    with D the dangling mass (rank held by nodes with no out-edge,
    redistributed uniformly — the standard correction, so Σr stays 1).

    Scale shape per iteration: one join of ranks into edges keyed by
    src (both sides hash-partitioned on src — the exchange is reused
    across iterations since the edge side is static), one aggregation
    keyed by dst, one driver-free recombine; the dangling term is a
    1-row aggregate broadcast in. N is a single count() — the one
    driver scalar, needed for the teleport literal. With
    ordered=False the per-dst aggregation is a plain combinable sum
    (use at web scale); ordered=True is the oracle-parity fold,
    SALTED two-phase since r6 (salted_ordered_sum, `ordered_salts`
    partials per dst): even a hub entity with 10^8 in-edges never
    lands its whole in-neighbor list on one reducer, and the salt is
    content-derived so the result stays bit-deterministic at any
    parallelism (ordered_salts=1 reproduces the r5 flat fold
    bit-exactly — pytest-asserted). The dangling-mass fold is salted
    the same way.

    The edge and node frames are cached once (outside the plan-audit
    mode below): every iteration re-reads them, and without the cache a deep edge
    lineage (e.g. edges derived from a full extract->cooccur plan)
    re-executes per iteration — the EdgeCachePass analog. On a real
    cluster this stage is a materialized snapshot instead. Caching does
    not change values, only lineage.

    Each iteration's ranks frame is lineage-truncated (the repo-wide
    iterutil contract: localCheckpoint, or a reliable checkpoint when
    the context has a checkpoint directory) — the update reads ranks TWICE
    (contributions + dangling mass), so without truncation the plan
    doubles per iteration. truncate_lineage=False is the PLAN-AUDIT
    mode only: it skips both the checkpoints and the static caches so
    `explain` shows the raw per-iteration operator shape (never run it
    that way — the doubling is real).

    Returns (node, rank)."""
    ck = ckpt if truncate_lineage else (lambda df: df)
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"), w.alias("__w")
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    out_w = e.groupBy("__s").agg(F.sum("__w").alias("__ow"))
    e = e.join(out_w, "__s")
    # r7: the dangling-node SET is static — flag it once on the node
    # frame instead of re-running a ranks ⟕̸ out_w anti-join every
    # iteration (the flagged rows feed the identical fold, so values
    # are bit-equal in both ordered modes)
    nodes = nodes.join(
        out_w.withColumnRenamed("__s", "node").withColumn(
            "__has_out", F.lit(True)
        ).select("node", "__has_out"),
        "node",
        "left",
    ).select("node", F.col("__has_out").isNull().alias("__dang"))
    if truncate_lineage:
        e = e.cache()
        nodes = nodes.cache()
    n = nodes.count()
    teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(n)
    ranks = ck(
        nodes.select("node", "__dang", (F.lit(1.0) / F.lit(n)).alias("rank"))
    )
    for _ in range(n_iter):
        contribs = e.join(
            ranks.select(F.col("node").alias("__s"), "rank"), "__s"
        ).select(
            F.col("__d").alias("node"),
            F.col("__s"),
            (F.col("rank") * F.col("__w") / F.col("__ow")).alias("__c"),
        )
        dang_ranks = ranks.filter(F.col("__dang"))
        if ordered:
            summed = salted_ordered_sum(
                contribs, ["node"], "__s", "__c", "__in", ordered_salts
            )
            dangling = salted_ordered_sum(
                dang_ranks, [], "node", "rank", "__dm", ordered_salts
            )
        else:
            summed = contribs.groupBy("node").agg(F.sum("__c").alias("__in"))
            dangling = dang_ranks.agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
            )
        ranks = ck(
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__dang",
                (
                    teleport
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dm") / F.lit(n)
                    )
                ).alias("rank"),
            ),
        )
    if truncate_lineage:
        # the returned ranks frame is already checkpointed and
        # no longer depends on the statics — release them so repeated
        # calls in a long-lived session don't leak cached partitions
        for df in (e, nodes):
            df.unpersist()
    return ranks.select("node", "rank")


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    ordered: bool = True,
    ordered_salts: int = 16,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Weighted HITS (Kleinberg 1999) over edges(src, dst[, weight]),
    fixed n_iter iterations: authorities a = normalize(Eᵀh), hubs
    h = normalize(E a), L2-normalized each half-step. On the KG's
    doc→entity mention graph this is the classic bipartite reading —
    hub docs cite many strong entities, authority entities are cited
    by strong docs — the second in-engine centrality next to pagerank
    (the reference delegates both to Neo4j/GDS after its push).

    Determinism: same contract as pagerank — ordered=True folds every
    cross-row float sum (contributions AND the squared-norm reduction)
    through salted_ordered_sum, so the result is bit-identical at any
    parallelism and replayable by the DuckDB twin; sqrt is IEEE
    correctly-rounded in both engines. ordered=False swaps combinable
    F.sum in (the web-scale mode). Zero-norm sides (no edges) emit
    all-zero scores rather than NaN.

    Scale shape per iteration: two src/dst-keyed join+agg rounds over
    the static cached edge frame plus two 1-row norm scalars broadcast
    back — no driver collection; each unnormalized frame is
    lineage-truncated before the norm divides it (it is read twice:
    squares and quotient), the iterutil contract.

    Returns (node, authority, hub) for every node of either side."""
    ck = ckpt if truncate_lineage else (lambda df: df)
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"), w.alias("__w")
    )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    if truncate_lineage:
        e = e.cache()
        nodes = nodes.cache()

    def _norm_scalar(scored: DataFrame, val: str) -> DataFrame:
        # sqrt of the deterministic sum of squares -> 1-row frame
        sq = scored.select(
            "node", (F.col(val) * F.col(val)).alias("__q")
        )
        if ordered:
            s = salted_ordered_sum(sq, [], "node", "__q", "__ss", ordered_salts)
        else:
            s = sq.agg(F.coalesce(F.sum("__q"), F.lit(0.0)).alias("__ss"))
        return s.select(F.sqrt("__ss").alias("__norm"))

    def _half_step(scores: DataFrame, in_key: str, out_key: str,
                   score: str) -> DataFrame:
        # unnormalized out-side sum: score(u)*w over edges grouped by
        # the opposite endpoint; fold keyed by the contributing node
        contribs = e.join(
            scores.withColumnRenamed("node", in_key), in_key
        ).select(
            F.col(out_key).alias("node"),
            F.col(in_key),
            (F.col(score) * F.col("__w")).alias("__c"),
        )
        if ordered:
            summed = salted_ordered_sum(
                contribs, ["node"], in_key, "__c", "__u", ordered_salts
            )
        else:
            summed = contribs.groupBy("node").agg(F.sum("__c").alias("__u"))
        # summed is read twice (squared norm + quotient): a LAZY cache
        # reuses its shuffle inside the one eager checkpoint job below
        # (one materialization barrier per half-step, not two — halves
        # the fixed per-iteration scheduling cost vs ckpt'ing both)
        if truncate_lineage:
            summed = summed.cache()
        norm = _norm_scalar(summed, "__u")
        out = ck(
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "node",
                F.when(
                    F.col("__norm") > 0.0,
                    F.coalesce(F.col("__u"), F.lit(0.0)) / F.col("__norm"),
                ).otherwise(F.lit(0.0)).alias("score"),
            ),
        )
        if truncate_lineage:
            summed.unpersist()
        return out

    n = nodes.count()
    # init needs no checkpoint: one projection over the cached nodes
    init = nodes.select(
        "node", (F.lit(1.0) / F.sqrt(F.lit(float(n)))).alias("score")
    )
    hub = init
    auth = init
    for _ in range(n_iter):
        auth = _half_step(hub, "__s", "__d", "score")
        hub = _half_step(auth, "__d", "__s", "score")
    out = (
        nodes.join(
            auth.withColumnRenamed("score", "authority"), "node", "left"
        )
        .join(hub.withColumnRenamed("score", "hub"), "node", "left")
        .select(
            "node",
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
        )
    )
    out = ck(out)
    if truncate_lineage:
        for df in (e, nodes):
            df.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    symmetric: bool = False,
    truncate_lineage: bool = True,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.
    2007's LPA with the random tie-break replaced by a total order):
    every node starts as its own label; each of the fixed n_iter
    rounds it adopts the neighbor label with the LARGEST total
    incident weight, ties to the lexicographically smallest label.
    Isolated nodes keep their label. The in-engine community
    detection for entity clustering — co-occurrence neighborhoods
    collapse onto stable community ids — next to pagerank/hits (the
    reference delegates all three to Neo4j/GDS).

    Determinism for free: weights are summed as INTEGERS (exact,
    combinable, order-free) and the argmax is min(struct(-w, label))
    — no float folds anywhere, so unlike pagerank/hits there is no
    ordered/combinable split; one mode serves both the oracle and
    100 TB. Synchronous updates (not the paper's asynchronous sweep)
    are what makes a parallel run reproducible at all — the standard
    Pregel-style determinization.

    Scale shape per round: one src-keyed join of labels into the
    static cached edge frame, one combinable (node, label) integer
    aggregation, one combinable per-node argmax, one left join back
    to nodes — all map-side-partial, no windows, no driver state;
    labels lineage-truncate per round (iterutil). symmetric=True
    unions the reversed edges first (co-occurrence graphs arrive
    symmetric already — leave it off there).

    Returns (node, label); label is the community id."""
    ck = ckpt if truncate_lineage else (lambda df: df)
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"),
        w.cast("long").alias("__w"),
    )
    if symmetric:
        e = e.unionByName(
            e.select(
                F.col("__d").alias("__s"), F.col("__s").alias("__d"), "__w"
            )
        )
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    if truncate_lineage:
        e = e.cache()
        nodes = nodes.cache()
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(n_iter):
        nb = (
            e.join(labels.withColumnRenamed("node", "__s"), "__s")
            .groupBy(F.col("__d").alias("node"), "lbl")
            .agg(F.sum("__w").alias("__lw"))
        )
        best = nb.groupBy("node").agg(
            F.min(F.struct((-F.col("__lw")).alias("nw"), F.col("lbl"))).alias(
                "__b"
            )
        ).select("node", F.col("__b.lbl").alias("__new"))
        labels = ck(
            labels.join(best, "node", "left").select(
                "node", F.coalesce("__new", "lbl").alias("lbl")
            ),
        )
    labels = ck(labels.select("node", F.col("lbl").alias("label")))
    if truncate_lineage:
        for df in (e, nodes):
            df.unpersist()
    return labels


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counting over an undirected graph —
    clustering structure for the entity graph (a high triangle count
    around an entity marks a coherent topic cluster; zero triangles on
    a high-degree node marks a hub/disambiguation page).

    Scale shape is the Suri & Vassilvitskii degree-ordering
    construction ("Counting triangles and the curse of the last
    reducer", WWW'11): orient every undirected edge from the endpoint
    with smaller (degree, id) to the larger, so each triangle is
    enumerated EXACTLY once from its smallest vertex and — the point —
    wedge fan-out per node is bounded by O(sqrt(m)) instead of the raw
    degree: a celebrity node with 10^7 neighbors generates almost no
    wedges because nearly all its edges point INTO it. Two
    co-partitioned joins total (wedge self-join on the low vertex,
    closing-edge join), everything integer and combinable — exact at
    any parallelism, no sampling, no windows.

    Input edges may list each undirected edge once or twice (both
    directions) and may carry self-loops/duplicates; they are
    canonicalized and deduplicated first. Returns (node, n_triangles)
    for every node of the graph (0 for triangle-free nodes)."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    # orient each edge from smaller (deg, id) -> larger (deg, id)
    d1 = deg.select(F.col("node").alias("a"), F.col("__deg").alias("__da"))
    d2 = deg.select(F.col("node").alias("b"), F.col("__deg").alias("__db"))
    ranked = und.join(d1, "a").join(d2, "b")
    lt = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    directed = ranked.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )
    # wedges from the low vertex; the (hi1 < hi2) half avoids double
    # enumeration, then one join closes the wedge on the directed edge
    e1 = directed.select(F.col("lo"), F.col("hi").alias("x"))
    e2 = directed.select(F.col("lo"), F.col("hi").alias("y"))
    wedges = e1.join(e2, "lo").filter(F.col("x") < F.col("y"))
    closing = directed.select(
        F.least("lo", "hi").alias("__cx"), F.greatest("lo", "hi").alias("__cy")
    ).distinct()
    tris = wedges.join(
        closing,
        (F.least("x", "y") == F.col("__cx"))
        & (F.greatest("x", "y") == F.col("__cy")),
    ).select("lo", "x", "y")
    per_node = (
        tris.select(F.explode(F.array("lo", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        nodes.join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
        )
    )


def link_predict(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-based link prediction for KG completion: score
    every NON-adjacent pair that shares at least one neighbor by
    common-neighbor count and neighborhood Jaccard
    (cn / (deg(u) + deg(v) - cn)) — the classic Liben-Nowell &
    Kleinberg predictors restricted to the rational family (Adamic-
    Adar's 1/log(deg) weights are out: libm log is not engine-pinned,
    the repo no-log rule; Jaccard ranks near-identically in practice
    and is exact in both engines as one integer division).

    Scale shape: candidate pairs come from a wedge self-join keyed by
    the shared neighbor — the SAME inverted-index shape as the
    triangle counter, but here both wedge directions are needed, so a
    hub with degree d emits d^2/2 candidate pairs and there is no
    degree-ordering escape. The honest web-scale control is
    `max_degree`: wedge CENTERS above it are excluded (a celebrity
    entity's co-occurrence list predicts nothing specific anyway — the
    standard practice), and the exclusion is AUDITED, not silent: the
    result carries n_centers_dropped so a caller sees exactly what the
    cap cost, the repo-wide cap-with-audit pattern. Everything else is
    combinable integer aggregation plus one left-anti join against the
    existing edge set.

    Returns (u, v, common_neighbors, jaccard, n_centers_dropped) for
    u < v non-adjacent sharing >= 1 (kept) neighbor."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    deg = adj.groupBy(F.col("w").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    if max_degree is not None:
        kept_centers = deg.filter(F.col("deg") <= max_degree).select("node")
        n_dropped = deg.filter(F.col("deg") > max_degree).agg(
            F.count(F.lit(1)).cast("long").alias("n_centers_dropped")
        )
        centers = adj.join(
            kept_centers.withColumnRenamed("node", "w"), "w"
        )
    else:
        n_dropped = deg.limit(0).agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias(
                "n_centers_dropped"
            )
        )
        centers = adj
    e1 = centers.select("w", F.col("x").alias("u"))
    e2 = centers.select("w", F.col("x").alias("v"))
    cn = (
        e1.join(e2, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    non_adj = cn.join(
        und.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("__dv"))
    scored = (
        non_adj.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            (
                F.col("common_neighbors")
                / (F.col("__du") + F.col("__dv") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
    )
    return scored.crossJoin(F.broadcast(n_dropped))


def kcore(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    truncate_lineage: bool = True,
) -> DataFrame:
    """k-core membership by synchronous peeling (Seidman 1983; the
    Pregel-style determinization): each of the fixed n_rounds removes —
    SIMULTANEOUSLY — every surviving node whose degree within the
    surviving subgraph is < k. Entities outside the 2-core are leaf
    mentions with no mutually-reinforcing context (link-farm/spam
    signal); the dense cores are the topic nuclei. Completes the
    in-engine graph family next to pagerank / hits / label_prop /
    triangles / link_predict.

    Fixed rounds, not run-to-fixpoint (the kmeans_fit/pagerank rule:
    no data-dependent stopping, same input -> same output at any
    parallelism); peeling removes >= 1 node per non-converged round, so
    rounds bound the peel DEPTH, and the pytest asserts convergence on
    its fixtures while the survivors always over-approximate the true
    k-core (never under). Per round: one semi-join of the static
    cached adjacency against the alive set per endpoint + one
    combinable integer count — no windows, no driver state; the alive
    frame lineage-truncates per round.

    Returns (node, in_kcore, core_deg) for every node of the input
    graph — core_deg is the survivor's degree measured against the
    PREVIOUS round's alive set (the penultimate-round degree; when the
    peel converges within n_rounds this equals the degree inside the
    final subgraph, otherwise it can exceed it — consistent with the
    over-approximating contract above; 0 for peeled nodes). Requires
    n_rounds >= 1 (with 0 rounds there is no degree table to report
    and the join below would crash on deg=None — r6 ADVICE finding)."""
    if n_rounds < 1:
        raise ValueError("kcore requires n_rounds >= 1")
    ck = ckpt if truncate_lineage else (lambda df: df)
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    nodes = adj.select(F.col("w").alias("node")).distinct()
    if truncate_lineage:
        adj = adj.cache()
        nodes = nodes.cache()
    alive = nodes
    deg = None
    for _ in range(n_rounds):
        both = adj.join(
            alive.withColumnRenamed("node", "w"), "w"
        ).join(alive.withColumnRenamed("node", "x"), "x")
        deg = both.groupBy(F.col("w").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("core_deg")
        )
        deg = ck(deg)
        alive = deg.filter(F.col("core_deg") >= k).select("node")
    out = (
        nodes.join(
            alive.withColumn("__in", F.lit(True)), "node", "left"
        )
        .join(deg, "node", "left")
        .select(
            "node",
            F.coalesce("__in", F.lit(False)).alias("in_kcore"),
            F.when(
                F.coalesce("__in", F.lit(False)), F.col("core_deg")
            ).otherwise(F.lit(0)).cast("long").alias("core_deg"),
        )
    )
    out = ck(out)
    if truncate_lineage:
        for df in (adj, nodes):
            df.unpersist()
    return out
