"""Graph algorithms over the materialized entity graph: centrality
(PageRank, HITS), communities (label propagation), triangles, link
prediction and k-core peeling.

The reference stops at graph construction and hands analytics to Neo4j
(cpg Application.kt pushes the graph; centrality would run as a Cypher /
GDS call). A Spark-native KG pipeline wants the first-class ranking
in-engine — it drives entity canonical-name election, crawl
prioritization, and triple-confidence weighting downstream.

The four iterative operators (pagerank, hits, label_propagation, kcore)
are bounded `iterutil.fixpoint` loops: their static edge/node frames
are checkpointed once before the loop, each round checkpoints its state
and releases the one it replaced, and the caller's release scope
frees the statics (iterutil module docstring).

Determinism contract (the repo's oracle rule): ranks are IEEE doubles,
so every cross-row sum is a SEQUENTIAL fold over a sort-keyed collected
array — bit-identical at any parallelism and reproducible by the DuckDB
twin. That fold is the ORACLE-PARITY mode; at open-web scale pass
ordered=False to swap each fold for a combinable F.sum (map-side
partials, heavy-hitter-safe) and accept last-ulp nondeterminism in
exchange — the standard trade, documented here rather than silent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import ordered_sum
from ..functions.hashing import char_poly_hash_col
from .iterutil import ckpt, counted, fixpoint


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
    ordered_sum — the r5 contract; the pytest asserts it)."""
    if n_salts <= 1:
        return df.groupBy(*group_cols).agg(ordered_sum(key, val).alias(out))
    salted = df.withColumn(
        "__psalt",
        (char_poly_hash_col(F.col(key).cast("string")) % n_salts).cast("int"),
    )
    p1 = salted.groupBy(*group_cols, "__psalt").agg(
        ordered_sum(key, val).alias("__pp")
    )
    return p1.groupBy(*group_cols).agg(ordered_sum("__psalt", "__pp").alias(out))


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    ordered: bool = True,
    ordered_salts: int = 16,
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
    1-row aggregate broadcast in. N is the one driver scalar, needed
    for the teleport literal; it is read from the node frame's
    checkpoint job. With
    ordered=False the per-dst aggregation is a plain combinable sum
    (use at web scale); ordered=True is the oracle-parity fold,
    SALTED two-phase since r6 (salted_ordered_sum, `ordered_salts`
    partials per dst): even a hub entity with 10^8 in-edges never
    lands its whole in-neighbor list on one reducer, and the salt is
    content-derived so the result stays bit-deterministic at any
    parallelism (ordered_salts=1 reproduces the r5 flat fold
    bit-exactly — pytest-asserted). The dangling-mass fold is salted
    the same way.

    The edge and node frames are checkpointed before the loop: every
    iteration re-reads them, and a deep edge lineage (e.g. edges derived
    from a full extract->cooccur plan) must not re-execute per iteration
    — the EdgeCachePass analog. The iterations run on iterutil.fixpoint:
    each ranks frame is checkpointed (the update reads ranks TWICE —
    contributions + dangling mass — so without truncation the plan
    doubles per iteration) and the one it supersedes is released.

    Returns (node, rank); no rows for an empty edge set."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"), w.alias("__w")
    )
    out_w = e.groupBy("__s").agg(F.sum("__w").alias("__ow"))
    e = ckpt(e.join(out_w, "__s"))
    # the dangling-node SET is static: flag it once on the node frame —
    # a node is dangling when none of its appearances is as a source
    nodes, n = counted(
        e.select(F.col("__s").alias("node"), F.lit(False).alias("__dang"))
        .unionByName(
            e.select(F.col("__d").alias("node"), F.lit(True).alias("__dang"))
        )
        .groupBy("node")
        .agg(F.bool_and("__dang").alias("__dang"))
    )
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(n)

    def step(state, _):
        (ranks,) = state
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
        return (
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

    (ranks,) = fixpoint(
        step,
        (nodes.select("node", "__dang", (F.lit(1.0) / F.lit(n)).alias("rank")),),
        max_iter=n_iter,
        what="pagerank",
    )
    return ranks.select("node", "rank")


def hits(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    ordered: bool = True,
    ordered_salts: int = 16,
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

    Scale shape: the edge and node frames are checkpointed before the
    loop; the state is one (node, authority, hub) frame, and each
    half-step is one iterutil.fixpoint round — odd rounds recompute the
    authorities from the hubs, even rounds the hubs from the
    authorities: a src/dst-keyed join+agg over the static edges plus a
    1-row norm scalar broadcast back, no driver collection, one
    checkpoint per half-step.

    Returns (node, authority, hub) for every node of either side; no
    rows for an empty edge set."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = ckpt(
        edges.select(
            F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"), w.alias("__w")
        )
    )
    nodes, n = counted(
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("authority"), F.lit(0.0).alias("hub")
        )

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

    def half_step(state, i):
        # odd rounds: authority(v) from the hubs of v's in-neighbors;
        # even rounds: hub(u) from the authorities of u's out-neighbors
        (scores,) = state
        if i % 2:
            in_key, out_key, score, new = "__s", "__d", "hub", "authority"
        else:
            in_key, out_key, score, new = "__d", "__s", "authority", "hub"
        # unnormalized out-side sum: score(u)*w over edges grouped by
        # the opposite endpoint; fold keyed by the contributing node
        contribs = e.join(
            scores.select(F.col("node").alias(in_key), score), in_key
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
        # summed is read twice (squared norm + quotient); the round's one
        # checkpoint job reuses its exchange
        norm = _norm_scalar(summed, "__u")
        return (
            scores.join(summed, "node", "left")
            .crossJoin(F.broadcast(norm))
            .withColumn(
                new,
                F.when(
                    F.col("__norm") > 0.0,
                    F.coalesce(F.col("__u"), F.lit(0.0)) / F.col("__norm"),
                ).otherwise(F.lit(0.0)),
            )
            .select("node", "authority", "hub"),
        )

    init = F.lit(1.0) / F.sqrt(F.lit(float(n)))
    (scores,) = fixpoint(
        half_step,
        (nodes.select("node", init.alias("authority"), init.alias("hub")),),
        max_iter=2 * n_iter,
        what="hits",
    )
    return scores


def label_propagation(
    edges: DataFrame,
    n_iter: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    symmetric: bool = False,
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
    static edge frame (checkpointed before the loop), one combinable
    (node, label) integer aggregation, one combinable per-node argmax,
    one left join back to the labels — all map-side-partial, no
    windows, no driver state; each round is one iterutil.fixpoint
    round. symmetric=True unions the reversed edges first
    (co-occurrence graphs arrive symmetric already — leave it off
    there).

    Returns (node, label); label is the community id."""
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
    e = ckpt(e)
    nodes = (
        e.select(F.col("__s").alias("node"))
        .unionByName(e.select(F.col("__d").alias("node")))
        .distinct()
    )

    def step(state, _):
        (labels,) = state
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
        return (
            labels.join(best, "node", "left").select(
                "node", F.coalesce("__new", "lbl").alias("lbl")
            ),
        )

    (labels,) = fixpoint(
        step,
        (nodes.select("node", F.col("node").alias("lbl")),),
        max_iter=n_iter,
        what="label_propagation",
    )
    return labels.select("node", F.col("lbl").alias("label"))


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
    adjacency (checkpointed before the loop) against the alive set per
    endpoint + one combinable integer count — no windows, no driver
    state; the rounds are iterutil.fixpoint rounds over the degree
    frame, which starts as every node at degree k (all alive). A round
    that peels the graph empty ends the loop early: every later round
    would be empty too.

    Returns (node, in_kcore, core_deg) for every node of the input
    graph — core_deg is the survivor's degree measured against the
    PREVIOUS round's alive set (the penultimate-round degree; when the
    peel converges within n_rounds this equals the degree inside the
    final subgraph, otherwise it can exceed it — consistent with the
    over-approximating contract above; 0 for peeled nodes). Requires
    n_rounds >= 1 (with 0 rounds there is no degree table to report —
    r6 ADVICE finding)."""
    if n_rounds < 1:
        raise ValueError("kcore requires n_rounds >= 1")
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = ckpt(
        und.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
            und.select(F.col("b").alias("w"), F.col("a").alias("x"))
        )
    )
    nodes = adj.select(F.col("w").alias("node")).distinct()

    def peel(state, _):
        (deg,) = state
        alive = deg.filter(F.col("core_deg") >= k).select("node")
        both = adj.join(
            alive.withColumnRenamed("node", "w"), "w"
        ).join(alive.withColumnRenamed("node", "x"), "x")
        return (
            both.groupBy(F.col("w").alias("node")).agg(
                F.count(F.lit(1)).cast("long").alias("core_deg")
            ),
        )

    (deg,) = fixpoint(
        peel,
        (nodes.select("node", F.lit(k).cast("long").alias("core_deg")),),
        max_iter=n_rounds,
        what="kcore peel",
    )
    alive = deg.filter(F.col("core_deg") >= k).select("node")
    return (
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
