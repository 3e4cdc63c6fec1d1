"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH bucketing as the scale path (bucket first, search
inside buckets — the IVF shape). The hyperplanes are generated from a
closed-form integer formula so the DuckDB oracle reproduces them exactly;
every floating-point reduction is a sequential left fold in both engines,
making the scores bit-identical (not merely close).

Scale notes: top-k broadcasts the (small) query side so the big side
never shuffles; bucketing is a pure map. At 100 TB you'd bucket once,
write bucketed, then run per-bucket top-k — both pieces are here.
"""

from __future__ import annotations

import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

LSH_NBITS = 16
HYPERPLANE_MOD = 997


def _lit_double_array(vals) -> Column:
    """Literal array<double> as ONE parsed SQL expression instead of
    len(vals)+1 py4j round trips (the PQ/IVFPQ builders embed hundreds
    of collected floats as literals; per-literal construction measured
    ~0.5-1 s of driver time per query build). repr() of a finite Python
    float is the shortest decimal that round-trips, and the SQL parser
    reads it back with correctly-rounded parsing — the resulting
    doubles are bit-identical to F.lit(v)."""
    vs = [float(v) for v in vals]
    if not all(math.isfinite(v) for v in vs):
        raise ValueError("finite doubles only")
    return F.expr(
        "array(" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in vs) + ")"
    )


def _require_ids(what: str, wanted, found) -> None:
    missing = [i for i in wanted if i not in found]
    if missing:
        raise ValueError(f"{what} ids must exist in the corpus: missing {missing}")


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (bit-identical to the DuckDB
    list_reduce twin)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(e: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(e, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors against the
    full table, rank per query. Returns (q_id, rank, neighbor_id, score).
    Deterministic: ties broken by neighbor id."""
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
        .withColumn(
            "score_raw",
            _dot(F.col("q_emb"), F.col("embedding"))
            / (_norm(F.col("q_emb")) * _norm(F.col("embedding"))),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_raw"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "rank",
            F.col(id_col).alias("neighbor_id"),
            F.col("score_raw").alias("score"),
        )
    )


def hyperplane_expr(j: int, d: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5)."""
    return ((j * 8191 + d * 524287) % HYPERPLANE_MOD) / HYPERPLANE_MOD - 0.5


@lru_cache(maxsize=None)
def _lsh_bucket_col(dim: int, nbits: int) -> Column:
    """lsh_buckets' bucket expression over col('embedding'), memoized per
    (dim, nbits) — the hyperplanes are deterministic functions of (j, d),
    so the Column tree is a data-free code artifact; building it costs
    ~0.4 s of py4j round trips per call (see dedup._shingle_text_col)."""
    e = F.col("embedding")

    # closure keeps each HOF lambda at arity 1/2 — a default arg would make
    # PySpark bind the positional index instead of the captured j
    def dot_plane(j: int) -> Column:
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda d: F.element_at(e, d + 1).cast("double")
                * (
                    ((F.lit(j * 8191) + d * 524287) % HYPERPLANE_MOD)
                    / HYPERPLANE_MOD
                    - 0.5
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    bucket = F.lit(0).cast("long")
    for j in range(nbits):
        bucket = bucket + F.when(
            dot_plane(j) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def lsh_buckets(emb: DataFrame, dim: int, nbits: int = LSH_NBITS) -> DataFrame:
    """Random-hyperplane LSH: bucket = Σ_j (dot(e, h_j) > 0) << j.
    Pure map over the table — the partitioning key for bucketed ANN."""
    return emb.select("vec_id", _lsh_bucket_col(dim, nbits).alias("bucket"))


def capped_buckets(
    buckets: DataFrame, max_bucket_size: int | None, key: str = "bucket"
) -> DataFrame:
    """Hot-bucket guard for in-bucket self-joins: drop buckets over the
    cap BEFORE the join (an over-full LSH bucket means near-constant
    vectors — boilerplate, not signal — and its k² in-bucket pairs land
    on one task). The size count is map-side combinable. Use
    dropped_buckets() on the same inputs to audit what was excluded."""
    if max_bucket_size is None:
        return buckets
    sizes = buckets.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
    ok = sizes.filter(F.col("__n") <= max_bucket_size).drop("__n")
    return buckets.join(ok, key, "left_semi")


def dropped_buckets(
    buckets: DataFrame, max_bucket_size: int | None, key: str = "bucket"
) -> DataFrame:
    """Audit twin of capped_buckets: (bucket, n_members) over the cap."""
    sizes = buckets.groupBy(key).agg(F.count(F.lit(1)).alias("n_members"))
    if max_bucket_size is None:
        return sizes.filter(F.lit(False))
    return sizes.filter(F.col("n_members") > max_bucket_size)


def embedding_neardup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    nbits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket first (the
    candidate blocker), exact cosine inside each bucket, keep pairs over
    the threshold. Returns (a, b, score), a < b. max_bucket_size excludes
    over-full buckets from pairing (see capped_buckets)."""
    b = capped_buckets(lsh_buckets(emb, dim, nbits), max_bucket_size)
    withb = emb.join(b, "vec_id")
    left = withb.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("a_emb"), "bucket"
    )
    right = withb.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("b_emb"), "bucket"
    )
    pairs = left.join(right, ["bucket"]).filter(F.col("a") < F.col("b"))
    scored = pairs.withColumn(
        "score_raw",
        _dot(F.col("a_emb"), F.col("b_emb"))
        / (_norm(F.col("a_emb")) * _norm(F.col("b_emb"))),
    )
    return scored.filter(F.col("score_raw") >= threshold).select(
        "a", "b", F.col("score_raw").alias("score")
    )


def ivf_assign(
    emb: DataFrame, centroid_ids: list[int], id_col: str = "vec_id"
) -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (deterministic
    centroid set = the vectors with the given ids; in production the
    centroids come from a k-means fit and are broadcast the same way).
    Returns (vec_id, cell, score). The probe side of IVF is
    bucketed_topk with `cell` as the bucket.

    Scale shape: broadcast centroid join, then a COMBINABLE argmax —
    max(struct(score, -cell)) per vec_id (ties to the lower cell; the
    score never passes through a negation, so its bits are untouched).
    The partial agg collapses the k-fanned join output map-side before
    the single shuffle by vec_id — a row_number window would shuffle
    and sort all k candidate rows per vector instead."""
    cents = emb.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cell"), F.col("embedding").alias("c_emb")
    )
    scored = emb.join(F.broadcast(cents)).withColumn(
        "score_raw",
        _dot(F.col("c_emb"), F.col("embedding"))
        / (_norm(F.col("c_emb")) * _norm(F.col("embedding"))),
    )
    best = F.max(
        F.struct(
            F.col("score_raw").alias("score"), (-F.col("cell")).alias("__nc")
        )
    ).alias("__b")
    return scored.groupBy(id_col).agg(best).select(
        id_col,
        (-F.col("__b.__nc")).alias("cell"),
        F.col("__b.score").alias("score"),
    )


def ivf_probe_topk(
    emb: DataFrame,
    centroid_ids: list[int],
    query_ids: list[int],
    k: int = 10,
    nprobe: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe IVF top-k — the standard recall lever for IVF ANN:
    each query searches its `nprobe` nearest cells instead of only the
    nearest one, recovering neighbors that fell just across a cell
    boundary (the IVF-ADC search loop of Jégou et al.; nprobe=1 is the
    plain probe, nprobe=#cells degenerates to brute force).

    Scale shape: corpus vectors are assigned to ONE cell each —
    broadcast centroid join, then a COMBINABLE argmax
    (max(struct(score, -cell, embedding)) per vec_id, the ivf_assign
    aggregation with the embedding carried through the struct) that
    collapses the k-fanned join output map-side before its one shuffle
    by vec_id; the query side emits (q_id, cell) rows for its nprobe
    best cells and is BROADCAST into the corpus, so the probe join adds
    no corpus shuffle and fans each corpus row out only to the queries
    probing its cell. One window for the per-query top-k.
    Returns (q_id, rank, neighbor_id, score), ties to the lower id."""
    cents = emb.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cell"), F.col("embedding").alias("c_emb")
    )
    cos = lambda a, b: _dot(a, b) / (_norm(a) * _norm(b))  # noqa: E731
    scored_cells = emb.join(F.broadcast(cents)).withColumn(
        "cell_score", cos(F.col("c_emb"), F.col("embedding"))
    )
    # (cell_score, -cell) max = best score, ties to the lower cell;
    # embedding rides along (never reached: (score, cell) is unique)
    best = F.max(
        F.struct(
            F.col("cell_score").alias("__s"),
            (-F.col("cell")).alias("__nc"),
            F.col("embedding").alias("embedding"),
        )
    ).alias("__b")
    corpus = scored_cells.groupBy(id_col).agg(best).select(
        id_col,
        F.col("__b.embedding").alias("embedding"),
        (-F.col("__b.__nc")).alias("cell"),
    )
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col("embedding").alias("q_emb")
    )
    q_cells = q.join(F.broadcast(cents)).withColumn(
        "cell_score", cos(F.col("c_emb"), F.col("q_emb"))
    )
    wp = Window.partitionBy("q_id").orderBy(F.desc("cell_score"), F.asc("cell"))
    probes = (
        q_cells.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= nprobe)
        .select("q_id", "q_emb", "cell")
    )
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn("score_raw", cos(F.col("q_emb"), F.col("embedding")))
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("score_raw"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "rank",
            F.col(id_col).alias("neighbor_id"),
            F.col("score_raw").alias("score"),
        )
    )


def _nearest_literal_centroid(
    e: Column, centroids: list[list[float]], dim: int
) -> Column:
    """argmin_cell squared-L2(e, centroid) with centroids as literals —
    sum((x_d - c_d)^2) unrolled into plain column arithmetic (dim is
    small and fixed; unrolled math stays in codegen where an HOF over a
    literal array would be interpreted). Ties break to the lower cell."""
    dists = []
    for ci, c in enumerate(centroids):
        terms = [
            (F.element_at(e, d + 1).cast("double") - F.lit(c[d])) ** 2
            for d in range(dim)
        ]
        d2 = terms[0]
        for t in terms[1:]:
            d2 = d2 + t
        dists.append(F.struct(d2.alias("d"), F.lit(ci).alias("cell")))
    return F.array_min(F.array(*dists)).getField("cell")


def ivf_assign_fitted(
    emb: DataFrame, centroids: list[list[float]], dim: int, id_col: str = "vec_id"
) -> DataFrame:
    """IVF assignment against FITTED (literal) centroids — the probe-side
    partner of kmeans_fit (ivf_assign's variant for centroids that are
    not corpus vectors). Returns (vec_id, cell). Pure map."""
    return emb.select(
        id_col,
        _nearest_literal_centroid(F.col("embedding"), centroids, dim).alias("cell"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int,
    dim: int,
    n_iter: int = 5,
    seed_ids: list[int] | None = None,
    id_col: str = "vec_id",
    ordered: bool = False,
    n_salts: int = 8,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over the embedding column — the IVF
    training step (ivf_assign consumes the result as its centroid set).

    Each iteration is two DataFrame jobs, both scale-safe:
      assignment — centroids enter as broadcast literals (k·dim doubles,
        driver-small by definition), distance argmin via a combinable
        min(struct(dist, cell)) aggregation — no window, no shuffle of
        the big side beyond the final per-vector min;
      update — posexplode to (cell, dim_idx, val), then the per-(cell,
        dim) mean; k·dim result rows collect to the driver for the next
        round's literals.

    Update-fold modes (the graphrank.pagerank ordered/combinable
    contract): `ordered=False` (web-scale default) uses a combinable
    avg — map-side partials, nothing collected, but the float sum
    order follows the partitioning, so centroids are deterministic
    only up to last-ulp addition order. `ordered=True` (oracle-parity
    mode) computes each mean as a salted two-phase SEQUENTIAL fold:
    per (cell, dim, id%n_salts) the values fold in id order, then the
    ≤n_salts partials fold in salt order — bit-identical at any
    parallelism and exactly replayable in SQL (the kg_pagerank
    precedent), with per-salt arrays bounded to cluster_size/n_salts.

    Deterministic seeds: init = the vectors with ids `seed_ids`
    (default: the k smallest ids); fixed n_iter (no data-dependent
    stopping). Empty cells keep their previous centroid. Returns the
    centroids as plain lists (broadcast-literal sized)."""
    if seed_ids is None:
        seed_ids = [
            r[0]
            for r in emb.select(id_col).orderBy(id_col).limit(k).collect()
        ]
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col(id_col).isin(seed_ids))
        .orderBy(id_col)
        .select("embedding")
        .collect()
    ]
    if len(cents) != k:
        raise ValueError("seed ids must exist")
    e = F.col("embedding")

    def _seq_fold(sort_key: Column, val: Column) -> Column:
        # sequential left-to-right double sum over sort_key order,
        # seeded 0.0 — the cross-engine bit-exact fold shape
        return F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(sort_key.alias("i"), val.alias("v"))
                    )
                ),
                lambda s: s.getField("v"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    for _ in range(n_iter):
        # squared-L2 distance to each centroid, as literal-folded exprs
        assigned = emb.select(
            F.col(id_col),
            _nearest_literal_centroid(e, cents, dim).alias("cell"),
            "embedding",
        )
        vals = assigned.select(
            F.col(id_col),
            "cell",
            F.posexplode(e).alias("dim_idx", "val"),
        ).withColumn("val", F.col("val").cast("double"))
        if ordered:
            p1 = vals.withColumn(
                "salt", F.pmod(F.col(id_col), F.lit(n_salts))
            ).groupBy("cell", "dim_idx", "salt").agg(
                _seq_fold(F.col(id_col), F.col("val")).alias("psum"),
                F.count(F.lit(1)).alias("pcnt"),
            )
            upd = p1.groupBy("cell", "dim_idx").agg(
                (
                    _seq_fold(F.col("salt"), F.col("psum"))
                    / F.sum("pcnt")
                ).alias("m")
            )
        else:
            upd = vals.groupBy("cell", "dim_idx").agg(
                F.avg("val").alias("m")
            )
        sums = upd.collect()
        new_cents = [list(c) for c in cents]
        for r in sums:
            new_cents[r["cell"]][r["dim_idx"]] = float(r["m"])
        cents = new_cents
    return cents


def bucketed_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    nbits: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Scale-path ANN: bucket every vector, then exact top-k WITHIN each
    bucket (self-join confined to buckets — the IVF probe). Returns
    (vec_id, rank, neighbor_id, score). max_bucket_size excludes over-full
    buckets from the probe (see capped_buckets)."""
    b = capped_buckets(lsh_buckets(emb, dim, nbits), max_bucket_size)
    withb = emb.join(b, "vec_id")
    left = withb.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    scored = withb.join(left, ["bucket"]).filter(
        F.col("vec_id") != F.col("q_id")
    ).withColumn(
        "score_raw",
        _dot(F.col("q_emb"), F.col("embedding"))
        / (_norm(F.col("q_emb")) * _norm(F.col("embedding"))),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "rank",
            F.col("vec_id").alias("neighbor_id"),
            F.col("score_raw").alias("score"),
        )
    )


# --- product quantization (PQ) ----------------------------------------------


def pq_codebook_from_seeds(
    emb: DataFrame,
    seed_ids: list[int],
    m: int,
    dim: int,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Seeded PQ codebook: subspace s's code c is seed vector c's s-th
    subvector — deterministic, training-free (swap in kmeans_fit per
    subspace for a trained codebook; the encode/ADC path below is
    identical either way). Returns m × k × (dim/m) plain lists
    (broadcast-literal sized: k·dim doubles)."""
    if dim % m:
        raise ValueError("dim must divide into m subspaces")
    sub = dim // m
    rows = {
        r[0]: [float(x) for x in r[1]]
        for r in emb.filter(F.col(id_col).isin(seed_ids))
        .select(id_col, "embedding")
        .collect()
    }
    _require_ids("seed", seed_ids, rows)
    seeds = [rows[i] for i in seed_ids]
    return [
        [v[s * sub : (s + 1) * sub] for v in seeds] for s in range(m)
    ]


def pq_codebook_trained(
    emb: DataFrame,
    m: int,
    k: int,
    dim: int,
    n_iter: int = 5,
    seed_ids: list[int] | None = None,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Lloyd's-TRAINED PQ codebook — the upgrade slot
    pq_codebook_from_seeds documents: subspace s's k centroids are
    kmeans_fit over the corpus's s-th subvector slice, so codewords
    track the actual per-subspace distribution instead of whatever the
    seed vectors happened to contain (real PQ quality depends on this —
    Jégou et al., 'Product Quantization for Nearest Neighbor Search').

    Deterministic like kmeans_fit (seed = the seed_ids vectors'
    subvectors, default the k smallest ids; fixed n_iter). Cost: m independent trainings of dimension dim/m —
    each iteration two scale-safe jobs (broadcast-literal assignment +
    combinable per-(cell,dim) avg); the m trainings could share one
    scan via a combined slice column, but at k·(dim/m) driver-collected
    doubles per round the simple composition is already
    broadcast-literal sized. Drop-in for the encode/ADC path: returns
    the same m × k × (dim/m) plain lists."""
    if dim % m:
        raise ValueError("dim must divide into m subspaces")
    sub = dim // m
    return [
        kmeans_fit(
            emb.select(
                id_col, F.slice(F.col("embedding"), s * sub + 1, sub).alias("embedding")
            ),
            k=k,
            dim=sub,
            n_iter=n_iter,
            seed_ids=seed_ids,
            id_col=id_col,
        )
        for s in range(m)
    ]


def _sub_sq_l2(vec: Column, start: int, centroid: list[float]) -> Column:
    """Squared L2 between vec[start:start+len(centroid)] and a literal
    centroid as a zip_with + sequential aggregate fold.

    Deliberately the HOF form, NOT _nearest_literal_centroid's unrolled
    arithmetic: PQ evaluates m·k of these per row (m=4, k=8, sub=16 ⇒
    ~2.5k expression nodes unrolled), which blows past whole-stage
    codegen's method limits and falls back to per-expression
    interpretation — measured 3.14 s unrolled vs 1.09 s HOF for the
    full encode at sf0.1. The unrolled rule holds only for small trees
    (the single-distance IVF case). Fold order is 0.0 + d_0 + d_1 + ...
    — identical to the DuckDB list_reduce twin, so distances stay
    bit-identical across engines."""
    sl = F.slice(vec, start + 1, len(centroid))
    lit = _lit_double_array(centroid)
    diffs = F.zip_with(sl, lit, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def pq_encode(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    dim: int,
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector as m one-byte codes: per subspace, the argmin
    squared-L2 centroid (array_min over (dist, code) structs — ties
    break to the lower code). Pure Column expressions — the codebook
    enters as literals, nothing shuffles. Returns (vec_id, codes
    array<int>): dim·8 bytes of float become m bytes, the 32x
    compression that makes billion-vector ANN RAM-resident. keep_cols
    pass extra columns through the projection (ivfpq_topk keeps `cell`
    so the assignment plan is never evaluated twice)."""
    m = len(codebook)
    sub = dim // m
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    code_cols = []
    for s, cents in enumerate(codebook):
        cands = F.array(
            *[
                F.struct(
                    _sub_sq_l2(v, s * sub, c).alias("d"),
                    F.lit(ci).alias("c"),
                )
                for ci, c in enumerate(cents)
            ]
        )
        code_cols.append(F.array_min(cands).getField("c"))
    return emb.select(
        F.col(id_col).alias("vec_id"),
        *[F.col(c) for c in keep_cols],
        F.array(*code_cols).alias("codes"),
    )


def pq_adc_topk(
    emb: DataFrame,
    codebook: list[list[list[float]]],
    query_ids: list[int],
    k: int,
    dim: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: each query's EXACT subvectors are
    compared to every corpus vector's CODES via a precomputed lookup
    table (query_subspace -> centroid distance, computed driver-side in
    the same fold order), so scoring a vector is m array lookups + m-1
    additions — no float vector math on the corpus side at all.

    ONE corpus pass: every query's distance is a literal-LUT column on
    the same encoded row, exploded to (q_id, neighbor_id, dist) — the
    scan/encode subtree is never duplicated per query. Each query
    excludes only ITSELF (like cosine_topk/bucketed_topk), so
    cross-query neighbors stay reachable and recall@k against the
    brute-force truth measures quantization error alone. One window
    for the per-query top-k. Returns (q_id, rank, neighbor_id, dist)."""
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    m = len(codebook)
    sub = dim // m
    q_rows = {
        r[0]: [float(x) for x in r[1]]
        for r in emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, "embedding")
        .collect()
    }
    _require_ids("query", query_ids, q_rows)
    codes = pq_encode(emb, codebook, dim, id_col)

    per_query = []
    for qid in query_ids:
        qv = q_rows[qid]
        # LUT[s][c] = ||q_s - centroid[s][c]||^2, same sequential fold
        lut = [
            [
                sum(
                    ((qv[s * sub + i] - c[i]) * (qv[s * sub + i] - c[i]) for i in range(sub)),
                    0.0,
                )
                for c in cents
            ]
            for s, cents in enumerate(codebook)
        ]
        dist = F.lit(0.0)
        for s in range(m):
            lut_arr = _lit_double_array(lut[s])
            dist = dist + F.element_at(lut_arr, F.col("codes").getItem(s) + 1)
        per_query.append(
            F.struct(F.lit(qid).alias("q_id"), dist.alias("dist"))
        )
    scored = (
        codes.select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(F.array(*per_query)).alias("qd"),
        )
        .select("neighbor_id", F.col("qd.q_id").alias("q_id"), F.col("qd.dist").alias("dist"))
        .filter(F.col("neighbor_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("int"), "neighbor_id", "dist")
    )


def ivfpq_topk(
    emb: DataFrame,
    centroid_ids: list[int],
    codebook: list[list[list[float]]],
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-ADC with RESIDUAL product quantization — the full
    billion-scale ANN shape of Jégou et al. (the FAISS IVFADC index):
    IVF partitions the corpus into cells, each vector PQ-encodes its
    residual against its cell's centroid (residuals are smaller and
    better-centered than raw vectors, so the same codebook budget
    quantizes them more accurately), and a query scores only the
    vectors in its nprobe best cells via a per-(query, cell)
    asymmetric-distance lookup table built from the QUERY's residual.

    Composition of the proven pieces, end to end in ONE corpus pass:
      assignment — the ivf_assign combinable argmax (broadcast
        centroid join, max(struct) per vector, embedding carried);
      residual — zip_with against the cell's literal centroid,
        selected by a cell-indexed literal array-of-arrays (pure map);
      encode — pq_encode's HOF subspace argmin over the residual;
      probe + LUT — driver-side: query vectors and centroids are both
        collected literals (k·dim doubles), the probe ranking uses the
        IDENTICAL sequential cosine fold as the distributed _dot, and
        LUT[s][c] = ||(q - cent_cell)_s - codebook[s][c]||² in the same
        fold order — so every float matches the DuckDB twin bit-exactly;
      score — each corpus row evaluates a per-query CASE on its cell
        (null = cell not probed, filtered), m array lookups + m-1
        additions; one window for the per-query top-k.

    Returns (q_id, rank, neighbor_id, cell, dist); ties to the lower
    neighbor id. nprobe=len(centroid_ids) scores every vector —
    degenerating to residual-PQ ADC over the whole corpus."""
    import math

    if not (query_ids and centroid_ids):
        raise ValueError("query_ids and centroid_ids must be non-empty")
    m = len(codebook)
    sub = dim // m
    cents = {
        r[0]: [float(x) for x in r[1]]
        for r in emb.filter(F.col(id_col).isin(centroid_ids))
        .select(id_col, "embedding")
        .collect()
    }
    _require_ids("centroid", centroid_ids, cents)
    cell_order = list(centroid_ids)

    # --- corpus: assign (combinable argmax by cosine), residual, encode
    cdf = emb.filter(F.col(id_col).isin(centroid_ids)).select(
        F.col(id_col).alias("cell"), F.col("embedding").alias("c_emb")
    )
    cos = lambda a, b: _dot(a, b) / (_norm(a) * _norm(b))  # noqa: E731
    scored_cells = emb.join(F.broadcast(cdf)).withColumn(
        "cell_score", cos(F.col("c_emb"), F.col("embedding"))
    )
    best = F.max(
        F.struct(
            F.col("cell_score").alias("__s"),
            (-F.col("cell")).alias("__nc"),
            F.col("embedding").alias("embedding"),
        )
    ).alias("__b")
    assigned = scored_cells.groupBy(id_col).agg(best).select(
        id_col,
        F.col("__b.embedding").alias("embedding"),
        (-F.col("__b.__nc")).alias("cell"),
    )
    # cell -> centroid literal, selected by the cell's position in
    # cell_order (array-of-arrays literal + a tiny positional CASE)
    cent_arrays = F.array(
        *[_lit_double_array(cents[c]) for c in cell_order]
    )
    pos = F.lit(None).cast("int")
    for i, c in enumerate(reversed(cell_order)):
        i = len(cell_order) - 1 - i
        pos = F.when(F.col("cell") == c, F.lit(i)).otherwise(pos)
    resid = assigned.withColumn(
        "embedding",
        F.zip_with(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            F.element_at(cent_arrays, pos + 1),
            lambda a, b: a - b,
        ),
    )
    codes = pq_encode(resid, codebook, dim, id_col, keep_cols=("cell",))

    # --- queries: probe ranking + per-(query, cell) residual LUTs,
    # all driver-side floats in the exact fold order of the twins
    q_rows = {
        r[0]: [float(x) for x in r[1]]
        for r in emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, "embedding")
        .collect()
    }
    _require_ids("query", query_ids, q_rows)

    def _cos_py(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d = d + x * y
        sa = 0.0
        for x in a:
            sa = sa + x * x
        sb = 0.0
        for y in b:
            sb = sb + y * y
        return d / (math.sqrt(sa) * math.sqrt(sb))

    per_query = []
    for qid in query_ids:
        qv = q_rows[qid]
        ranked = sorted(
            cell_order, key=lambda c: (-_cos_py(cents[c], qv), c)
        )[:nprobe]
        dist = F.lit(None).cast("double")
        for cell in ranked:
            cv = cents[cell]
            qres = [qv[i] - cv[i] for i in range(dim)]
            lut = [
                [
                    sum(
                        (
                            (qres[s * sub + i] - cc[i])
                            * (qres[s * sub + i] - cc[i])
                            for i in range(sub)
                        ),
                        0.0,
                    )
                    for cc in cb_s
                ]
                for s, cb_s in enumerate(codebook)
            ]
            d = F.lit(0.0)
            for s in range(m):
                arr = _lit_double_array(lut[s])
                d = d + F.element_at(arr, F.col("codes").getItem(s) + 1)
            dist = F.when(F.col("cell") == cell, d).otherwise(dist)
        per_query.append(F.struct(F.lit(qid).alias("q_id"), dist.alias("dist")))

    scored = (
        codes.select(
            F.col(id_col).alias("neighbor_id"),
            "cell",
            F.explode(F.array(*per_query)).alias("qd"),
        )
        .select(
            "neighbor_id", "cell",
            F.col("qd.q_id").alias("q_id"), F.col("qd.dist").alias("dist"),
        )
        .filter(F.col("dist").isNotNull() & (F.col("neighbor_id") != F.col("q_id")))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", F.col("rank").cast("int"), "neighbor_id", "cell", "dist"
        )
    )


def sq8_train(emb: DataFrame, dim: int, id_col: str = "vec_id") -> DataFrame:
    """Scalar-quantizer training (FAISS ScalarQuantizer QT_8bit shape):
    per-dimension [min, max] over the corpus — ONE combinable
    aggregation pass (min/max have exact map-side partials; no float
    ordering concerns), returning a 1-row frame (vmin, vmax:
    array<double>) that downstream encode/ADC broadcast in. Never a
    driver collect: the trained range rides the plan."""
    mins = [
        F.min(F.element_at("embedding", i + 1).cast("double")).alias(
            f"__mn{i}"
        )
        for i in range(dim)
    ]
    maxs = [
        F.max(F.element_at("embedding", i + 1).cast("double")).alias(
            f"__mx{i}"
        )
        for i in range(dim)
    ]
    return emb.agg(*mins, *maxs).select(
        F.array(*[F.col(f"__mn{i}") for i in range(dim)]).alias("vmin"),
        F.array(*[F.col(f"__mx{i}") for i in range(dim)]).alias("vmax"),
    )


def _sq8_code(i: int) -> Column:
    # code = floor((v - mn)/(mx - mn) * 255 + 0.5), clamped to [0, 255]
    # (clamp only bites for out-of-train-range vectors); degenerate
    # dimensions (mx == mn) encode 0. floor(x + 0.5) — never round():
    # engines disagree on round's tie mode, floor is IEEE-pinned.
    v = F.element_at("embedding", i + 1).cast("double")
    mn = F.element_at("vmin", i + 1)
    mx = F.element_at("vmax", i + 1)
    t = F.floor((v - mn) / (mx - mn) * F.lit(255.0) + F.lit(0.5))
    code = F.least(F.greatest(t, F.lit(0.0)), F.lit(255.0))
    return F.when(mx > mn, code).otherwise(F.lit(0.0)).cast("int")


def sq8_encode(
    emb: DataFrame, trained: DataFrame, dim: int, id_col: str = "vec_id"
) -> DataFrame:
    """8-bit scalar quantization: every float component -> one byte
    against the broadcast per-dim range (4x compression at dim float32,
    no codebook, no subspace structure — the cheap sibling of
    pq_encode). Pure per-row math in the scan. Returns
    (vec_id, codes: array<int>)."""
    return (
        emb.crossJoin(F.broadcast(trained))
        .select(
            F.col(id_col).alias("vec_id"),
            F.array(*[_sq8_code(i) for i in range(dim)]).alias("codes"),
        )
    )


def sq8_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    dim: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric top-k over scalar-quantized codes: the corpus is
    sq8-encoded (train -> encode in the same plan), each code
    reconstructs to mn + c/255*(mx-mn), and every query's EXACT vector
    scores the reconstruction by squared L2 — a per-row index-ordered
    fold, bit-replayable in the DuckDB twin. ONE corpus pass: all
    query distances are columns on the same encoded row, exploded to
    (q_id, neighbor_id, dist); per-query top-k by one window. Each
    query excludes only itself, so recall against the brute-force
    truth measures quantization error alone (the pq_adc_topk
    contract). Returns (q_id, rank, neighbor_id, dist)."""
    if not query_ids:
        raise ValueError("query_ids must be non-empty")
    q_rows = {
        r[0]: [float(x) for x in r[1]]
        for r in emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, "embedding")
        .collect()
    }
    _require_ids("query", query_ids, q_rows)
    trained = sq8_train(emb, dim, id_col)
    enc = emb.crossJoin(F.broadcast(trained)).select(
        F.col(id_col).alias("neighbor_id"),
        F.array(*[_sq8_code(i) for i in range(dim)]).alias("codes"),
        "vmin",
        "vmax",
    )
    recon = F.expr(
        "transform(sequence(1, size(codes)), i -> "
        "element_at(vmin, i) + CAST(element_at(codes, i) AS DOUBLE) / 255.0D"
        " * (element_at(vmax, i) - element_at(vmin, i)))"
    )
    enc = enc.select("neighbor_id", recon.alias("__r"))
    per_query = []
    for qid in query_ids:
        qv = F.array(*[F.lit(x).cast("double") for x in q_rows[qid]])
        dist = F.aggregate(
            F.zip_with(qv, F.col("__r"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        per_query.append(
            F.struct(F.lit(qid).alias("q_id"), dist.alias("dist"))
        )
    scored = (
        enc.select(
            "neighbor_id", F.explode(F.array(*per_query)).alias("qd")
        )
        .select(
            "neighbor_id",
            F.col("qd.q_id").alias("q_id"),
            F.col("qd.dist").alias("dist"),
        )
        .filter(F.col("neighbor_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("int"), "neighbor_id", "dist")
    )
