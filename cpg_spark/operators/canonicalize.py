"""Canonicalize stage: cross-partition connected components.

The TypeResolver-dedup / Tarjan-SCC analog (reference
passes/TypeResolver.kt:107-144 unifies duplicate types globally;
helper/Components.kt:79-131 runs recursive Tarjan on the driver). Neither
survives 10^12 rows, so this is the alternating large-star / small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond") — O(log n) rounds of pure DataFrame joins, each round
checkpointed to truncate lineage, deterministic via lexicographic min on
content-hash ids.

Dictionary-sized inputs (at most DRIVER_THRESHOLD edges or alias groups)
take the reference's driver path instead: one collect, a union-find or
Tarjan pass on the driver, and the result handed back as a local
relation built from an Arrow table (a LocalTableScan; no Python
worker). canonical_map, the pipeline's `components` stage, is one such
action over the alias dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import local_frame
from .iterutil import ckpt, closure, counted, fixpoint

# at or under this many edges (connected_components, scc) or alias groups
# (canonical_map) the graph is solved on the driver
DRIVER_THRESHOLD = 10_000


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: connect all strictly larger neighbors to
    min(neighborhood ∪ {u}).

    No dedup here (r7): _small_star consumes this output through a
    min() aggregation (duplicate-insensitive) and dedups its own round
    output, so the extra exchange bought nothing — one fewer shuffle
    per iteration."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient high->low, then for each u: connect all low neighbors and u
    itself to the minimum."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return out


def _union_roots(groups) -> dict:
    """member -> root for every member of `groups` (iterables of members
    that belong together): driver-side union-find, root = the min member
    of its component."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for group in groups:
        roots = set()
        for m in group:
            parent.setdefault(m, m)
            roots.add(find(m))
        if roots:
            root = min(roots)
            for r in roots:
                parent[r] = root
    return {m: find(m) for m in parent}


def _pairs_frame(spark, pairs, dtype, nullable: bool = True) -> DataFrame:
    """(member_id, component_id) rows computed on the driver, as a local
    relation (see schema.local_frame)."""
    cols = ("member_id", "component_id")
    return local_frame(
        spark, pairs, T.StructType([T.StructField(c, dtype, nullable) for c in cols])
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """(member_id, component_id) for every node appearing in `edges`;
    component_id = lexicographic min member id.

    Edge sets of at most `driver_threshold` non-self-loop rows run as a
    driver-side union-find: one bounded collect of at most
    driver_threshold + 1 rows, solved on the driver if they all fit (a
    collect beats log(n) shuffle rounds; the reference runs Tarjan on
    the driver unconditionally, Components.kt:97-131). Larger graphs run
    the alternating-star loop, each iteration checkpointed (see
    iterutil); convergence = stable (count, checksum) of the edge set.
    driver_threshold=0 takes no collect and always runs the loop.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    if driver_threshold > 0:
        # one partition: the bounded read is one job, not a scan that
        # widens partition by partition until it has enough rows
        rows = e.coalesce(1).limit(driver_threshold + 1).collect()
        if len(rows) <= driver_threshold:
            # a repeated edge unions the same roots again
            roots = _union_roots(rows)
            dtype = e.schema["u"].dataType
            return _pairs_frame(e.sparkSession, sorted(roots.items()), dtype)
    e = ckpt(e.distinct())
    # layout: AQE's partition coalescing already collapses each round's
    # tiny exchanges for dictionary-sized graphs, so the former explicit
    # nparts repartition (one extra exchange per round) bought nothing —
    # measured ~1s/run slower at 147k edges (r7); web-sized graphs keep
    # the session's width either way

    all_nodes = ckpt(
        e.select(F.col("u").alias("member_id"))
        .union(e.select(F.col("v").alias("member_id")))
        .distinct()
    )
    (e,) = fixpoint(
        lambda s, _: (_small_star(_large_star(s[0])),),
        (e,),
        max_iter=max_iter,
        what="connected_components star loop",
        key=("u", "v"),
        must_converge=True,
    )

    # converged: e is a forest of depth-1 stars (u -> root), u > root;
    # min() guards against a node carrying two star edges at the cap
    labels = e.groupBy(F.col("u").alias("member_id")).agg(
        F.min("v").alias("component_id")
    )
    return (
        all_nodes.join(labels, "member_id", "left")
        .select(
            "member_id",
            F.coalesce("component_id", "member_id").alias("component_id"),
        )
    )


def bfs_reach(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    honor_unreachable: bool = True,
    with_pred: bool = False,
) -> DataFrame:
    """All nodes reachable from `seeds` (column `node`) following edges
    forward, with minimal hop count — the reference's BFS path followers
    (Extensions.kt:210-435 followNextDFGEdgesUntilHit et al.) as
    iterative frontier joins with an anti-join visited set.

    with_pred=True additionally returns each node's shortest-path
    predecessor (`pred`, NULL for seeds; deterministic min-id tie-break
    among equal-hop discoverers) — the (pred → node) pairs are exactly
    a shortest-path tree's PATH EDGES, the reference's
    SubgraphWalker.getEOGPathEdges result shape (SubgraphWalker.java:
    193-231 returns the edges along the walked path, not just the
    reached set); following pred links from any node reconstructs one
    shortest path without ever materializing unbounded path arrays.

    If the edge table carries an `unreachable` flag (emitted by
    extract.flag_unreachable_edges, the UnreachableEOGPass analog) and
    honor_unreachable is True, dead edges are skipped — the consumption
    pattern of the reference's ControlFlowSensitiveDFGPass.kt:211-213,
    which refuses to follow EOG edges marked unreachable.

    Each round: frontier ⋈ edges → candidates, minus visited (anti-join),
    on iterutil.closure. Terminates when the frontier empties or
    max_hops. The
    edge set is materialized ONCE up front (same as connected_components)
    — without this, every hop re-executes the edge table's upstream
    lineage (e.g. a tokenize/chunk kernel), multiplying the scan cost by
    the graph diameter."""
    if honor_unreachable and "unreachable" in edges.columns:
        edges = edges.filter(~F.coalesce(F.col("unreachable"), F.lit(False)))
    edges, n_edges = counted(edges.select(src, dst))
    # adaptive layout, same rationale as connected_components: a
    # metadata-sized graph must not pay full shuffle width times the
    # graph diameter in driver round-trips; a web-sized graph keeps the
    # session's width
    spark = edges.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    nparts = max(1, min(width, n_edges // 50_000 + 1))
    if nparts < width:
        edges = ckpt(edges.repartition(nparts, src))
    seed_cols = [F.col("node"), F.lit(0).alias("hops")]
    if with_pred:
        node_type = edges.schema[src].dataType
        seed_cols.append(F.lit(None).cast(node_type).alias("pred"))
    seeds = ckpt(seeds.select(*seed_cols))

    def hop(frontier, visited, h):
        if with_pred:
            cand = frontier.join(edges, frontier["node"] == edges[src]).select(
                F.col(dst).alias("__nxt"), frontier["node"].alias("__p")
            )
            nxt = (
                cand.groupBy("__nxt")
                .agg(F.min("__p").alias("pred"))
                .withColumnRenamed("__nxt", "node")
                .join(visited.select("node"), "node", "left_anti")
                .select("node", F.lit(h).alias("hops"), "pred")
            )
        else:
            nxt = (
                frontier.join(edges, frontier["node"] == edges[src])
                .select(F.col(dst).alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .select("node", F.lit(h).alias("hops"))
            )
        return nxt

    return closure(hop, seeds, max_iter=max_hops, what="bfs_reach")


def bfs_reach_grouped(
    edges: DataFrame,
    seeds: DataFrame,
    group_col: str,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 64,
    honor_unreachable: bool = True,
) -> DataFrame:
    """Per-group BFS twin of bfs_reach for graphs that are MANY SMALL
    components keyed by a group column (one graph per document/function
    — the dominant shape at 10^12-document scale). The global frontier
    loop pays one driver round-trip per hop, so its wall-clock grows
    with the DIAMETER of the largest graph; this grouped-map pandas
    variant solves every group's walk locally in one shuffle — hop
    count bounded per group, millions of groups in parallel, zero
    driver iterations. Same unreachable-edge consumption contract.

    edges(group_col, src, dst[, unreachable]), seeds(group_col, node).
    Returns (group_col, node, hops) with minimal hops — identical to
    bfs_reach run per group (golden-tested equivalence).

    Edges and seeds are unioned into one tagged frame — NOT a cogroup:
    both inputs routinely derive from the same upstream frame (one
    chunk table feeding both sides), and the cogroup analyzer rejects
    group keys whose attribute ids collide across sides
    (ambiguous-self-join check), while a union of the two is always
    well-formed.

    r7 shape: PARTITION-STREAMING mapInPandas instead of
    groupBy().applyInPandas. The per-GROUP grouped-map path pays one
    Python invocation + one pandas DataFrame construction per group —
    at millions of dictionary-sized groups that fixed cost dwarfs the
    walks themselves (guide §2.3: grouped-map ships and frames every
    row; measured 6.6s -> ~2s on the 50k-group corpus EOG). Here the
    tagged frame is hash-repartitioned by the group key and sorted
    within partitions so groups are contiguous; ONE Python call per
    Arrow batch then walks every complete group with numpy slicing,
    carrying the open tail group across batch boundaries. Same single
    shuffle, identical output rows."""
    if honor_unreachable and "unreachable" in edges.columns:
        edges = edges.filter(~F.coalesce(F.col("unreachable"), F.lit(False)))
    e = edges.select(
        group_col,
        F.col(src).alias("__a"),
        F.col(dst).alias("__b"),
        F.lit(False).alias("__is_seed"),
    )
    s = seeds.select(
        group_col,
        F.col("node").alias("__a"),
        F.col("node").alias("__b"),
        F.lit(True).alias("__is_seed"),
    )
    both = e.unionByName(s)
    # explicit hash repartition by the group key (AQE may not coalesce a
    # user repartition, so the Python stage keeps the session's width),
    # then a local sort makes each group contiguous for the stream walk
    spark = both.sparkSession
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    both = both.repartition(width, group_col).sortWithinPartitions(group_col)
    ftypes = {f.name: f.dataType.simpleString() for f in e.schema.fields}
    out_schema = f"{group_col} {ftypes[group_col]}, node {ftypes['__a']}, hops int"

    def run(batches):
        import numpy as np
        import pandas as pd

        def walk_group(a, b, sd, key, out):
            adj: dict = {}
            for x, y, is_sd in zip(a, b, sd):
                if not is_sd:
                    adj.setdefault(x, []).append(y)
            seen: dict = {}
            frontier = sorted({x for x, is_sd in zip(a, sd) if is_sd})
            hops = 0
            while frontier and hops <= max_hops:
                nxt = set()
                for n in frontier:
                    if n not in seen:
                        seen[n] = hops
                        nxt.update(t for t in adj.get(n, ()) if t not in seen)
                frontier = sorted(nxt)
                hops += 1
            out[0].extend([key] * len(seen))
            out[1].extend(seen.keys())
            out[2].extend(seen.values())

        def process(pdf, out):
            keys = pdf[group_col].to_numpy()
            a = pdf["__a"].to_numpy()
            b = pdf["__b"].to_numpy()
            sd = pdf["__is_seed"].to_numpy()
            cuts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [len(keys)]))
            for st, en in zip(starts, ends):
                walk_group(a[st:en], b[st:en], sd[st:en], keys[st], out)

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            keys = pdf[group_col].to_numpy()
            # hold back the trailing (possibly batch-split) group
            cut = int(np.searchsorted(keys, keys[-1], side="left"))
            carry = pdf.iloc[cut:]
            head = pdf.iloc[:cut]
            if len(head):
                out = ([], [], [])
                process(head, out)
                if out[0]:
                    yield pd.DataFrame(
                        {group_col: out[0], "node": out[1], "hops": out[2]}
                    )
        if carry is not None and len(carry):
            out = ([], [], [])
            process(carry, out)
            if out[0]:
                yield pd.DataFrame(
                    {group_col: out[0], "node": out[1], "hops": out[2]}
                )

    return both.mapInPandas(run, out_schema)


def _tarjan_driver(e: DataFrame) -> DataFrame:
    """Driver-side iterative Tarjan for dictionary-sized directed graphs —
    the reference runs recursive Tarjan on the driver unconditionally
    (helper/Components.kt:79-131); iterative here so deep chains don't
    blow the Python recursion limit. component_id = min member id."""
    rows = e.collect()
    adj: dict = {}
    nodes: set = set()
    for r in rows:
        adj.setdefault(r["u"], []).append(r["v"])
        nodes.add(r["u"])
        nodes.add(r["v"])
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0
    for start in sorted(nodes):
        if start in index:
            continue
        work = [(start, iter(adj.get(start, ())))]
        index[start] = low[start] = counter
        counter += 1
        stack.append(start)
        on_stack.add(start)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    advanced = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if advanced:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                root = min(members)
                for m in members:
                    comp[m] = root
    return _pairs_frame(e.sparkSession, sorted(comp.items()), e.schema["u"].dataType)


def scc(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph:
    (member_id, component_id) for every node in `edges`, component_id =
    min member id of the SCC. The directed twin of connected_components —
    the reference needs SCCs of the grammar graph in reverse topological
    order (Components.kt:79-131); undirected CC over-merges there.

    Scale path: the coloring algorithm (Orzan / Salihoglu-Widom
    FW-BW-MIN): (1) propagate the minimum reaching node id forward to a
    fixpoint — color(v) = min{u : u →* v or u = v}; (2) nodes whose color
    equals themselves are roots, and the backward reachability of a root
    INSIDE its color class is exactly SCC(root); (3) peel those off,
    repeat on the remainder. Each outer round removes every current
    root's SCC, so rounds ≤ longest chain of SCCs. All steps are joins +
    map-side-combinable min-aggregations; per-iteration checkpoint as in
    connected_components."""
    e, n_edges = counted(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    if n_edges <= driver_threshold:
        return _tarjan_driver(e)

    remaining = ckpt(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )

    def peel(state, _):
        remaining, er, done = state

        def min_label(s, _):
            (color,) = s
            incoming = (
                er.join(
                    color.select(F.col("node").alias("u"), F.col("color").alias("cu")),
                    "u",
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.min("cu").alias("mc"))
            )
            return (
                color.join(incoming, "node", "left").select(
                    "node",
                    F.least(F.col("color"), F.coalesce("mc", "color")).alias("color"),
                ),
            )

        def back_reach(frontier, found, _):
            return (
                frontier.join(
                    ec, (frontier["node"] == ec["v"]) & (frontier["color"] == ec["c"])
                )
                .select(F.col("u").alias("node"), F.col("c").alias("color"))
                .distinct()
                .join(found, ["node", "color"], "left_anti")
            )

        # (1) forward min-label propagation to fixpoint
        (color,) = fixpoint(
            min_label,
            (remaining.select("node", F.col("node").alias("color")),),
            max_iter=max_iter,
            what="scc min-label propagation",
            key=("node", "color"),
            must_converge=True,
        )
        # (2) backward reach of each root inside its color class
        ec = ckpt(
            er.join(
                color.select(F.col("node").alias("u"), F.col("color").alias("c_u")),
                "u",
            )
            .join(
                color.select(F.col("node").alias("v"), F.col("color").alias("c_v")),
                "v",
            )
            .filter(F.col("c_u") == F.col("c_v"))
            .select("u", "v", F.col("c_u").alias("c"))
        )
        found = closure(
            back_reach,
            color.filter(F.col("node") == F.col("color")),
            max_iter=max_iter,
            what="scc backward reach",
            must_converge=True,
        )
        # (3) peel found SCCs off
        scc_nodes = found.select("node")
        return (
            remaining.join(scc_nodes, "node", "left_anti"),
            er.join(scc_nodes.select(F.col("node").alias("u")), "u", "left_anti")
            .join(scc_nodes.select(F.col("node").alias("v")), "v", "left_anti"),
            done.unionByName(found),
        )

    none = remaining.select("node", F.col("node").alias("color")).limit(0)
    _, _, done = fixpoint(
        peel,
        (remaining, e, none),
        max_iter=max_iter,
        what="scc peel loop",
        must_converge=True,
    )
    return done.select(
        F.col("node").alias("member_id"), F.col("color").alias("component_id")
    )


def compress_chains(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 32,
) -> DataFrame:
    """Graph compression: contract chains of interior nodes (in-degree 1
    AND out-degree 1) into single edges — the CompressLLVMPass analog
    (reference cpg-language-llvm/.../CompressLLVMPass.kt:41-80 inlines
    basic blocks whose label is referenced by exactly ONE goto; an
    interior node here is exactly a single-entry single-exit block).

    Returns (src, dst, hops): each surviving edge starts and ends at a
    non-interior node, hops = 1 + number of contracted interior nodes.
    Pure cycles of interior nodes have no non-interior entry and drop
    out entirely (they are unreachable control flow, like an orphaned
    basic-block loop). Pointer doubling: O(log chain-length) rounds,
    with f split into rows still landing on an interior node (`pend`)
    and `done`. Chains strictly shrink `pend`; once its nodes stop
    changing it holds only pure cycles, so the loop stops there."""
    e = ckpt(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    indeg = e.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("__in"))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("__out"))
    interior = ckpt(
        indeg.join(outdeg, "node")
        .filter((F.col("__in") == 1) & (F.col("__out") == 1))
        .select("node")
    )
    # f: for each interior node, where its (unique) outgoing edge lands
    # and how many steps that represents; doubling composes f with itself
    f = e.join(interior, e["src"] == interior["node"]).select(
        F.col("src").alias("node"),
        F.col("dst").alias("nxt"),
        F.lit(1).cast("long").alias("steps"),
    )
    lands_interior = interior.withColumnRenamed("node", "nxt")

    def double(state, _):
        pend, done = state

        def compose(g: DataFrame) -> DataFrame:
            g = g.select(
                F.col("node").alias("__gn"),
                F.col("nxt").alias("__gx"),
                F.col("steps").alias("__gs"),
            )
            return pend.join(g, F.col("nxt") == F.col("__gn")).select(
                "node",
                F.col("__gx").alias("nxt"),
                (F.col("steps") + F.col("__gs")).alias("steps"),
            )

        return compose(pend), done.unionByName(compose(done))

    pend, done = fixpoint(
        double,
        (
            f.join(lands_interior, "nxt", "left_semi"),
            f.join(lands_interior, "nxt", "left_anti"),
        ),
        max_iter=max_iter,
        what="compress_chains",
        key=("node",),
    )
    f = done.unionByName(pend)
    starts = e.join(interior, e["src"] == interior["node"], "left_anti")
    fmap = f.select(
        F.col("node").alias("__fn"), F.col("nxt").alias("__fx"), F.col("steps").alias("__fs")
    )
    return (
        starts.join(fmap, starts["dst"] == fmap["__fn"], "left")
        .select(
            "src",
            F.coalesce("__fx", "dst").alias("dst"),
            (F.lit(1) + F.coalesce("__fs", F.lit(0))).cast("int").alias("hops"),
        )
        .distinct()
    )


def dict_duplicate_edges(alias_dict: DataFrame) -> DataFrame:
    """Candidate-entity duplicate edges: entities sharing an
    (alias, entity_type) are duplicate candidates (the TypeResolver
    equal-type signal). Emitted as (root=min member, member) star edges
    per group — already near-canonical, CC then merges overlapping
    groups (the chain fixture)."""
    grouped = alias_dict.groupBy("alias", "entity_type").agg(
        F.min("entity_id").alias("src"),
        F.collect_set("entity_id").alias("members"),
    )
    return (
        grouped.select("src", F.explode("members").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def canonical_map(alias_dict: DataFrame) -> DataFrame:
    """member_id -> component_id over dictionary-duplicate edges, covering
    ALL dictionary entities (singletons map to themselves).

    A dictionary is driver-sized, so it is solved in one action: the
    (alias, entity_type) member sets are collected (at most
    DRIVER_THRESHOLD + 1 of them) and a driver union-find emits
    (member, root) for every member; every entity is in some group, so
    no separate pass collects the singletons. A dictionary with more
    groups runs dict_duplicate_edges -> connected_components and joins
    the singletons back."""
    groups = (
        alias_dict.groupBy("alias", "entity_type")
        .agg(F.collect_set("entity_id").alias("members"))
        .select("members")
        .limit(DRIVER_THRESHOLD + 1)
        .collect()
    )
    if len(groups) <= DRIVER_THRESHOLD:
        field = alias_dict.schema["entity_id"]
        roots = _union_roots(r["members"] for r in groups)
        return _pairs_frame(
            alias_dict.sparkSession, sorted(roots.items()), field.dataType, field.nullable
        )
    edges = dict_duplicate_edges(alias_dict)
    cc = connected_components(edges)
    everyone = alias_dict.select(F.col("entity_id").alias("member_id")).distinct()
    return everyone.join(cc, "member_id", "left").select(
        "member_id", F.coalesce("component_id", "member_id").alias("component_id")
    )
