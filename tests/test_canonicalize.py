"""Connected-components tests (TypeResolver/Tarjan analog) — fixture
shapes per FIXTURES.md §5 plus a randomized cross-check against a pure
python union-find."""

import random

from cpg_spark.operators.canonicalize import canonical_map, connected_components


def _cc_py(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for u, v in edges:
        union(u, v)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["member_id"]: r["component_id"]
        for r in connected_components(df).collect()
    }
    exp = _cc_py(edges)
    # python CC uses path compression; normalize to min-of-component
    comp = {}
    for n, r in exp.items():
        comp.setdefault(r, []).append(n)
    exp_min = {n: min(m) for r, m in comp.items() for n in m}
    assert got == exp_min


def test_chain(spark):
    _run(spark, [("a", "b"), ("b", "c"), ("c", "d")])


def test_star(spark):
    _run(spark, [("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("hub", "s4")])


def test_two_components_and_selfloop(spark):
    _run(spark, [("a", "b"), ("x", "y"), ("y", "z"), ("a", "a")])


def test_skewed_component(spark):
    edges = [("hot", f"m{i}") for i in range(50)] + [("m0", "m49")]
    _run(spark, edges)


def test_long_path_converges_logarithmically(spark):
    """24-node path: O(log n) large/small-star rounds must converge well
    under the iteration cap (scale property, not just correctness)."""
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(23)]
    _run(spark, edges)


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = [f"v{i:02d}" for i in range(40)]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(35)]
    _run(spark, edges)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(df).count() == 0


def test_canonical_map_matches_golden(spark, alias_df, corpus):
    got = {
        r["member_id"]: r["component_id"] for r in canonical_map(alias_df).collect()
    }
    exp = {r["member_id"]: r["component_id"] for r in corpus["expected_components"]}
    assert got == exp


def test_canonical_map_over_threshold_matches_golden(spark, alias_df, corpus, monkeypatch):
    """Past DRIVER_THRESHOLD alias groups, canonical_map runs the
    duplicate-edge CC and joins the singletons back: same map, same
    schema as the one-action driver path."""
    from cpg_spark.operators import canonicalize

    driver = canonical_map(alias_df)
    monkeypatch.setattr(canonicalize, "DRIVER_THRESHOLD", 0)
    joined = canonical_map(alias_df)
    assert "Join" in joined._jdf.queryExecution().executedPlan().toString()
    assert joined.schema == driver.schema
    got = {r["member_id"]: r["component_id"] for r in joined.collect()}
    exp = {r["member_id"]: r["component_id"] for r in corpus["expected_components"]}
    assert got == exp


def test_driver_paths_start_no_python_worker(spark, alias_df):
    """The driver-side results (canonical_map, CC union-find, SCC Tarjan)
    come back as a local relation built from an Arrow table, not as
    parallelized pickled rows, which a Python worker would deserialize."""
    from cpg_spark.operators.canonicalize import scc

    edges = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (7, 8)], "src long, dst long")
    for what, df in (
        ("canonical_map", canonical_map(alias_df)),
        ("connected_components", connected_components(edges)),
        ("scc", scc(edges)),
    ):
        assert df.collect(), what
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (what, plan)


# --- directed SCC ------------------------------------------------------------

from cpg_spark.operators.canonicalize import bfs_reach, scc  # noqa: E402
from cpg_spark.operators.extract import flag_unreachable_edges  # noqa: E402


def _scc_py(edges):
    """Pure-python Kosaraju for the golden side."""
    nodes = sorted({x for e in edges for x in e})
    adj, radj = {}, {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        radj.setdefault(v, []).append(u)
    seen, order = set(), []
    for s in nodes:
        if s in seen:
            continue
        stack = [(s, iter(adj.get(s, ())))]
        seen.add(s)
        while stack:
            v, it = stack[-1]
            for w in it:
                if w not in seen:
                    seen.add(w)
                    stack.append((w, iter(adj.get(w, ()))))
                    break
            else:
                order.append(v)
                stack.pop()
    comp = {}
    for s in reversed(order):
        if s in comp:
            continue
        members, stack = [], [s]
        comp[s] = s
        while stack:
            v = stack.pop()
            members.append(v)
            for w in radj.get(v, ()):
                if w not in comp:
                    comp[w] = s
                    stack.append(w)
        root = min(members)
        for m in members:
            comp[m] = root
    return comp


SCC_EDGES = [
    (1, 2), (2, 3), (3, 1),      # 3-cycle
    (3, 4), (4, 5),              # DAG tail
    (5, 10), (10, 11), (11, 10), # bridge into a 2-cycle
    (20, 21),                    # disconnected DAG pair
]
SCC_EXPECTED = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 10: 10, 11: 10, 20: 20, 21: 21}


def test_scc_tarjan_planted(spark):
    df = spark.createDataFrame(SCC_EDGES, "src long, dst long")
    got = {r["member_id"]: r["component_id"] for r in scc(df).collect()}
    assert got == SCC_EXPECTED == _scc_py(SCC_EDGES)


def test_scc_distributed_matches_tarjan(spark):
    """driver_threshold=0 forces the coloring scale path; must agree with
    driver Tarjan and the pure-python golden on the planted graph."""
    df = spark.createDataFrame(SCC_EDGES, "src long, dst long")
    got = {r["member_id"]: r["component_id"]
           for r in scc(df, driver_threshold=0).collect()}
    assert got == SCC_EXPECTED


def test_scc_random_matches_python(spark):
    rng = random.Random(13)
    nodes = list(range(30))
    edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)})
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["member_id"]: r["component_id"] for r in scc(df).collect()}
    assert got == _scc_py(edges)


def test_scc_does_not_overmerge_like_cc(spark):
    """A directed chain is one undirected component but n SCCs — the
    reason Components.kt needs SCC, not CC."""
    edges = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["member_id"]: r["component_id"] for r in scc(df).collect()}
    assert got == {i: i for i in range(6)}
    cc = {r["member_id"]: r["component_id"]
          for r in connected_components(df).collect()}
    assert set(cc.values()) == {0}


# --- unreachable-edge flags --------------------------------------------------


def test_flag_unreachable_and_bfs_skip(spark):
    """UnreachableEOGPass analog end to end: edges contradicting their
    guard's folded condition are flagged, and bfs_reach refuses to follow
    them; NULL conditions / unconditional edges stay reachable."""
    rows = [
        # (src, dst, branch, cond_value)
        (0, 1, "true", True),    # live
        (0, 2, "false", True),   # dead: cond folds true, false-branch
        (1, 3, "true", False),   # dead
        (1, 4, "false", False),  # live
        (4, 5, None, None),      # unconditional -> live
        (5, 6, "true", None),    # condition didn't fold -> conservative live
    ]
    edges = spark.createDataFrame(
        rows, "src long, dst long, branch string, cond_value boolean"
    )
    flagged = flag_unreachable_edges(edges)
    dead = {(r["src"], r["dst"]) for r in flagged.collect() if r["unreachable"]}
    assert dead == {(0, 2), (1, 3)}
    seeds = spark.createDataFrame([(0,)], "node long")
    reached = {r["node"]: r["hops"] for r in bfs_reach(flagged, seeds).collect()}
    assert reached == {0: 0, 1: 1, 4: 2, 5: 3, 6: 4}
    # honor_unreachable=False follows everything
    all_reached = {r["node"] for r in
                   bfs_reach(flagged, seeds, honor_unreachable=False).collect()}
    assert all_reached == {0, 1, 2, 3, 4, 5, 6}


# --- reliable checkpointing --------------------------------------------------


def test_reliable_checkpoint_converges_identically(
    spark, tmp_path, restore_checkpoint_dir
):
    """A context checkpoint directory swaps localCheckpoint for reliable
    checkpoint(); the star loop must converge to identical results."""
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(23)]
    df = spark.createDataFrame(edges, "src string, dst string")
    base = {r["member_id"]: r["component_id"]
            for r in connected_components(df, driver_threshold=0).collect()}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    rel = {r["member_id"]: r["component_id"]
           for r in connected_components(df, driver_threshold=0).collect()}
    assert any((tmp_path / "ck").iterdir())  # the rounds went to this dir
    assert base == rel == {f"n{i:03d}": "n000" for i in range(24)}


# --- chain compression (CompressLLVMPass analog) -------------------------------

from cpg_spark.operators.canonicalize import compress_chains  # noqa: E402


def test_compress_chains_planted(spark):
    """Chain a->b->c->d with a detour a->x->d: interior nodes b,c,x
    contract; d (in-degree 2) and a (out-degree 2) survive."""
    edges = [(1, 2), (2, 3), (3, 4), (1, 10), (10, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["src"], r["dst"], r["hops"]) for r in compress_chains(df).collect()}
    assert got == {(1, 4, 3), (1, 4, 2)}


def test_compress_chains_long_chain_log_rounds(spark):
    """A 40-node chain collapses to one edge with hops=40 — pointer
    doubling, not per-node rounds."""
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [(r["src"], r["dst"], r["hops"]) for r in compress_chains(df).collect()]
    assert got == [(0, 40, 40)]


def test_compress_chains_pure_cycle_drops(spark):
    """An all-interior cycle has no non-interior entry: it disappears
    (orphaned basic-block loop); a separate normal edge is untouched."""
    edges = [(1, 2), (2, 3), (3, 1), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["src"], r["dst"], r["hops"]) for r in compress_chains(df).collect()}
    assert got == {(10, 11, 1)}


def test_bfs_reach_grouped_matches_global(spark):
    """The per-group cogrouped BFS (the many-small-graphs scale shape)
    is golden-equal to the global frontier loop on the same graphs,
    including unreachable-edge consumption."""
    from pyspark.sql import functions as F

    from cpg_spark.operators.canonicalize import bfs_reach, bfs_reach_grouped

    edges = spark.createDataFrame(
        [
            # group g1: chain 1->2->3 with a dead edge 2->4
            ("g1", 1, 2, False), ("g1", 2, 3, False), ("g1", 2, 4, True),
            # group g2: diamond 1->2, 1->3, 2->4, 3->4
            ("g2", 1, 2, False), ("g2", 1, 3, False),
            ("g2", 2, 4, False), ("g2", 3, 4, False),
            # group g3: cycle 1->2->1 plus tail 2->3
            ("g3", 1, 2, False), ("g3", 2, 1, False), ("g3", 2, 3, False),
        ],
        "g string, src long, dst long, unreachable boolean",
    )
    seeds = spark.createDataFrame(
        [("g1", 1), ("g2", 1), ("g3", 1)], "g string, node long"
    )
    grouped = {
        (r["g"], r["node"]): r["hops"]
        for r in bfs_reach_grouped(edges, seeds, "g").collect()
    }
    # global equivalent: composite node ids per group
    comp_edges = edges.select(
        F.concat_ws("#", "g", F.col("src").cast("string")).alias("src"),
        F.concat_ws("#", "g", F.col("dst").cast("string")).alias("dst"),
        "unreachable",
    )
    comp_seeds = seeds.select(
        F.concat_ws("#", "g", F.col("node").cast("string")).alias("node")
    )
    global_ = {
        tuple(r["node"].split("#")): r["hops"]
        for r in bfs_reach(comp_edges, comp_seeds).collect()
    }
    global_ = {(g, int(n)): h for (g, n), h in global_.items()}
    assert grouped == global_
    assert grouped[("g1", 3)] == 2 and ("g1", 4) not in grouped
    assert grouped[("g2", 4)] == 2
    assert grouped[("g3", 3)] == 2


def test_bfs_with_pred_builds_shortest_path_tree(spark):
    """with_pred returns a valid shortest-path tree: following pred
    links from any node reaches a seed in exactly `hops` steps, and
    ties break on min predecessor id."""
    from cpg_spark.operators.canonicalize import bfs_reach

    edges = spark.createDataFrame(
        [(0, 1), (1, 3), (0, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    rows = {
        r["node"]: r for r in bfs_reach(edges, seeds, with_pred=True).collect()
    }
    assert rows[0]["pred"] is None and rows[0]["hops"] == 0
    # node 3 discovered from both 1 and 2 at hop 2 -> min pred = 1
    assert rows[3]["pred"] == 1 and rows[3]["hops"] == 2
    assert rows[4]["pred"] == 3
    # walk pred links back to the seed in `hops` steps
    for n, r in rows.items():
        steps, cur = 0, n
        while rows[cur]["pred"] is not None:
            cur = rows[cur]["pred"]
            steps += 1
        assert cur == 0 and steps == r["hops"], (n, steps, r["hops"])


def _salted_fold(items, n_salts):
    """Pure-python twin of graphrank.salted_ordered_sum: fold (key, val)
    pairs per content-salt in key order, then fold the partials in salt
    order. n_salts=1 is the flat sequential fold."""
    from cpg_spark.functions.hashing import char_poly_hash_py

    if n_salts <= 1:
        acc = 0.0
        for _, v in sorted(items):
            acc = acc + v
        return acc
    parts: dict = {}
    for k, v in items:
        parts.setdefault(char_poly_hash_py(str(k)) % n_salts, []).append((k, v))
    acc = 0.0
    for s in sorted(parts):
        p = 0.0
        for _, v in sorted(parts[s]):
            p = p + v
        acc = acc + p
    return acc


def _pagerank_py(raw, n_iter, n_salts):
    """Independent pure-python power iteration with the salted fold."""
    nodes = sorted({x for e in raw for x in e[:2]})
    n = len(nodes)
    out_w: dict = {}
    for s, _, w in raw:
        out_w[s] = out_w.get(s, 0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contribs: dict = {v: [] for v in nodes}
        for s, d, w in raw:
            contribs[d].append((s, r[s] * w / out_w[s]))
        dang = _salted_fold(
            [(v, r[v]) for v in nodes if v not in out_w], n_salts
        )
        r = {
            v: (1.0 - 0.85) / n
            + 0.85 * (_salted_fold(contribs[v], n_salts) + dang / n)
            for v in nodes
        }
    return r


def test_pagerank_matches_independent_replication(spark):
    """Weighted PageRank with a dangling node against an independent
    pure-python power iteration using the SAME salted two-phase fold
    (content-salt partials folded in salt order) — bit-identical
    doubles, and total rank mass stays 1."""
    from cpg_spark.operators.graphrank import pagerank

    raw = [("a", "b", 1), ("a", "c", 2), ("b", "c", 1), ("d", "a", 1)]
    edges = spark.createDataFrame(raw, "src string, dst string, w long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, n_iter=5, weight_col="w").collect()
    }
    r = _pagerank_py(raw, 5, 16)
    assert got == r  # exact double equality — same fold grouping + order
    assert abs(sum(got.values()) - 1.0) < 1e-12

    # ordered_salts=1 reproduces the r5 flat fold bit-exactly (the
    # degenerate-equivalence contract of salted_ordered_sum)
    flat = {
        x["node"]: x["rank"]
        for x in pagerank(
            edges, n_iter=5, weight_col="w", ordered_salts=1
        ).collect()
    }
    assert flat == _pagerank_py(raw, 5, 1)

    # the salted fold is partitioning-invariant: same bits at width 1
    repart = {
        x["node"]: x["rank"]
        for x in pagerank(
            edges.repartition(1), n_iter=5, weight_col="w"
        ).collect()
    }
    assert repart == got

    # ordered=False (the at-scale combinable mode) agrees to float noise
    fast = {
        x["node"]: x["rank"]
        for x in pagerank(edges, n_iter=5, weight_col="w", ordered=False).collect()
    }
    assert all(abs(fast[v] - r[v]) < 1e-12 for v in r)


def test_pagerank_randomized_differential(spark):
    """Randomized differential (the dfa/evaluator pattern): pagerank vs
    an independent pure-python power iteration with the same fold order
    on seeded random weighted digraphs — exact double equality, rank
    mass 1, every node present."""
    import random

    from cpg_spark.operators.graphrank import pagerank

    rng = random.Random(20260817)
    for trial in range(3):
        n_nodes = rng.randint(4, 9)
        labels = [f"n{i}" for i in range(n_nodes)]
        raw = set()
        for _ in range(rng.randint(n_nodes, n_nodes * 2)):
            s, d = rng.sample(labels, 2)
            raw.add((s, d, rng.randint(1, 4)))
        raw = sorted(raw)
        edges = spark.createDataFrame(raw, "src string, dst string, w long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(edges, n_iter=4, weight_col="w").collect()
        }
        r = _pagerank_py(raw, 4, 16)
        assert got == r, f"trial {trial}"
        assert abs(sum(got.values()) - 1.0) < 1e-9


def test_hits_matches_numpy_and_modes(spark):
    """HITS against an independent numpy power-iteration replication:
    ordered mode (the oracle-parity salted folds) and combinable mode
    both converge to the same scores on a weighted digraph; ordered
    salts change the grouping of additions, never the math; a
    zero-edge side yields zeros, not NaN."""
    import numpy as np

    from cpg_spark.operators.graphrank import hits

    E = [
        ("a", "x", 2.0), ("a", "y", 1.0), ("b", "x", 1.0),
        ("c", "y", 3.0), ("x", "a", 1.0), ("d", "d2", 1.0),
    ]
    nodes = sorted({u for e in E for u in e[:2]})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)))
    for s, d, w in E:
        A[idx[s], idx[d]] = w
    h = np.ones(len(nodes)) / np.sqrt(len(nodes))
    a = h.copy()
    for _ in range(5):
        a = A.T @ h
        a = a / np.linalg.norm(a)
        h = A @ a
        h = h / np.linalg.norm(h)
    df = spark.createDataFrame(E, "src string, dst string, w double")
    for kwargs in (
        {"ordered": True},
        {"ordered": True, "ordered_salts": 1},
        {"ordered": False},
    ):
        got = {
            r["node"]: (r["authority"], r["hub"])
            for r in hits(df, n_iter=5, weight_col="w", **kwargs).collect()
        }
        err = max(
            max(abs(got[n][0] - a[idx[n]]), abs(got[n][1] - h[idx[n]]))
            for n in nodes
        )
        assert err < 1e-12, (kwargs, err)
    # bipartite sanity on the doc->entity shape: sources have zero
    # authority, sinks zero hub; scores are L2-normalized
    bip = spark.createDataFrame(
        [("d1", "e1", 1.0), ("d1", "e2", 1.0), ("d2", "e1", 2.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r for r in hits(bip, n_iter=3, weight_col="w").collect()}
    assert got["d1"]["authority"] == 0.0 and got["e1"]["hub"] == 0.0
    assert abs(sum(r["authority"] ** 2 for r in got.values()) - 1.0) < 1e-12
    assert got["e1"]["authority"] > got["e2"]["authority"]


def test_label_propagation_deterministic_communities(spark):
    """Deterministic LPA against a pure-python synchronous replication:
    two weight-3 triangles bridged by a weight-1 edge collapse to two
    distinct communities; isolated pairs keep their own label; the
    min-struct argmax tie-break (largest weight, then lexicographic)
    matches the replication on every node."""
    from cpg_spark.operators.graphrank import label_propagation

    E = [
        ("a", "b", 3), ("b", "c", 3), ("c", "a", 3),
        ("x", "y", 3), ("y", "z", 3), ("z", "x", 3),
        ("c", "x", 1), ("q", "q2", 1),
    ]
    sym = E + [(d, s, w) for s, d, w in E]

    def py_lpa(edges, n_iter):
        nodes = sorted({u for e in edges for u in e[:2]})
        lbl = {n: n for n in nodes}
        for _ in range(n_iter):
            agg: dict = {}
            for s, d, w in edges:
                agg.setdefault(d, {}).setdefault(lbl[s], 0)
                agg[d][lbl[s]] += w
            new = dict(lbl)
            for n, ls in agg.items():
                new[n] = min(ls.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            lbl = new
        return lbl

    df = spark.createDataFrame(E, "src string, dst string, w long")
    for it in (1, 3, 5):
        exp = py_lpa(sym, it)
        got = {
            r["node"]: r["label"]
            for r in label_propagation(
                df, n_iter=it, weight_col="w", symmetric=True
            ).collect()
        }
        assert got == exp, f"n_iter={it}"
    got5 = {
        r["node"]: r["label"]
        for r in label_propagation(
            df, n_iter=5, weight_col="w", symmetric=True
        ).collect()
    }
    assert len({got5[n] for n in "abc"}) == 1
    assert len({got5[n] for n in "xyz"}) == 1
    assert got5["a"] != got5["x"]


def test_graph_loops_on_empty_edges(spark):
    """No edges: every iterative graph operator returns no rows under
    its usual columns (pagerank and hits must not divide by N = 0)."""
    from cpg_spark.operators import graphrank

    edges = spark.createDataFrame([], "src string, dst string")
    for op, cols in (
        (graphrank.pagerank, ["node", "rank"]),
        (graphrank.hits, ["node", "authority", "hub"]),
        (graphrank.label_propagation, ["node", "label"]),
        (graphrank.kcore, ["node", "in_kcore", "core_deg"]),
    ):
        out = op(edges)
        assert (out.columns, out.collect()) == (cols, []), op.__name__


def test_triangle_count_exact_vs_bruteforce(spark):
    """Degree-ordered triangle counting matches per-node brute force on
    seeded random graphs; doubled directions, self-loops, and duplicate
    edges are canonicalized away; a hub with many open wedges but no
    closure counts zero."""
    import itertools
    import random

    from cpg_spark.operators.graphrank import triangle_count

    rng = random.Random(0x71)
    for trial in range(3):
        nodes = [f"n{i}" for i in range(14 + trial * 4)]
        E = set()
        while len(E) < 40 + trial * 15:
            a, b = rng.sample(nodes, 2)
            E.add((min(a, b), max(a, b)))
        adj: dict = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        exp = {n: 0 for n in adj}
        for x, y, z in itertools.combinations(sorted(adj), 3):
            if y in adj[x] and z in adj[x] and z in adj[y]:
                exp[x] += 1
                exp[y] += 1
                exp[z] += 1
        rows = (
            [(a, b) for a, b in E]
            + [(b, a) for a, b in E]
            + [(nodes[0], nodes[0]), next(iter(E))]
        )
        df = spark.createDataFrame(rows, "src string, dst string")
        got = {
            r["node"]: r["n_triangles"] for r in triangle_count(df).collect()
        }
        assert got == exp, f"trial {trial}"
    # star: hub has every wedge open, zero triangles
    star = spark.createDataFrame(
        [("hub", f"s{i}") for i in range(6)], "src string, dst string"
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(star).collect()}
    assert set(got.values()) == {0}


def test_link_predict_matches_bruteforce(spark):
    """Common-neighbor / Jaccard link prediction against brute force:
    every non-adjacent pair with a shared neighbor is scored exactly;
    adjacent pairs never appear; the max_degree hub cap audits what it
    dropped instead of silently shrinking the candidate set."""
    import itertools
    import random

    from cpg_spark.operators.graphrank import link_predict

    rng = random.Random(0x1B)
    nodes = [f"n{i}" for i in range(16)]
    E = set()
    while len(E) < 34:
        a, b = rng.sample(nodes, 2)
        E.add((min(a, b), max(a, b)))
    adj: dict = {}
    for a, b in E:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    exp = {}
    for u, v in itertools.combinations(sorted(adj), 2):
        if (u, v) in E:
            continue
        cn = len(adj[u] & adj[v])
        if cn:
            exp[(u, v)] = (cn, cn / (len(adj[u]) + len(adj[v]) - cn))
    df = spark.createDataFrame(sorted(E), "src string, dst string")
    got = {
        (r["u"], r["v"]): (r["common_neighbors"], r["jaccard"])
        for r in link_predict(df).collect()
    }
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert abs(got[k][1] - exp[k][1]) < 1e-15
    # hub cap: centers above max_degree excluded, audited
    capped = link_predict(df, max_degree=3).collect()
    n_hubs = sum(1 for n in adj if len(adj[n]) > 3)
    assert capped and all(
        r["n_centers_dropped"] == n_hubs for r in capped
    )
    kept_centers = {n for n in adj if len(adj[n]) <= 3}
    exp_capped = set()
    for w in kept_centers:
        for u, v in itertools.combinations(sorted(adj[w]), 2):
            if (min(u, v), max(u, v)) not in E:
                exp_capped.add((min(u, v), max(u, v)))
    assert {(r["u"], r["v"]) for r in capped} == exp_capped


def test_kcore_peels_to_true_core(spark):
    """Synchronous k-core peeling vs a python replication at every
    round count: the triangle+tail graph peels the tail over rounds
    and converges exactly to the triangle; survivors always
    over-approximate the true core (never under); random graphs match
    the replication round for round."""
    import random

    from cpg_spark.operators.graphrank import kcore

    def py_kcore(E, k, rounds):
        adj: dict = {}
        for a, b in E:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        deg: dict = {}
        for _ in range(rounds):
            deg = {n: sum(1 for x in adj[n] if x in alive) for n in alive}
            alive = {n for n in alive if deg[n] >= k}
        return alive, deg

    chain = [("a", "b"), ("b", "c"), ("c", "a"),
             ("c", "d"), ("d", "e"), ("e", "f")]
    df = spark.createDataFrame(chain, "src string, dst string")
    allnodes = {x for e in chain for x in e}
    for rounds in (1, 2, 3, 5):
        alive, deg = py_kcore(chain, 2, rounds)
        got = {
            r["node"]: (r["in_kcore"], r["core_deg"])
            for r in kcore(df, k=2, n_rounds=rounds).collect()
        }
        exp = {
            n: (n in alive, deg.get(n, 0) if n in alive else 0)
            for n in allnodes
        }
        assert got == exp, rounds
    # converged at 3 rounds: exactly the triangle
    got5 = {r["node"] for r in kcore(df, k=2, n_rounds=5).collect()
            if r["in_kcore"]}
    assert got5 == {"a", "b", "c"}

    rng = random.Random(0xAC)
    nodes = [f"n{i}" for i in range(18)]
    E = set()
    while len(E) < 30:
        a, b = rng.sample(nodes, 2)
        E.add((min(a, b), max(a, b)))
    E = sorted(E)
    df2 = spark.createDataFrame(E, "src string, dst string")
    for k, rounds in ((2, 4), (3, 4)):
        alive, deg = py_kcore(E, k, rounds)
        got = {
            r["node"]: (r["in_kcore"], r["core_deg"])
            for r in kcore(df2, k=k, n_rounds=rounds).collect()
        }
        exp = {
            n: (n in alive, deg.get(n, 0) if n in alive else 0)
            for n in {x for e in E for x in e}
        }
        assert got == exp, (k, rounds)
