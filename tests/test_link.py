"""Link-stage tests: reference->declaration resolution semantics
(VariableUsageResolver/CallResolver analog, SURVEY.md §2.2 #4-5)."""

from pyspark.sql import functions as F

from cpg_spark.functions.hashing import entity_id_py, inferred_id_py
from cpg_spark.operators import link
from cpg_spark.schema import ALIAS_DICT, MENTIONS


def _mentions(spark, rows):
    return spark.createDataFrame(
        [(u, s, t, a, a.title(), len(a.split())) for (u, s, t, a) in rows], MENTIONS
    )


def test_ambiguous_alias_best_pick(spark, alias_df):
    """'orion' maps to PERSON (prior .75) and ORG (prior .55): the link
    must pick the PERSON — highest prior, tie-break min entity id."""
    m = _mentions(spark, [("u", 0, 0, "orion")])
    out = link.link_mentions(m, alias_df).collect()
    assert len(out) == 1
    assert out[0]["entity_id"] == entity_id_py("Orion Vale", "PERSON")
    assert out[0]["entity_type"] == "PERSON"
    assert not out[0]["is_inferred"]


def test_prior_tie_breaks_on_min_entity_id(spark):
    rows = [
        ("x", "e:bbb", "B", "ORG", 0.5),
        ("x", "e:aaa", "A", "ORG", 0.5),
    ]
    adict = spark.createDataFrame(rows, ALIAS_DICT)
    m = _mentions(spark, [("u", 0, 0, "x")])
    out = link.link_mentions(m, adict).collect()
    assert out[0]["entity_id"] == "e:aaa"


def test_unmatched_mention_becomes_inferred(spark, alias_df):
    m = _mentions(spark, [("u", 0, 0, "zubrin kale")])
    out = link.link_mentions(m, alias_df).collect()
    assert out[0]["is_inferred"]
    assert out[0]["entity_id"] == inferred_id_py("zubrin kale")
    assert out[0]["entity_type"] == "UNKNOWN"
    assert out[0]["score"] == 0.0


def test_inferred_id_jvm_matches_python(spark):
    """The JVM sha1 id expression and the python golden id must agree."""
    df = spark.createDataFrame([("zubrin kale",), ("qorvath",)], "alias_norm string")
    from cpg_spark.functions.hashing import inferred_id_col

    got = {r["alias_norm"]: r["iid"] for r in df.select("alias_norm", inferred_id_col(F.col("alias_norm")).alias("iid")).collect()}
    assert got["zubrin kale"] == inferred_id_py("zubrin kale")
    assert got["qorvath"] == inferred_id_py("qorvath")


def test_link_candidates_keeps_all_and_ranks(spark, alias_df):
    m = _mentions(spark, [("u", 0, 0, "orion")])
    out = link.link_candidates(m, alias_df).orderBy("cand_rank").collect()
    assert len(out) == 2
    assert out[0]["cand_rank"] == 1 and out[0]["entity_type"] == "PERSON"
    assert out[1]["cand_rank"] == 2 and out[1]["entity_type"] == "ORG"


def test_link_plan_is_broadcast_no_shuffle(spark, alias_df, pages_df):
    """Scale check: mention resolution must be a BroadcastHashJoin with
    no Exchange on the mention side (zero-shuffle link stage)."""
    from cpg_spark.operators import extract

    ment = extract.mentions(extract.sentences(pages_df))
    plan = link.link_mentions(ment, alias_df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    pre_join = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in pre_join


# --- scope-chain resolution ---------------------------------------------------

from cpg_spark.operators.link import (  # noqa: E402
    resolve_scoped,
    scope_ancestors,
    score_candidates,
)


def test_scope_ancestors_closure(spark):
    scopes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (10, None)],
        "scope_id long, parent_scope_id long",
    )
    got = {(r["scope_id"], r["ancestor_id"]): r["dist"]
           for r in scope_ancestors(scopes).collect()}
    assert got == {
        (1, 1): 0, (2, 2): 0, (3, 3): 0, (10, 10): 0,
        (2, 1): 1, (3, 2): 1, (3, 1): 2,
    }


def test_resolve_scoped_innermost_wins(spark):
    """Shadowing: the nested declaration beats the root one; unshadowed
    names walk up; undeclared names drop out (ScopeManager.kt:625-653)."""
    scopes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2)], "scope_id long, parent_scope_id long"
    )
    decls = spark.createDataFrame(
        [(1, "x"), (1, "y"), (3, "x")], "scope_id long, name string"
    )
    refs = spark.createDataFrame(
        [(3, "x"), (3, "y"), (3, "z"), (2, "x")], "scope_id long, name string"
    )
    got = {(r["scope_id"], r["name"]): (r["decl_scope"], r["hops"])
           for r in resolve_scoped(refs, decls, scopes).collect()}
    assert got == {
        (3, "x"): (3, 0),   # shadowed: innermost wins
        (3, "y"): (1, 2),   # walks two levels up
        (2, "x"): (1, 1),   # the shadow at 3 is NOT an ancestor of 2
    }


def test_score_candidates_beats_prior_only(spark):
    """A type+arity-compatible low-prior candidate must outrank a
    type-incompatible high-prior one (SymbolResolverPass.kt:81-94 —
    signature compatibility dominates)."""
    cands = spark.createDataFrame(
        [
            # (mention, cand, expected_type, n_words, entity_type, alias_arity, prior)
            (1, 0, "OBJ", 2, "OBJ", 2, 0.1),   # exact match, weak prior
            (1, 1, "OBJ", 2, "OP", 1, 1.0),    # wrong type, strong prior
            (1, 2, "OBJ", 2, "TOOL", 2, 0.5),  # implicit cast, mid prior
        ],
        "mention_id long, cand_id long, expected_type string, n_words long, "
        "entity_type string, alias_arity long, prior double",
    )
    rows = {r["cand_id"]: r["score"] for r in score_candidates(cands).collect()}
    assert rows[0] == 0.5 * 1.0 + 0.3 * 1.0 + 0.2 * 0.1  # 0.82
    assert rows[1] == 0.5 * 0.0 + 0.3 * 0.5 + 0.2 * 1.0  # 0.35
    assert rows[2] == 0.5 * 0.5 + 0.3 * 1.0 + 0.2 * 0.5  # 0.65
    assert max(rows, key=rows.get) == 0                   # not the prior winner


# --- import resolution with wildcard expansion ---------------------------------

from cpg_spark.operators.link import resolve_imports  # noqa: E402


def test_resolve_imports_exact_and_wildcard(spark):
    """ImportResolver.kt:51-100: exact imports bind one member; Base.*
    expands to the statics of Base and its transitive supertypes,
    skipping instance members."""
    imports = spark.createDataFrame(
        [("I1", "C1.m0"), ("I1", "C1.*"), ("I2", "Root.*"), ("I3", "C1.i0")],
        "importer string, stmt string",
    )
    members = spark.createDataFrame(
        [
            ("C1", "m0", True), ("C1", "m1", True), ("C1", "i0", False),
            ("Mid", "mm", True), ("Root", "rm", True), ("Root", "ri", False),
        ],
        "owner string, member string, is_static boolean",
    )
    supertypes = spark.createDataFrame(
        [("C1", "Mid"), ("Mid", "Root")], "type_name string, supertype string"
    )
    got = {(r["importer"], r["owner"], r["member"])
           for r in resolve_imports(imports, members, supertypes).collect()}
    assert got == {
        ("I1", "C1", "m0"),                    # exact
        ("I1", "C1", "m1"),                    # wildcard: own statics
        ("I1", "Mid", "mm"), ("I1", "Root", "rm"),  # transitive supertypes
        ("I2", "Root", "rm"),                  # base with no supertype row
        ("I3", "C1", "i0"),                    # exact binds instance members too
    }


def test_resolve_scoped_infer_missing(spark):
    """infer_missing=True completes the world (Inference.kt analog):
    unresolved refs come back as inferred rows with deterministic
    content-hash ids; resolved rows are unchanged."""
    from cpg_spark.functions.hashing import inferred_id_py
    from cpg_spark.operators.link import resolve_scoped

    scopes = spark.createDataFrame(
        [(1, None), (2, 1)], "scope_id long, parent_scope_id long"
    )
    decls = spark.createDataFrame([(1, "x")], "scope_id long, name string")
    refs = spark.createDataFrame(
        [(2, "x"), (2, "ghost")], "scope_id long, name string"
    )
    out = {
        (r["scope_id"], r["name"]): r
        for r in resolve_scoped(refs, decls, scopes, infer_missing=True).collect()
    }
    assert len(out) == 2  # every ref covered
    ok = out[(2, "x")]
    assert ok["decl_scope"] == 1 and ok["hops"] == 1 and not ok["is_inferred"]
    inf = out[(2, "ghost")]
    assert inf["is_inferred"] and inf["decl_scope"] is None and inf["hops"] == -1
    assert inf["inferred_id"] == inferred_id_py("ghost")


def test_scope_ancestors_checkpoint_dir_equivalence(
    spark, tmp_path, restore_checkpoint_dir
):
    """A context checkpoint directory (reliable checkpoints) matches the
    localCheckpoint default."""
    from cpg_spark.operators.link import scope_ancestors

    scopes = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2), (4, 3)],
        "scope_id long, parent_scope_id long",
    )
    base = sorted(map(tuple, scope_ancestors(scopes).collect()))
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    ck = sorted(map(tuple, scope_ancestors(scopes).collect()))
    assert any((tmp_path / "ck").iterdir())
    assert base == ck and (4, 1, 3) in base


def test_resolve_imports_infer_missing(spark):
    """Specific imports with no matching member come back inferred
    (Inference.kt analog); resolved rows and wildcard expansion are
    unchanged."""
    from cpg_spark.functions.hashing import inferred_id_py
    from cpg_spark.operators.link import resolve_imports

    imports = spark.createDataFrame(
        [("A", "Base.real"), ("A", "Base.ghost"), ("B", "Base.*")],
        "importer string, stmt string",
    )
    members = spark.createDataFrame(
        [("Base", "real", True)], "owner string, member string, is_static boolean"
    )
    supers = spark.createDataFrame([], "type_name string, supertype string")
    out = {
        (r["importer"], r["owner"], r["member"]): r
        for r in resolve_imports(
            imports, members, supers, infer_missing=True
        ).collect()
    }
    assert not out[("A", "Base", "real")]["is_inferred"]
    assert not out[("B", "Base", "real")]["is_inferred"]
    ghost = out[("A", "Base", "ghost")]
    assert ghost["is_inferred"]
    assert ghost["inferred_id"] == inferred_id_py("Base.ghost")
