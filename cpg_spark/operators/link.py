"""Link stage: mention -> canonical-candidate entity resolution.

The VariableUsageResolver / CallResolver analog (reference
passes/VariableUsageResolver.kt:63-92, CallResolver.kt:68): resolve each
reference (mention) against a symbol table (broadcast alias dictionary),
pick the best candidate, and create inferred entities for unresolved
references (reference inference/Inference.kt:57-343).

Scale design: the dictionary is pre-resolved to its best candidate per
alias ONCE (a window over the tiny dict), so the big-side resolution is a
single broadcast hash join — zero shuffle on the mention stream. The
scored variant (link_candidates) keeps all candidates for diagnostics and
demonstrates the window best-pick on the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import inferred_id_col
from .iterutil import closure


def best_alias_dict(alias_dict: DataFrame) -> DataFrame:
    """Resolve ambiguity inside the dictionary: one best entity per alias
    (highest prior, tie-break min entity_id) — the innermost-scope pick
    (reference ScopeManager.resolveReference, ScopeManager.kt:625-653)
    applied to the symbol table once instead of per reference."""
    w = Window.partitionBy("alias").orderBy(F.desc("prior"), F.asc("entity_id"))
    return (
        alias_dict.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions x broadcast(best-per-alias dict) -> LINKS schema.

    Unmatched mentions become inferred entities with deterministic
    content-hash ids (never null, never sequence-assigned)."""
    best = best_alias_dict(alias_dict)
    joined = mentions.join(
        F.broadcast(best), mentions["alias_norm"] == best["alias"], "left"
    )
    return joined.select(
        "url",
        "sent_idx",
        "tok_idx",
        "alias_norm",
        F.coalesce(F.col("entity_id"), inferred_id_col(F.col("alias_norm"))).alias(
            "entity_id"
        ),
        F.coalesce(F.col("entity_name"), F.col("surface")).alias("entity_name"),
        F.coalesce(F.col("entity_type"), F.lit("UNKNOWN")).alias("entity_type"),
        F.coalesce(F.col("prior"), F.lit(0.0)).alias("score"),
        F.col("entity_id").isNull().alias("is_inferred"),
    )


def scope_ancestors(scopes: DataFrame, max_depth: int = 32) -> DataFrame:
    """Reflexive-transitive parent closure of the scope tree:
    (scope_id, ancestor_id, dist) with dist 0 = the scope itself.

    The reference walks parent scopes per reference at resolve time
    (ScopeManager.kt:625-653 `resolve` loops `scope = scope.parent`);
    precomputing the closure once turns that per-row walk into a single
    equi-join — the scope tree is metadata-sized next to the mention
    stream. Iterative frontier joins, bounded by max_depth
    (iterutil.closure)."""
    anc = scopes.select(
        "scope_id", F.col("scope_id").alias("ancestor_id"), F.lit(0).alias("dist")
    )
    parents = scopes.select(
        F.col("scope_id").alias("__s"), F.col("parent_scope_id").alias("__p")
    ).filter(F.col("__p").isNotNull())
    return anc.unionByName(closure(
        lambda frontier, _, i: frontier.join(
            parents, F.col("ancestor_id") == F.col("__s")
        ).select(
            "scope_id", F.col("__p").alias("ancestor_id"), F.lit(i + 1).alias("dist")
        ),
        parents.select(
            F.col("__s").alias("scope_id"),
            F.col("__p").alias("ancestor_id"),
            F.lit(1).alias("dist"),
        ),
        max_iter=max_depth - 1,
        what="scope_ancestors",
    ))


def resolve_scoped(
    refs: DataFrame,
    decls: DataFrame,
    scopes: DataFrame,
    max_depth: int = 32,
    infer_missing: bool = False,
) -> DataFrame:
    """Scope-chain reference resolution: each ref (scope_id, name) binds
    to the declaration of the same name in the NEAREST enclosing scope —
    innermost wins (ScopeManager.kt:625-653; SURVEY §2.2#4's
    row_number-over-scope-distance mapping). Returns one row per resolved
    ref: (scope_id, name, decl_scope, hops).

    infer_missing=False (legacy): refs with no declaration in any
    enclosing scope drop out. infer_missing=True completes the world the
    way the reference always does (inference/Inference.kt:57-343 creates
    an inferred declaration for every unresolved reference): unresolved
    refs come back with decl_scope NULL, hops -1, is_inferred=true and a
    deterministic content-hash inferred_id (the link_mentions id scheme —
    stable across runs and parallelism, never sequence-assigned); the
    output then covers EVERY input ref.

    Shape: refs ⋈ ancestor-closure ⋈ decls, then a window picking
    min dist (deterministic tie-break on decl_scope); the inferred
    branch is one anti-join."""
    anc = scope_ancestors(scopes, max_depth)
    d = decls.select(
        F.col("scope_id").alias("decl_scope"), F.col("name").alias("__dname")
    )
    cand = (
        refs.join(anc, "scope_id")
        .join(
            d,
            (F.col("ancestor_id") == F.col("decl_scope"))
            & (F.col("name") == F.col("__dname")),
        )
        .drop("__dname")
    )
    w = Window.partitionBy("scope_id", "name").orderBy(
        F.asc("dist"), F.asc("decl_scope")
    )
    resolved = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "scope_id",
            "name",
            "decl_scope",
            F.col("dist").cast("int").alias("hops"),
        )
    )
    if not infer_missing:
        return resolved
    nulls = F.lit(None).cast("string")
    resolved = resolved.select(
        "*",
        F.lit(False).alias("is_inferred"),
        nulls.alias("inferred_id"),
    )
    decl_scope_type = dict(
        (f.name, f.dataType) for f in scopes.schema.fields
    )["scope_id"]
    unresolved = (
        refs.select("scope_id", "name")
        .distinct()
        .join(resolved.select("scope_id", "name"), ["scope_id", "name"], "left_anti")
        .select(
            "scope_id",
            "name",
            F.lit(None).cast(decl_scope_type).alias("decl_scope"),
            F.lit(-1).cast("int").alias("hops"),
            F.lit(True).alias("is_inferred"),
            inferred_id_col(F.col("name")).alias("inferred_id"),
        )
    )
    return resolved.unionByName(unresolved)


def resolve_imports(
    imports: DataFrame,
    members: DataFrame,
    supertypes: DataFrame,
    max_depth: int = 16,
    infer_missing: bool = False,
) -> DataFrame:
    """Import resolution with wildcard expansion — the full ImportResolver
    (reference passes/ImportResolver.kt:51-100): a specific import
    `Base.member` resolves by exact (owner, name) equi-join; an asterisk
    import `Base.*` expands to every STATIC member of Base AND of its
    transitive supertypes ("the class base and its superclasses").

    imports(importer, stmt), members(owner, member, is_static),
    supertypes(type_name, supertype). Returns
    (importer, owner, member) — one row per resolved declaration.

    infer_missing=True completes the world (inference/Inference.kt:
    57-343): a SPECIFIC import whose (owner, member) matches nothing
    comes back as an inferred row — owner/member parsed from the
    statement, is_inferred=true, and a deterministic content-hash
    inferred_id (wildcards expand to whatever exists; an empty
    expansion means the base has no statics, which the reference also
    leaves empty rather than inventing members).

    Shape: the wildcard side is a prefix-strip + supertype-closure join +
    flatMap-by-join (never per-row loops); the closure reuses the
    scope_ancestors iterative-join machinery (a supertype DAG is just a
    multi-parent scope tree)."""
    is_wild = F.col("stmt").endswith(".*")
    exact = imports.filter(~is_wild).select(
        "importer",
        F.regexp_extract("stmt", r"^(.*)\.([^.]*)$", 1).alias("__base"),
        F.regexp_extract("stmt", r"^(.*)\.([^.]*)$", 2).alias("__name"),
    )
    exact_hits = exact.join(
        members,
        (exact["__base"] == members["owner"]) & (exact["__name"] == members["member"]),
    ).select("importer", "owner", "member")

    closure = scope_ancestors(
        supertypes.select(
            F.col("type_name").alias("scope_id"),
            F.col("supertype").alias("parent_scope_id"),
        ).distinct(),
        max_depth,
    ).select(
        F.col("scope_id").alias("__base"), F.col("ancestor_id").alias("__owner")
    ).distinct()
    wild = imports.filter(is_wild).select(
        "importer", F.expr("substring(stmt, 1, length(stmt) - 2)").alias("__base")
    )
    # a base with no supertype row still expands to its own members
    closure = closure.unionByName(
        wild.select("__base", F.col("__base").alias("__owner"))
    ).distinct()
    wild_hits = (
        wild.join(closure, "__base")
        .join(members, F.col("__owner") == members["owner"])
        .filter(F.col("is_static"))
        .select("importer", "owner", "member")
    )
    resolved = exact_hits.unionByName(wild_hits).distinct()
    if not infer_missing:
        return resolved
    resolved = resolved.select(
        "*",
        F.lit(False).alias("is_inferred"),
        F.lit(None).cast("string").alias("inferred_id"),
    )
    inferred = (
        exact.join(
            members,
            (exact["__base"] == members["owner"])
            & (exact["__name"] == members["member"]),
            "left_anti",
        )
        .select(
            "importer",
            F.col("__base").alias("owner"),
            F.col("__name").alias("member"),
            F.lit(True).alias("is_inferred"),
            inferred_id_col(F.concat_ws(".", "__base", "__name")).alias(
                "inferred_id"
            ),
        )
        .distinct()
    )
    return resolved.unionByName(inferred)


# implicit-cast compatibility: (expected, candidate) pairs that earn
# partial credit — the CXXCallResolverHelper.kt implicit-cast analog for
# the entity-type domain
CAST_OK: tuple[tuple[str, str], ...] = (("OBJ", "TOOL"), ("OP", "TOOL"))

SCORE_W_TYPE = 0.5
SCORE_W_ARITY = 0.3
SCORE_W_PRIOR = 0.2


def score_candidates(cands: DataFrame) -> DataFrame:
    """CallResolver signature scoring (reference SymbolResolverPass.kt:
    81-94 matches name+returnType+signature; CXXCallResolverHelper.kt
    ranks implicit-cast matches below exact ones): a vectorized
    multi-feature score over (mention, candidate) pairs, NOT prior-only.

    Expects columns: expected_type, entity_type, n_words (mention arity),
    alias_arity (candidate arity), prior in [0,1]. Features:
      type_compat  — 1.0 exact, 0.5 implicit-cast (CAST_OK), else 0.0
      arity_compat — 1.0 exact, 0.5 off-by-one, else 0.0
      prior        — the dictionary prior
    score = 0.5·type + 0.3·arity + 0.2·prior. Pure Column expressions —
    whole-stage codegen, no shuffle added."""
    cast_pred = F.lit(False)
    for exp, cand in CAST_OK:
        cast_pred = cast_pred | (
            (F.col("expected_type") == exp) & (F.col("entity_type") == cand)
        )
    type_compat = (
        F.when(F.col("expected_type") == F.col("entity_type"), 1.0)
        .when(cast_pred, 0.5)
        .otherwise(0.0)
    )
    arity_gap = F.abs(F.col("n_words") - F.col("alias_arity"))
    arity_compat = (
        F.when(arity_gap == 0, 1.0).when(arity_gap == 1, 0.5).otherwise(0.0)
    )
    return cands.withColumn(
        "score",
        SCORE_W_TYPE * type_compat
        + SCORE_W_ARITY * arity_compat
        + SCORE_W_PRIOR * F.col("prior"),
    )


def link_candidates(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """All-candidate scoring variant: keeps every (mention, candidate)
    pair with a rank — the CallResolver signature-scoring analog
    (reference SymbolResolverPass.kt:81-94). Broadcast join + window
    best-pick on the big side."""
    joined = mentions.join(
        F.broadcast(alias_dict), mentions["alias_norm"] == alias_dict["alias"], "inner"
    )
    w = Window.partitionBy("url", "sent_idx", "tok_idx").orderBy(
        F.desc("prior"), F.asc("entity_id")
    )
    return joined.withColumn("cand_rank", F.row_number().over(w))
