"""Focused tests for the r7 construction-overhead work: memoized kernel
Columns, batched literal arrays, and the per-session plan caches must be
pure plumbing — identical results, correct invalidation."""

import math

import pytest
from pyspark.sql import functions as F

from cpg_spark.functions.hashing import char_poly_hash_py
from cpg_spark.operators import dedup, similarity


def test_memoized_shingle_col_is_reused_and_correct(spark):
    """The memoized kernel must (a) return the same Column object per
    process and (b) keep producing correct hashes when the one tree is
    resolved against several distinct DataFrames (lambda variables are
    re-resolved per plan — the property the memoization relies on)."""
    c1 = dedup._shingle_text_col(3)
    c2 = dedup._shingle_text_col(3)
    assert c1 is c2

    def shingles_py(text):
        toks = []
        cur = []
        for ch in text.lower():
            if ch.isalnum() and ch.isascii():
                cur.append(ch)
            elif cur:
                toks.append("".join(cur))
                cur = []
        if cur:
            toks.append("".join(cur))
        return [
            char_poly_hash_py(" ".join(toks[i : i + 3]))
            for i in range(len(toks) - 2)
        ]

    for rows in (
        [(1, "alpha beta gamma delta")],
        [(2, "one two three"), (3, "x y z w v")],
    ):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", dedup._shingle_text_col(3).alias("sh")
            ).collect()
        }
        for doc_id, text in rows:
            assert got[doc_id] == shingles_py(text), text


def test_lit_double_array_bit_exact(spark):
    """_lit_double_array goes through repr() + the SQL parser; it must
    reproduce every finite IEEE double bit-for-bit vs F.lit."""
    vals = [
        0.1,
        -0.1,
        1e-17,
        -1234567.890123,
        math.pi,
        5e-324,  # smallest subnormal
        1.7976931348623157e308,  # largest finite
        2.0 / 3.0,
        0.0,
        -0.0,
    ]
    row = (
        spark.range(1)
        .select(
            similarity._lit_double_array(vals).alias("a"),
            F.array(*[F.lit(float(v)) for v in vals]).alias("b"),
        )
        .collect()[0]
    )
    import struct

    for got, want in zip(row["a"], row["b"]):
        assert struct.pack("<d", got) == struct.pack("<d", want)


def test_lit_double_array_rejects_non_finite():
    with pytest.raises(ValueError):
        similarity._lit_double_array([1.0, float("inf")])


def test_pq_codebook_rejects_missing_seed_id(spark):
    """Caller-supplied ids are checked with a raise, not an assert, so
    the check survives python -O."""
    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match=r"missing \[3\]"):
        similarity.pq_codebook_from_seeds(emb, [1, 3], m=1, dim=2)


def test_scan_cache_hits_and_invalidation(spark, tmp_path):
    """t() must return the same plan object for the same live session
    and rebuild when the owning session changes identity."""
    from cpg_spark import queries

    p = tmp_path / "cache_probe"
    spark.range(3).toDF("doc_id").write.parquet(str(p / "tbl.parquet"))
    a = queries.t(spark, str(p), "tbl")
    b = queries.t(spark, str(p), "tbl")
    assert a is b
    assert a.count() == 3
    # simulate a replaced session: poison the owner, expect a rebuild
    queries._SCAN_CACHE[(str(p), "tbl")] = (object(), a)
    c = queries.t(spark, str(p), "tbl")
    assert c is not a
    assert c.count() == 3


def test_const_df_cache(spark):
    from cpg_spark import queries

    a = queries._const_df(spark, "__test_rows", [(1,), (2,)], "x long")
    b = queries._const_df(spark, "__test_rows", [(1,), (2,)], "x long")
    assert a is b
    assert sorted(r["x"] for r in a.collect()) == [1, 2]
    queries._CONST_CACHE["__test_rows"] = (object(), a)
    c = queries._const_df(spark, "__test_rows", [(1,), (2,)], "x long")
    assert c is not a


def test_const_df_key_collision_raises(spark):
    from cpg_spark import queries

    a = queries._const_df(spark, "__test_collide", [(1,), (2,)], "x long")
    assert queries._const_df(spark, "__test_collide", [(1,), (2,)], "x long") is a
    with pytest.raises(ValueError, match="__test_collide"):
        queries._const_df(spark, "__test_collide", [(1,), (3,)], "x long")
    with pytest.raises(ValueError, match="__test_collide"):
        queries._const_df(spark, "__test_collide", [(1,), (2,)], "x int")
