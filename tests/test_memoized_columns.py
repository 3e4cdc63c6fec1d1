"""Focused tests for the construction-overhead work: memoized kernel
Columns, batched literal arrays, the scan-plan cache and the driver-built
local frames must be pure plumbing — identical results, correct
invalidation, no Python worker."""

import json
import math
import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cpg_spark.functions.hashing import char_poly_hash_py
from cpg_spark.operators import dedup, iterutil, similarity

REPO = str(Path(__file__).resolve().parents[1])
SF = "/root/testdata/sf0.001"

# the registry entries that read a driver-built fixture table
FIXTURE_ENTRIES = [
    "events_order_dfa",
    "eog_dfa_branched",
    "kg_doc_mentions",
    "link_scope_chain",
    "link_scope_inferred",
    "sa_grammar_accept",
    "sa_dfg_grammar",
    "sa_ops_grammar",
    "sa_charset_cycle",
]
# entries whose operator collects the fixture into a literal map
FOLDED_FIXTURES = {"events_order_dfa", "eog_dfa_branched"}

# one process, two sessions: the memo built in the first must resolve in
# the second (one py4j gateway per process; a Column holds no session)
MEMO_ACROSS_SESSIONS = """
import json, sys
sys.path.insert(0, sys.argv[1])
from cpg_spark.operators import dedup
from cpg_spark.schema import local_frame
from cpg_spark.session import get_spark

ROWS = [(1, "alpha beta gamma delta"), (2, "one two three"), (3, "x y")]

def run(spark, col):
    df = local_frame(spark, ROWS, "doc_id long, text string")
    return sorted(map(list, df.select("doc_id", col.alias("sh")).collect()))

first = get_spark("memo-a", master="local[1]", shuffle_partitions=1)
col = dedup._shingle_text_col(3)
a = run(first, col)
first.stop()
second = get_spark("memo-b", master="local[1]", shuffle_partitions=1)
again = dedup._shingle_text_col(3)
print(json.dumps({"a": a, "b": run(second, again), "same_col": again is col,
                  "new_session": second is not first}))
"""


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


def _leaves(df):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


@pytest.mark.parametrize("name", FIXTURE_ENTRIES)
def test_fixture_entries_read_local_relations(spark, monkeypatch, name):
    """Every fixture table an entry builds is a LocalRelation, and so is
    a leaf of the entry's analyzed plan (the two DFA entries collect
    their table into a literal map instead, so only the table itself is
    checked there). The only RDD leaves left are the operators' local
    checkpoints: no leaf parallelizes pickled rows through a Python
    worker."""
    from cpg_spark.queries import QUERIES

    built = []
    create = spark.createDataFrame

    def recording(*args, **kwargs):
        built.append(create(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(spark, "createDataFrame", recording)
    with iterutil.scope():
        df = QUERIES[name][0](spark, SF)
        assert built, "no fixture table built"
        for fixture in built:
            assert [leaf.getClass().getSimpleName() for leaf in _leaves(fixture)] == [
                "LocalRelation"
            ]
        leaves = _leaves(df)
        kinds = [leaf.getClass().getSimpleName() for leaf in leaves]
        assert name in FOLDED_FIXTURES or "LocalRelation" in kinds, kinds
        for leaf, kind in zip(leaves, kinds):
            if kind == "LogicalRDD":
                assert leaf.rdd().isLocallyCheckpointed(), kinds


def test_local_frame_schema_and_rows(spark):
    """A DDL string and a StructType build the same frame; empty rows
    give an empty frame of the declared schema."""
    from pyspark.sql import types as T

    from cpg_spark.schema import local_frame

    rows = [("a", 1, 0.5, True), ("b", None, -2.25, False)]
    ddl = "s string, n int, x double, ok boolean"
    a = local_frame(spark, rows, ddl)
    b = local_frame(spark, rows, T.StructType.fromDDL(ddl))
    assert a.schema == b.schema == T.StructType.fromDDL(ddl)
    assert [tuple(r) for r in a.collect()] == rows
    assert [tuple(r) for r in b.collect()] == rows
    empty = local_frame(spark, [], ddl)
    assert empty.schema == a.schema and empty.collect() == []


def test_memoized_column_survives_session_restart(tmp_path):
    """A memoized kernel Column built before `spark.stop()` is the same
    object, and gives the same rows, in a fresh get_spark() session."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", MEMO_ACROSS_SESSIONS, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["new_session"] and out["same_col"]
    assert len(out["a"]) == 3 and out["a"][0][1]
    assert out["a"] == out["b"]
