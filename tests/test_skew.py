"""Salted-aggregation equivalence test (north_rule skew handling): the
salted version must be result-identical to the plain one."""

from pyspark.sql import functions as F

from cpg_spark.operators.skew import salted_count


def _events(spark):
    # zipfian-ish: key 'hot' dominates
    rows = [("hot", f"u{i % 7}") for i in range(200)] + [
        (f"k{i % 5}", f"u{i % 11}") for i in range(100)
    ]
    return spark.createDataFrame(rows, "key string, val string")


def test_salted_count_equals_plain(spark):
    df = _events(spark)
    plain = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["key"]: r["n"] for r in salted_count(df, ["key"]).collect()}
    assert salted == plain
