"""Skew handling: salted aggregation.

Web corpora have Zipfian keys (a hot entity appears on >=10% of pages —
the `recordMap` hot-class analog). Spark's map-side partial aggregation
already absorbs skew for algebraic aggs (count/sum/min/max); the cases
that genuinely skew are (a) holistic aggs (collect_set / collect_list —
one reducer holds the whole hot key) and (b) shuffle joins with a hot
key. materialize.nodes_table salts its holistic example-url aggregate
itself; AQE skew-join covers hot join keys (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int = 16, col_name: str = "__salt") -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of the whole row's
    partition id + a cheap row hash would not be stable across runs, so
    salt from content (all columns)."""
    return df.withColumn(
        col_name, F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int")
    )


def salted_count(
    df: DataFrame, keys: list[str], out: str = "n", n_salts: int = 16
) -> DataFrame:
    """Two-phase count (explicit salting demo; Spark's partial agg makes
    this equivalent for plain counts, but the shape generalizes to any
    re-aggregable UDAF).

    The salt hashes ALL columns of `df`: pass at least one
    row-distinguishing column beyond the keys, or every row of a hot
    key lands in one salt class and phase 1 degenerates to the plain
    groupBy (still correct — map-side partial aggregation is what
    absorbs plain-count skew either way)."""
    salted = with_salt(df, n_salts)
    phase1 = salted.groupBy(*keys, "__salt").agg(F.count(F.lit(1)).alias("__c"))
    return phase1.groupBy(*keys).agg(F.sum("__c").cast("long").alias(out))

