"""Array kernels shared by the materialize stage, the operators and the
query layer.

The co-occurrence pair emission is the reference's per-sentence edge
emission (DFGPass.kt:43-91 emits edges per node pair) done JVM-side from
a collected array — no self-join, no Python, scales as O(k^2) per group
instead of a shuffle-heavy self-join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_pairs(arr: Column) -> Column:
    """All ordered pairs (arr[i], arr[j]) with i < j from a pre-sorted,
    deduplicated array, as array<struct<a,b>>. Pure Column transform —
    stays in whole-stage codegen."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def chunk_array(arr: Column, size: int) -> Column:
    """Split an array into consecutive chunks of `size` (last may be
    shorter): array<array<T>>. The sentence-segmentation analog for
    unpunctuated token streams."""
    n_chunks = F.ceil(F.size(arr) / F.lit(size)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.slice(arr, i * size + 1, size),
    )


def ordered_sum(key: str, val: str) -> Column:
    """Aggregate: the double sum of column `val` as a sequential left
    fold from 0.0 over the group's rows sorted by (`key`, `val`). The
    order of the additions is a function of the data alone, so the sum
    is bit-identical at any parallelism and DuckDB replays it as
    `list_reduce(list_prepend(0.0, list(val ORDER BY key)), +)`."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key, val))),
            lambda s: s.getField(val),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
