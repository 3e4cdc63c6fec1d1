"""Self-check harness mimicking the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir, compare row count, column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cpg_spark.oracle_check import compare_query, register_views  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as se
    from cpg_spark.operators import iterutil
    from cpg_spark.session import get_spark

    spark = get_spark("check-oracles")
    con = duckdb.connect()
    register_views(con, sf_dir)

    qs, oracles = se.queries(), se.oracle_sql()
    sc = spark.sparkContext
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # one entry's checkpoints are released before the next starts
        with iterutil.scope():
            if name not in oracles:
                n = fn(spark, sf_dir).count()
                print(f"ok?  {name}: rows-only check, {n} rows")
            else:
                try:
                    diag = compare_query(spark, con, fn, oracles[name], sf_dir)
                except Exception as e:
                    diag = f"error: {e}"
                if diag is None:
                    print(f"PASS {name}")
                else:
                    failures.append(name)
                    print(f"FAIL {name}: {diag}")
    print(f"persisted RDDs after the sweep: {len(iterutil.persisted_ids(sc))}")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
