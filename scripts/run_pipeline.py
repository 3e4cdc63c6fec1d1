"""Cluster entry point for the KG-construction pipeline.

Local:
    python scripts/run_pipeline.py --pages .bench/pages_100000.parquet \
        --warehouse /tmp/kg_wh --run-id r1

Cluster (the north-rule deployment shape):
    python -c "import shutil; shutil.make_archive('cpg_spark', 'zip', '.', 'cpg_spark')"
    spark-submit --py-files cpg_spark.zip scripts/run_pipeline.py \
        --pages s3://bucket/pages --warehouse s3://bucket/kg_wh --run-id r1

The session comes from spark-submit's conf (no master override here);
resume: re-running with the same --pages/--warehouse/--run-id skips every
stage whose snapshot fingerprint is already committed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from cpg_spark.plans.pipeline import STAGES, KgPipeline

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--warehouse", required=True, help="snapshot warehouse dir")
    ap.add_argument("--alias-dict", default=None, help="alias dict parquet (default: builtin synth dict)")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--extract-partitions", type=int, default=None)
    ap.add_argument("--stop-after", default=None, choices=[None, *STAGES])
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cpg-spark-kg").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from cpg_spark.synth_spark import alias_dict_df

    pages = spark.read.parquet(args.pages)
    adict = (
        spark.read.parquet(args.alias_dict) if args.alias_dict else alias_dict_df(spark)
    )

    pipe = KgPipeline(
        spark,
        warehouse=args.warehouse,
        run_id=args.run_id,
        extract_partitions=args.extract_partitions,
    )
    t0 = time.monotonic()
    out = pipe.run(pages, adict, input_token=args.pages, stop_after=args.stop_after)
    wall = time.monotonic() - t0

    summary = {
        "run_id": args.run_id,
        "wall_sec": round(wall, 2),
        "stages_ran": pipe.ran,
        "stages_skipped": pipe.skipped,
        "tables": {k: v.count() for k, v in out.items()},
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
