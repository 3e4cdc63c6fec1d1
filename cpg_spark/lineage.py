"""Per-stage, per-partition lineage rows (FIXTURES.md §6 schema).

The reference wraps every frontend run and pass in a Benchmark object and
keeps the rows in an in-memory StatisticsHolder
(helpers/MeasurementHolder.kt:39-84, TranslationManager.kt:78-109); here
the same rows are durable — appended to a lineage table in the warehouse
so a resumed run can show what it skipped.

Bookkeeping runs no Spark job. The per-partition row counts come from the
parquet footers of the committed snapshot, and the driver writes each
batch of lineage rows as one parquet file with pyarrow, committed by
rename — the same idiom the snapshot catalog uses for its manifest and
pointer. Files whose names start with ``.`` are invisible to Spark's
reader, so a writer killed before the rename leaves nothing readable.
"""

from __future__ import annotations

import os
import re
import time
import uuid

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .schema import LINEAGE

LINEAGE_TABLE = "_lineage"

_PART = re.compile(r"part-(\d+)")


def partition_counts(df: DataFrame) -> list[tuple[int, int]]:
    """(partition_id, rows) of a frame read from parquet — typically a
    committed snapshot — sorted by partition id. The id is the
    ``part-NNNNN`` number Spark gives each written file, i.e. the write
    task's partition; the rows are summed from the file footers on the
    driver, so no Spark job runs. Files are opened through
    ``pyarrow.fs``, so any URI scheme it knows works. A frame without
    input files (not read from files, or an empty scan) gives ``[]``."""
    counts: dict[int, int] = {}
    for uri in df.inputFiles():
        fs, path = pafs.FileSystem.from_uri(uri)
        m = _PART.search(os.path.basename(path))
        if m is None:
            raise ValueError(f"not a part file of a Spark write: {uri}")
        pid = int(m.group(1))
        counts[pid] = counts.get(pid, 0) + pq.read_metadata(path, filesystem=fs).num_rows
    return sorted(counts.items())


def append_lineage(
    spark: SparkSession,
    warehouse: str,
    run_id: str,
    stage: str,
    input_split: str,
    rows_in: int | None,
    per_partition_out: list[tuple[int, int]],
    wall_ms: int,
    snapshot_id: int | None,
) -> None:
    """Append one row per (partition_id, rows) of ``per_partition_out``
    — one ``(0, 0)`` row when it is empty — as one new file of the
    lineage table."""
    recs = [
        (run_id, stage, pid, input_split, rows_in, n, wall_ms, snapshot_id)
        for pid, n in (per_partition_out or [(0, 0)])
    ]
    table = pa.table([list(c) for c in zip(*recs)], schema=to_arrow_schema(LINEAGE))
    tdir = os.path.join(warehouse, LINEAGE_TABLE)
    os.makedirs(tdir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.zstd.parquet"
    tmp = os.path.join(tdir, f".{name}")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(tdir, name))


def read_lineage(spark: SparkSession, warehouse: str) -> DataFrame:
    return spark.read.schema(LINEAGE).parquet(os.path.join(warehouse, LINEAGE_TABLE))


class StageTimer:
    def __init__(self) -> None:
        self.t0 = time.time()

    def wall_ms(self) -> int:
        return int((time.time() - self.t0) * 1000)
