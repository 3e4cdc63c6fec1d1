"""Snapshot catalog: Iceberg-style commit protocol over parquet.

The Iceberg runtime jars are not in this image (pyspark_guide: "Delta/
Iceberg/Hudi need their jars on the classpath — not in the v1 image;
stub connectors behind an import-try"), so this module implements the
minimal snapshot semantics the pipeline needs — atomic commit, current
pointer, input fingerprint for resume — over plain parquet directories.
On a real cluster, `SnapshotCatalog` is swapped for `IcebergCatalog`
(same interface, `df.writeTo(...).createOrReplace()`), see
try_iceberg_catalog().

Layout:
    warehouse/<table>/snap-<id>/        parquet files
    warehouse/<table>/snap-<id>.json    manifest (committed marker; carries
                                        the frame's schema, so a read
                                        needs no footer inference)
    warehouse/<table>/current.json      pointer, replaced atomically

A snapshot is visible iff its manifest exists AND current.json points at
it — a killed writer leaves only an orphan snap dir, never a torn table.
The fingerprint in the manifest is what makes a rerun skip completed
stages (resume without recompute, north_rule requirement).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class SnapshotCatalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "current.json")

    # -- read side -----------------------------------------------------------
    def current_manifest(self, table: str) -> dict | None:
        ptr = self._pointer(table)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            cur = json.load(f)
        mpath = os.path.join(self._tdir(table), f"snap-{cur['snapshot_id']}.json")
        if not os.path.exists(mpath):
            return None  # torn commit: pointer without manifest is invisible
        with open(mpath) as f:
            return json.load(f)

    def has_snapshot(self, table: str, fingerprint: str) -> bool:
        m = self.current_manifest(table)
        return m is not None and m.get("fingerprint") == fingerprint

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        m = self.current_manifest(table)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        if "schema" not in m:  # committed before manifests carried it
            return spark.read.parquet(m["path"])
        return spark.read.schema(StructType.fromJson(m["schema"])).parquet(m["path"])

    # -- write side ----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        fingerprint: str,
        stage: str = "",
        run_id: str = "",
        extra: dict | None = None,
    ) -> dict:
        """Write df as the next snapshot of `table` and commit it.

        Commit order: parquet dir -> manifest json -> pointer replace
        (os.replace is atomic). Readers only trust pointer+manifest.
        """
        tdir = self._tdir(table)
        os.makedirs(tdir, exist_ok=True)
        existing = [
            int(n.split("-")[1])
            for n in os.listdir(tdir)
            if n.startswith("snap-") and not n.endswith(".json")
        ]
        snap_id = (max(existing) + 1) if existing else 1
        path = os.path.join(tdir, f"snap-{snap_id}")

        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)

        manifest = {
            "table": table,
            "snapshot_id": snap_id,
            "path": path,
            "fingerprint": fingerprint,
            "stage": stage,
            "run_id": run_id,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "write_wall_ms": wall_ms,
            "schema": df.schema.jsonValue(),
            **(extra or {}),
        }
        mpath = os.path.join(tdir, f"snap-{snap_id}.json")
        with open(mpath + ".tmp", "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(mpath + ".tmp", mpath)

        ptr_tmp = self._pointer(table) + ".tmp"
        with open(ptr_tmp, "w") as f:
            json.dump({"snapshot_id": snap_id}, f)
        os.replace(ptr_tmp, self._pointer(table))
        return manifest

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)


def try_iceberg_catalog(spark: SparkSession):
    """Return an Iceberg-backed catalog when the runtime is on the
    classpath, else None (import-try stub per environment constraints)."""
    try:
        spark._jvm.org.apache.iceberg.Snapshot  # noqa: B018
    except Exception:
        return None
    raise NotImplementedError(
        "Iceberg runtime detected but IcebergCatalog is not wired in this "
        "image; use df.writeTo('<catalog>.<ns>.<table>') directly."
    )
