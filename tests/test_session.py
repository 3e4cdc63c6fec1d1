"""Driver-heap default of get_spark, sized to the machine, and the
Python workers' import path."""

import os
import subprocess
import sys
from pathlib import Path

from cpg_spark.session import default_driver_memory

REPO = str(Path(__file__).resolve().parents[1])

# sa_charset_cycle runs applyInPandas over a function of cpg_spark
WORKER_ENTRY = """
import sys
sys.path.insert(0, sys.argv[1])
from cpg_spark.queries import QUERIES
from cpg_spark.session import get_spark
spark = get_spark("worker-path", master="local[1]", shuffle_partitions=1)
print("rows", len(QUERIES["sa_charset_cycle"][0](spark, sys.argv[2]).collect()))
"""


def test_driver_memory_is_half_of_ram_capped_at_16g():
    # a 15 GB machine gets half its RAM, not a fixed 16g
    assert default_driver_memory("MemTotal:       15728640 kB\n") == "7680m"
    big = "MemFree: 1 kB\nMemTotal:       134217728 kB\n"
    assert default_driver_memory(big) == "16384m"


def test_python_workers_import_the_package_from_any_directory(tmp_path):
    """A driver started outside the repository, with no PYTHONPATH, still
    runs an entry whose Python workers unpickle package code."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", WORKER_ENTRY, REPO, "/root/testdata/sf0.001"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "rows " in res.stdout
