"""SparkSession factory tuned for this engine.

Local mode is the test stand-in for a multi-executor cluster; every knob
here is chosen to behave the same way on a real cluster (AQE on, shuffle
partitions sized to parallelism, UTC timestamps for oracle parity,
Arrow enabled for the pandas-UDF slow path).

ICU case mappings are off (``spark.sql.icu.caseMappings.enabled=false``),
so ``lower()`` takes the JDK path (``UTF8String.toLowerCase``). With them
on (Spark 4's default) the first ``lower()`` in a JVM initialises
``CollationAwareUTF8String``, which builds a title-case table over every
Unicode code point while the other task threads wait on the class-init
lock: the first pipeline call in a driver paid about 1 s of wall time for
it, and about 270 MB more peak RSS from the allocation churn. The
package's only case mapping is ``lower`` (tokens, alias keys, dedup keys);
it calls no ``upper``, ``initcap`` or collation.

Both paths lower ASCII by the same ``toLowerCaseAscii``, so ASCII output
is byte-identical; the benchmark corpora and test data are ASCII. Non-ASCII
input goes through ``String.toLowerCase()`` in the JVM's default locale
instead of ICU's root locale. The two agree on final sigma, dotted capital
I, the Kelvin sign, capital sharp s, Deseret, fullwidth and Cyrillic
letters, and on malformed UTF-8. Known differences: U+10570 (Vithkuqi)
and U+A7C0, whose case pairs are newer than the JDK 17 Unicode tables
(JDK lowering leaves them unchanged). A tr, az or lt default locale also
changes how non-ASCII strings containing ``I`` lower. ``extra_conf`` can
turn ICU back on like any other conf.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str) -> str:
    """spark.driver.memory unless SPARK_GRAFT_DRIVER_MEM is set: half of
    MemTotal in /proc/meminfo text, at most 16g (the driver shares the
    machine with DuckDB during oracle sweeps)."""
    kb = int(re.search(r"^MemTotal:\s+(\d+) kB", meminfo, re.M).group(1))
    return f"{min(16384, kb // 2048)}m"


def get_spark(
    app_name: str = "cpg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local parallelism — the single
    most important local-mode knob (200 default over-parallelizes small
    data and under-parallelizes big data).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] or local[*]
        inner = master.split("[")[-1].rstrip("]") if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        Path("/proc/meminfo").read_text()
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # web crawls contain malformed UTF-8; ANSI decode() REPORTs (one
        # bad page kills the job) — REPLACE with U+FFFD instead (the
        # failOnError=false analog, reference TranslationManager.kt:347)
        .config("spark.sql.legacy.codingErrorAction", "true")
        # lower() by the JDK, not ICU: skips ICU's once-per-JVM title-case
        # table (see the module docstring for what changes)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", mem)
        # ParallelGC: measured ~1.4x faster wall and ~3x less CPU than G1
        # for this allocation profile at local[32] (G1 humongous-region
        # churn under 32 concurrent task buffers)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Python workers unpickle UDFs that reference this package; they
        # start in the driver's working directory, so name the package
        # root instead of relying on it
        .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1]))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
