"""Driver-heap default of get_spark, sized to the machine, the Python
workers' import path, and lower() on the JDK case mapping instead of
ICU's."""

import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

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

ICU_CLASS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"
ICU_CONF = "spark.sql.icu.caseMappings.enabled"

# Both pipelines lower text (tokens, alias keys, dedup keys); neither may
# initialise the class that builds ICU's title-case table. The last check
# turns ICU on and lowers once, so the probe is seen to read "initialised".
FRESH_JVM_ENTRY = """
import sys, tempfile
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from cpg_spark import synth
from cpg_spark.plans.curation import CurationPipeline
from cpg_spark.plans.pipeline import KgPipeline
from cpg_spark.schema import ALIAS_DICT, PAGES
from cpg_spark.session import get_spark

spark = get_spark("fresh-jvm", master="local[2]", shuffle_partitions=2)
jvm = spark._jvm
unsafe_field = jvm.Class.forName("sun.misc.Unsafe").getDeclaredField("theUnsafe")
unsafe_field.setAccessible(True)

def icu_initialised():
    loader = jvm.Thread.currentThread().getContextClassLoader()
    cls = jvm.Class.forName(sys.argv[2], False, loader)
    return not unsafe_field.get(None).shouldBeInitialized(cls)

print("start", icu_initialised())
corpus = synth.make_corpus(40)
pages = spark.createDataFrame(corpus["pages"], PAGES)
alias = spark.createDataFrame(corpus["alias_dict"], ALIAS_DICT)
out = KgPipeline(spark, tempfile.mkdtemp(), run_id="kg").run(pages, alias, input_token="kg")
print("triples", out["triples"].count())
print("after_kg", icu_initialised())
docs = spark.createDataFrame(
    [(i, "The Quick brown FOX jumps over the lazy dog number " + str(i % 3), "en")
     for i in range(6)],
    "doc_id long, text string, lang string",
)
out = CurationPipeline(spark, tempfile.mkdtemp(), run_id="cur").run(docs, input_token="cur")
print("kept", out["kept"].count())
print("after_curation", icu_initialised())
spark.conf.set(sys.argv[3], "true")
spark.range(1).select(F.lower(F.lit("ICU"))).collect()
print("after_icu_lower", icu_initialised())
"""

# lower() gives the same string under both case mappings for these, and
# for malformed UTF-8 (a binary cast to string)
LOWER_SAME = [
    "HeLLo World, 123 MIXED-case ASCII",
    "ΟΔΟΣ ΣΟΦΟΣ",  # final sigma
    "İSTANBUL",  # U+0130, dotted capital I
    "\u212a",  # Kelvin sign
    "\u1e9e",  # capital sharp s
    "\U00010400",  # Deseret
    "ＡＢＣ",  # fullwidth
    "ПРИВЕТ МИР",  # Cyrillic
]
# Known differences: their case pairs are newer than the JDK 17 Unicode
# tables, so the JDK leaves them unchanged while ICU lowers them
LOWER_DIFFERS = {"\U00010570": "\U00010597", "\ua7c0": "\ua7c1"}


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


def test_pipelines_never_build_the_icu_case_table(tmp_path):
    """A fresh driver from get_spark runs KgPipeline and CurationPipeline
    without initialising ICU's case-mapping class, so no call pays for
    its title-case table."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, "-c", FRESH_JVM_ENTRY, REPO, ICU_CLASS, ICU_CONF],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    seen = dict(line.split(" ", 1) for line in res.stdout.splitlines() if " " in line)
    assert int(seen["triples"]) > 0 and int(seen["kept"]) > 0, res.stdout
    assert seen["start"] == "False"
    assert seen["after_kg"] == "False"
    assert seen["after_curation"] == "False"
    assert seen["after_icu_lower"] == "True"


def test_lower_is_the_same_with_and_without_icu(spark):
    """ASCII and the sampled non-ASCII strings, malformed UTF-8 included,
    lower identically under both case mappings; the two known differences
    keep the JDK's (older Unicode) answer."""
    texts = [*LOWER_SAME, *LOWER_DIFFERS]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, s string").union(
        spark.sql(f"SELECT {len(texts)} AS i, CAST(X'48C3284CFF41' AS STRING) AS s")
    )

    def lower_hex(icu):
        # a new frame per setting: a planned frame keeps the mapping it
        # was planned with
        spark.conf.set(ICU_CONF, icu)
        lowered = df.orderBy("i").select(F.hex(F.lower("s")).alias("h"))
        return [bytes.fromhex(r["h"]) for r in lowered.collect()]

    before = spark.conf.get(ICU_CONF)
    try:
        jdk, icu = lower_hex("false"), lower_hex("true")
    finally:
        spark.conf.set(ICU_CONF, before)
    n = len(LOWER_SAME)
    assert jdk[:n] == icu[:n] == [s.lower().encode() for s in LOWER_SAME]
    assert jdk[-1] == icu[-1] == bytes.fromhex("68EFBFBD286CEFBFBD61")
    for got_jdk, got_icu, (s, icu_lower) in zip(jdk[n:-1], icu[n:-1], LOWER_DIFFERS.items()):
        assert got_jdk == s.encode()
        assert got_icu == icu_lower.encode()
