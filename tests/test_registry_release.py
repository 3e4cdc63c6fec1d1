"""The release rule across the whole registry, in one session: a built
entry holds only the local checkpoints its frame reads, and a release
scope closed after its last action leaves no persisted RDD and no
stored byte beyond what the session held before the entry ran."""

import pytest

from cpg_spark.operators import iterutil
from cpg_spark.queries import QUERIES, _releasing

SF = "/root/testdata/sf0.001"


def _storage_bytes(sc) -> int:
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_holds_only_what_it_reads(spark, name):
    sc = spark.sparkContext
    since, stored = iterutil.persisted_ids(sc), _storage_bytes(sc)
    with iterutil.scope() as entry:
        df = QUERIES[name][0](spark, SF)
        assert iterutil.persisted_ids(sc) - since <= iterutil._reads([df])
        assert entry.held <= iterutil._reads([df])
        df.write.format("noop").mode("overwrite").save()
    # at most the snapshot: Spark's ContextCleaner may meanwhile drop
    # blocks that earlier tests' collected frames held
    assert iterutil.persisted_ids(sc) <= since
    assert _storage_bytes(sc) <= stored


def test_failed_entry_releases_its_checkpoints(spark):
    """An entry that raises after taking a local checkpoint leaves no
    block behind."""
    sc = spark.sparkContext

    def broken(spark, sf_dir):
        iterutil.ckpt(spark.range(10))
        raise RuntimeError("entry failed")

    before = iterutil.persisted_ids(sc)
    with pytest.raises(RuntimeError, match="entry failed"):
        _releasing(broken)(spark, SF)
    assert iterutil.persisted_ids(sc) - before == set()
