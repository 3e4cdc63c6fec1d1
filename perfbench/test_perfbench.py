"""Self-tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q

The last test starts a small local Spark session (about 15 s).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want) / 100, 6) >= 10


def test_percentile_interpolates():
    xs = [float(i) for i in range(100)]
    assert stats.percentile(xs, 50.0) == 49.5
    assert stats.percentile(xs, 90.0) == pytest.approx(89.1)
    assert stats.percentile([3.0], 99.0) == 3.0


def test_golden_comparator_flags_one_dropped_triple():
    from cpg_spark import synth

    golden = {
        (t["subj"], t["pred"], t["obj"], t["url"], t["sent_idx"])
        for t in synth.make_corpus(30, seed=5)["golden_triples"]
    }
    assert stats.compare_sets(set(golden), golden, "triples") is None
    dropped = sorted(golden, key=repr)[7]
    diag = stats.compare_sets(golden - {dropped}, golden, "triples")
    assert diag is not None and "1 missing" in diag and repr(dropped) in diag
    diag = stats.compare_sets(golden | {("x", "mentions", "y", None, None)}, golden, "triples")
    assert diag is not None and "1 unexpected" in diag


def test_row_comparator_ignores_order_but_not_multiplicity():
    nan = float("nan")
    want = (["id", "v"], [(1, 0.5), (2, nan), (2, nan)])
    # column order and case, row order: ignored; NaN equals NaN
    assert stats.compare_rows((["V", "ID"], [(nan, 2), (0.5, 1), (nan, 2)]), want, "q") is None
    diag = stats.compare_rows((["v", "id"], [(0.5, 1), (nan, 2)]), want, "q")
    assert diag is not None and "1 rows missing" in diag
    assert "columns" in stats.compare_rows((["id"], [(1,)]), want, "q")


def test_base_documents_are_pairwise_distinct_and_injections_traceable():
    docs, copies, edits = inputs.make_curation_docs(300, seed=4)
    base = [inputs.shingles(d["text"]) for d in docs[:300]]
    worst = max(inputs.jaccard(base[i], base[j]) for i in range(300) for j in range(i))
    assert worst < inputs.BASE_JACCARD_MAX
    assert len(copies) == len(edits) == 30
    by_id = {d["doc_id"]: d for d in docs}
    assert all(by_id[c]["text"] == by_id[s]["text"] for c, s in copies.items())
    for e, s in edits.items():
        a, b = by_id[e]["text"].split(), by_id[s]["text"].split()
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1
    assert min(list(copies) + list(edits)) == 300
    # the same seed gives the same inputs
    assert inputs.make_curation_docs(300, seed=4) == (docs, copies, edits)


def test_process_start_time_is_in_the_past():
    import time

    import run

    t = run.process_start_time()
    assert 0 < time.time() - t < 3600


def test_union_seconds_and_skew():
    assert tracing.union_seconds([]) == 0.0
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.task_skew([1.0]) is None
    assert tracing.task_skew([1.0, 1.0, 1.0, 4.0]) == 4.0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from cpg_spark.session import get_spark

    s = get_spark("perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_job_group_attribution_and_per_layer_names(spark):
    import run

    sc = spark.sparkContext
    tracer = tracing.Tracer(sc)
    with tracer.span("kg.run", group="kg.run"):
        spark.range(10).collect()
        with tracer.span("kg.triples", group="kg.triples"):
            spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
        spark.range(7).collect()  # back under the enclosing group
    assert sc.getLocalProperty(tracing.JOB_GROUP) is None
    outer, inner = tracing.group_stats(sc, "kg.run"), tracing.group_stats(sc, "kg.triples")
    assert outer["jobs"] >= 2 and inner["jobs"] >= 1
    # the shuffle belongs to the tagged layer only
    assert inner["shuffle_write_bytes"] > 0 and outer["shuffle_write_bytes"] == 0
    assert [s["name"] for s in tracer.spans] == ["kg.triples", "kg.run"]
    assert tracer.spans[0]["parent"] == "kg.run"

    # wrapping patches modules that imported the function by name, and
    # unwrapping restores every one of them
    from cpg_spark import lineage
    from cpg_spark.plans import pipeline

    orig = lineage.partition_counts
    tracer.wrap(lineage, "partition_counts", "lineage.partition_counts")
    assert pipeline.partition_counts is lineage.partition_counts is not orig
    with tracer.span("kg.triples", group="kg.triples"):
        pipeline.partition_counts(spark.range(4))
    tracer.unwrap_all()
    assert pipeline.partition_counts is orig and lineage.partition_counts is orig
    assert tracer.spans[-2]["name"] == "lineage.partition_counts"
    assert tracer.spans[-2]["parent"] == "kg.triples"

    class FakeKg:
        prefix = "kg"
        stages = pipeline.STAGES

    extra = dict.fromkeys(
        ("get_spark_s", "first_call_s", "untraced_s", "sql_execs", "gc_s",
         "residual_rdds", "residual_mb", "rss_python_mb", "rss_jvm_mb"),
        1.0,
    )
    m = run.per_layer_metrics(FakeKg, tracer, spark, 2.0, extra)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [x["name"] for x in bench["per_layer"]] == list(m)
    assert all(x["unit"] == m[x["name"]]["unit"] for x in bench["per_layer"])
    triples_jobs = tracing.group_stats(sc, "kg.triples")["jobs"]
    assert m["kg.triples.jobs"]["value"] == triples_jobs > inner["jobs"]
    assert m["cur.gate.jobs"]["value"] == 0
