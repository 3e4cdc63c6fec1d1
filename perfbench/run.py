#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 1 --trace 0

Run from the root of a source checkout. The script sets the program's
environment itself (PYTHONPATH for Spark's Python workers, core count,
driver heap, temporary directories), generates the workload's inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts one Spark
session on ``local[<cores>]``, then times the workload's public call
repeatedly for ``--seconds`` (at least once) and checks the outputs
against an independent golden.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` makes the
same timed calls, then one call with spans and job groups on and one
more without, and reports the per-layer metrics, including the tracing
overhead. After its own calls, a traced run makes its workload's layer
probe: the ``ingest.*`` drain on ``kg_batch``, the ``ops.*`` pass on
``curation``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("kg_batch", "curation")
DRIVER_MEM_CAP_MB = 2048
TICK = os.sysconf("SC_CLK_TCK")
# stages whose task skew is reported (the shuffle-heavy ones)
SKEW_STAGES = ("kg.triples", "kg.triples_agg", "kg.nodes", "cur.candidates", "cur.verified_edges")


def process_start_time() -> float:
    """Wall-clock start of this process: now minus its age, both from
    /proc, to one clock tick."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / TICK)


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS, so the peak the
    run reports leaves out input generation."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:  # kernel without the reset: the peak includes inputs
        pass


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _wait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) / 1024


def configure_env(work: str, cores: int, trace: bool) -> dict[str, str]:
    """Everything the program reads from its environment, set from
    here; returns the Spark confs that belong with it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap_mb = int(min(DRIVER_MEM_CAP_MB, mem_total_mb() / 4))
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    conf = {
        "spark.cpg.kernel.width": str(cores),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # keeps the session's ParallelGC choice; adds the run's tmpdir
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
    }
    if trace:  # the traced call's jobs must still be in the status store
        conf |= {
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }
    return conf


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer_metrics(wl, tracer, spark, traced_wall: float, extra: dict) -> dict:
    from stats import percentile, tail_percentile
    from tracing import group_stats, union_seconds
    from workloads import EXTRA_LAYERS, WORKLOADS

    sc = spark.sparkContext
    groups = [f"{wl.prefix}.run"] + [f"{wl.prefix}.{s}" for s in wl.stages]
    gs = {g: group_stats(sc, g) for g in groups}
    lists = ("task_skew", "intervals", "task_durations")
    tot = {k: sum(s[k] for s in gs.values()) for k in gs[groups[0]] if k not in lists}
    durs = [d for s in gs.values() for d in s["task_durations"]]
    tail = tail_percentile(len(durs)) or 50.0
    busy = union_seconds([iv for s in gs.values() for iv in s["intervals"]])
    skews = [s["task_skew"] for s in gs.values() if s["task_skew"] is not None]
    untraced_wall = extra["untraced_s"]

    def spans(name: str, parent: str | None = None) -> float:
        return sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["name"] == name and (parent is None or s["parent"] == parent)
        )

    # outermost canonicalize calls only: canonical_map may call
    # connected_components
    canon = sum(
        s["end"] - s["start"]
        for s in tracer.spans
        if s["name"].startswith("canonicalize.")
        and not (s["parent"] or "").startswith("canonicalize.")
    )
    m = {
        "session.get_spark_s": metric(extra["get_spark_s"], "s"),
        "op.first_call_s": metric(extra["first_call_s"], "s"),
        "op.wall_s": metric(traced_wall, "s"),
        "op.untraced_wall_s": metric(untraced_wall, "s"),
        "trace.overhead_s": metric(traced_wall - untraced_wall, "s"),
        "driver.self_s": metric(traced_wall - busy, "s"),
        "spark.jobs": metric(tot["jobs"], "count"),
        "spark.sql_execs": metric(extra["sql_execs"], "count"),
        "spark.tasks": metric(tot["tasks"], "count"),
        "spark.task_run_s": metric(tot["task_run_s"], "s"),
        "spark.task_cpu_s": metric(tot["task_cpu_s"], "s"),
        "spark.shuffle_write_bytes": metric(tot["shuffle_write_bytes"], "bytes"),
        "spark.shuffle_read_bytes": metric(tot["shuffle_read_bytes"], "bytes"),
        "spark.spill_bytes": metric(tot["spill_bytes"], "bytes"),
        "spark.task_p50_s": metric(percentile(durs, 50.0) if durs else 0.0, "s"),
        # the highest percentile with at least ten tasks beyond it
        "spark.task_tail_s": metric(percentile(durs, tail) if durs else 0.0, "s"),
        "spark.task_skew_max": metric(max(skews, default=1.0), "x"),
        "lineage.partition_counts_s": metric(spans("lineage.partition_counts"), "s"),
        "catalog.write_s": metric(spans("catalog.write"), "s"),
        "lineage.append_lineage_s": metric(spans("lineage.append_lineage"), "s"),
        "canonicalize.call_s": metric(canon, "s"),
        "jvm.gc_s": metric(extra["gc_s"], "s"),
        "storage.residual_rdds": metric(extra["residual_rdds"], "count"),
        "storage.residual_mb": metric(extra["residual_mb"], "MB"),
        "rss.python_mb": metric(extra["rss_python_mb"], "MB"),
        "rss.jvm_mb": metric(extra["rss_jvm_mb"], "MB"),
    }
    # per-stage layers: shares of the traced call's wall time, so a
    # workload that never reaches a stage reads 0 % rather than 0 s
    share = 100.0 / traced_wall
    for name in (f"{w.prefix}.{stage}" for w in WORKLOADS.values() for stage in w.stages):
        g = gs.get(name, {})
        m[f"{name}.wall_pct"] = metric(share * spans(name), "%")
        m[f"{name}.compute_pct"] = metric(share * spans("lineage.partition_counts", name), "%")
        m[f"{name}.write_pct"] = metric(share * spans("catalog.write", name), "%")
        m[f"{name}.lineage_pct"] = metric(share * spans("lineage.append_lineage", name), "%")
        m[f"{name}.jobs"] = metric(g.get("jobs", 0), "count")
        m[f"{name}.shuffle_write_bytes"] = metric(g.get("shuffle_write_bytes", 0), "bytes")
    for name in SKEW_STAGES:
        m[f"{name}.task_skew"] = metric(gs.get(name, {}).get("task_skew") or 0.0, "x")
    layers = extra.get("layers", {})
    for name, unit in EXTRA_LAYERS:
        m[name] = metric(layers.get(name, 0), unit)
    return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = process_start_time()
    # on SIGTERM, unwind through the finally below so the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [ROOT, HERE]
    try:
        import cpg_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    conf = configure_env(work, cores, bool(args.trace))

    import tracing as tr
    from workloads import PROBES, WORKLOADS

    from cpg_spark.session import get_spark

    spark = None
    attempted = failed = 0
    diagnostics: list[str] = []
    walls: list[float] = []
    cpu_log: list[tuple[float, float]] = []
    rss: tuple[float, float] = (0.0, 0.0)
    result_metrics: dict = {}

    def record(checks) -> None:
        nonlocal attempted, failed
        for name, diag in checks:
            attempted += 1
            if diag is not None:
                failed += 1
                diagnostics.append(f"{name}: {diag}")

    try:
        wl = WORKLOADS[args.workload](work, args.seed)
        reset_peak_rss()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        get_spark_s = time.perf_counter() - t0
        wl.load(spark)
        setup_s = time.time() - t_proc

        def timed_op(tracer=None) -> float | None:
            """One call and its size check; None when the call failed."""
            nonlocal attempted, failed, rss
            attempted += 1
            try:
                c0 = cpu_ticks()
                wall = wl.op(spark, tracer)
                c1 = cpu_ticks()
                # peaks before any check collects outputs to this process
                rss = (peak_rss_mb(os.getpid()), peak_rss_mb(jvm_pid(spark)))
                cpu_log.append(((c1[0] - c0[0]) / TICK, (c1[1] - c0[1]) / TICK))
            except Exception:  # noqa: BLE001 - a failed call is counted and reported
                failed += 1
                diagnostics.append(f"call {wl.n_ops}: {traceback.format_exc(limit=3)}")
                return None
            try:
                size = wl.count_check(spark)
            except Exception:  # noqa: BLE001 - e.g. the call committed no output
                size = traceback.format_exc(limit=3)
            record([(f"call {wl.n_ops} size", size)])
            return wall

        t_meas = time.perf_counter()
        while not walls or time.perf_counter() - t_meas < args.seconds:
            wall = timed_op()
            if wall is None:
                break
            walls.append(wall)

        if args.trace and walls:
            # one traced call, then one untraced call in the same warm
            # state: their difference is the tracing overhead
            tracer = tr.Tracer(spark.sparkContext)
            wl.instrument(tracer)
            n_exec0, gc0 = tr.sql_execution_count(spark), tr.gc_seconds(spark)
            try:
                traced = timed_op(tracer)
            finally:
                tracer.unwrap_all()
            n_exec1, gc1 = tr.sql_execution_count(spark), tr.gc_seconds(spark)
            untraced = timed_op()
            try:
                layers, probe_checks, probe_spans = PROBES[wl.name](spark, work, args.seed)
            except Exception:  # noqa: BLE001 - a failed probe is counted and reported
                layers, probe_spans = {}, []
                probe_checks = [("probe", traceback.format_exc(limit=3))]
            record(probe_checks)
            spark.catalog.clearCache()
            rdds, mb = tr.storage_residual(spark)
            if traced is not None and untraced is not None:
                extra = {
                    "get_spark_s": get_spark_s,
                    "first_call_s": walls[0],
                    "untraced_s": untraced,
                    "sql_execs": n_exec1 - n_exec0,
                    "gc_s": gc1 - gc0,
                    "residual_rdds": rdds,
                    "residual_mb": mb,
                    "rss_python_mb": rss[0],
                    "rss_jvm_mb": rss[1],
                    "layers": layers,
                }
                result_metrics = per_layer_metrics(wl, tracer, spark, traced, extra)
            write_spans(args, tracer.spans + probe_spans)

        try:
            checks = wl.checks(spark)
        except Exception:  # noqa: BLE001 - e.g. no committed output after a failed call
            checks = [("checks", traceback.format_exc(limit=3))]
        record(checks)

        if not args.trace and walls:
            op_s = statistics.median(walls)
            n = wl.work_items()
            result_metrics = {
                "setup_s": metric(setup_s, "s"),
                "throughput_per_s": metric(n / op_s, "1/s"),
                "peak_rss_mb": metric(sum(rss), "MB"),
            }
            print(
                f"{args.workload} seed={args.seed}: {wl.items_label}={n / op_s:.2f} "
                f"[{n} {wl.items_noun} / {op_s:.3f} s, median of {len(walls)} call(s)] "
                f"setup_s={setup_s:.3f} peak_rss_mb={sum(rss):.1f} "
                f"failed_ratio={failed}/{attempted} "
                f"(cpu_s, steal_s) per call {[(round(a, 2), round(b, 2)) for a, b in cpu_log]}"
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for d in diagnostics:
        print(f"FAILED {d}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(walls),
                "attempted": attempted,
                "failed": failed,
                "metrics": result_metrics,
            }
        )
    )
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def write_spans(args, spans: list[dict]) -> None:
    """Spans of the traced call and the probe, written once at exit of
    the traced run."""
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
        json.dump(spans, f, indent=1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
