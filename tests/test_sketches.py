"""HLL sketch: accuracy envelope against exact distinct counts,
mergeability (the append-only contract), and determinism of the
register/estimate path on replayed input."""

from __future__ import annotations

from pyspark.sql import functions as F

from cpg_spark.operators import sketches


def test_hll_estimate_within_error_envelope(spark):
    """Raw HLL in its calibrated range (n > 2.5m): estimates land
    within ~3 sigma of exact; below 2.5m the estimate floors near
    alpha*m — the DOCUMENTED small-range bias (linear counting needs
    libm ln(), out of scope under the engine-parity no-log rule), so
    the floor is asserted too, not hidden."""
    rows = []
    for grp, n in (("b", 2000), ("c", 20000)):
        rows += [(grp, f"{grp}-v{i}") for i in range(n)]
        rows += [(grp, f"{grp}-v{i}") for i in range(0, n, 3)]  # repeats
    df = spark.createDataFrame(rows, "g string, v string")
    p = 8  # m=256, 2.5m=640: both cardinalities in the raw range
    est = {
        r["g"]: r["est_distinct"]
        for r in sketches.hll_distinct(df, F.col("v"), ["g"], p=p).collect()
    }
    for grp, n in (("b", 2000), ("c", 20000)):
        # std err 1.04/sqrt(256) = 6.5%; assert 3 sigma
        assert abs(est[grp] - n) / n < 0.20, (grp, est[grp], n)

    # small range at p=12: n=200 << 2.5*4096 -> the raw formula floors
    # near alpha*m ~ 2955 regardless of n (the documented bias)
    small = spark.createDataFrame(
        [("s", f"s-v{i}") for i in range(200)], "g string, v string"
    )
    e = sketches.hll_distinct(small, F.col("v"), ["g"], p=12).collect()[0]
    floor = 0.7213 / (1.0 + 1.079 / 4096) * 4096
    assert abs(e["est_distinct"] - floor) / floor < 0.15
    # and n_zero_registers carries what linear counting would need
    assert e["n_zero_registers"] >= 4096 - 200


def test_hll_registers_merge_is_max(spark):
    """Sketch mergeability: registers(A ∪ B) == per-register max of
    registers(A) and registers(B) — the property that lets 10^12 docs
    stream in per-batch."""
    a = spark.createDataFrame(
        [("x", f"v{i}") for i in range(500)], "g string, v string"
    )
    b = spark.createDataFrame(
        [("x", f"w{i}") for i in range(500)], "g string, v string"
    )
    ra = sketches.hll_registers(a, F.col("v"), ["g"])
    rb = sketches.hll_registers(b, F.col("v"), ["g"])
    merged = (
        ra.unionByName(rb)
        .groupBy("g", "reg")
        .agg(F.max("rho").alias("rho"))
    )
    ru = sketches.hll_registers(
        a.unionByName(b), F.col("v"), ["g"]
    )
    got = {(r["g"], r["reg"]): r["rho"] for r in merged.collect()}
    exp = {(r["g"], r["reg"]): r["rho"] for r in ru.collect()}
    assert got == exp
    # and the estimate from merged registers equals the union's
    em = sketches.hll_estimate(merged, ["g"]).collect()[0]["est_distinct"]
    eu = sketches.hll_estimate(ru, ["g"]).collect()[0]["est_distinct"]
    assert em == eu


def test_hll_deterministic_replay(spark):
    """Same input twice -> bit-identical estimate (portable hashes,
    dyadic-exact sum: no RNG, no fold-order dependence)."""
    df = spark.createDataFrame(
        [("g", f"t{i * 7 % 997}") for i in range(3000)], "g string, v string"
    )
    e1 = sketches.hll_distinct(df, F.col("v"), ["g"]).collect()[0]
    e2 = sketches.hll_distinct(
        df.repartition(17), F.col("v"), ["g"]
    ).collect()[0]
    assert e1["est_distinct"] == e2["est_distinct"]
    assert e1["n_zero_registers"] == e2["n_zero_registers"]


def test_cms_never_undercounts_and_is_mergeable(spark):
    """Count-Min contract on a skewed corpus: est >= exact for every
    probed value (one-sided), exact for heavy hitters when w >> vocab,
    bounded overcount, and merged counters (elementwise +) equal the
    union's counters."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        rows += [("g", f"tok{i}")] * (500 if i < 3 else 5)
    a = spark.createDataFrame(rows[: len(rows) // 2], "g string, v string")
    b = spark.createDataFrame(rows[len(rows) // 2:], "g string, v string")
    full = a.unionByName(b)
    exact = {
        r["v"]: r["c"]
        for r in full.groupBy("v").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    counters = sketches.cms_counters(full, F.col("v"), ["g"], w=1 << 12)
    probes = full.select("g", "v").distinct()
    est = {
        r["value"]: r["est_count"]
        for r in sketches.cms_estimate(
            counters, probes, F.col("v"), ["g"], w=1 << 12
        ).collect()
    }
    for v, c in exact.items():
        assert est[v] >= c, (v, est[v], c)
        assert est[v] <= c + 40, (v, est[v], c)  # tiny collision mass
    # 40 values in 4096 slots x 4 rows: heavy hitters exact
    for i in range(3):
        assert est[f"tok{i}"] == exact[f"tok{i}"]
    # mergeability: counters(A) + counters(B) == counters(A u B)
    ca = sketches.cms_counters(a, F.col("v"), ["g"], w=1 << 12)
    cb = sketches.cms_counters(b, F.col("v"), ["g"], w=1 << 12)
    merged = (
        ca.unionByName(cb)
        .groupBy("g", "row", "slot")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    got = {(r["row"], r["slot"]): r["c"] for r in merged.collect()}
    exp = {(r["row"], r["slot"]): r["c"] for r in counters.collect()}
    assert got == exp
    # pre-aggregated input: one row per distinct value, weighted by its
    # count, gives the same counters
    counted = full.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n"))
    weighted = sketches.cms_counters(
        counted, F.col("v"), ["g"], w=1 << 12, count=F.col("n")
    )
    assert {(r["row"], r["slot"]): r["c"] for r in weighted.collect()} == exp
    assert dict(weighted.dtypes)["c"] == "bigint"


def test_bloom_one_sided_membership(spark):
    """Bloom contract: every inserted hash probes true (no false
    negatives, ever); false positives stay near the analytic rate at
    the configured load; the bits table is bounded by m and merges by
    union."""
    from pyspark.sql import functions as F

    ins = spark.createDataFrame(
        [(i * 2654435761 % (1 << 30),) for i in range(2000)], "h long"
    ).distinct()
    other = spark.createDataFrame(
        [((i * 40503 + 7) % (1 << 30) + (1 << 30),) for i in range(2000)],
        "h long",
    ).distinct()
    m, k = 1 << 14, 3
    bits = sketches.bloom_bits(ins, "h", m=m, k=k)
    nbits = bits.count()
    assert nbits <= m
    got_in = sketches.bloom_probe(ins, bits, "h", m=m, k=k)
    assert got_in.filter(~F.col("bloom_hit")).count() == 0  # no FN
    got_out = sketches.bloom_probe(other, bits, "h", m=m, k=k)
    n_other = other.count()
    fp = got_out.filter(F.col("bloom_hit")).count() / n_other
    # analytic rate ~ (1 - e^(-k*2000/m))^k ~ 0.022; allow 3x headroom
    assert fp < 0.07, fp
    # mergeability: bits(A) union bits(B) == bits(A u B)
    b2 = sketches.bloom_bits(other, "h", m=m, k=k)
    merged = {r["bit"] for r in bits.unionByName(b2).distinct().collect()}
    union = {
        r["bit"]
        for r in sketches.bloom_bits(
            ins.unionByName(other), "h", m=m, k=k
        ).collect()
    }
    assert merged == union
