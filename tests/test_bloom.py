"""Bloom membership sketch (operators/bloom): the one-sided-error
contract (no false negatives), mergeability (bitmap OR = set union),
null handling, spec guards, and the scan-local probe plan shape."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdime_spark.operators.bloom import (
    LANE_BITS,
    bloom_definite_misses,
    build_bloom,
    probe_bloom,
)

M, K, SEED = 1 << 14, 5, "tseed"


def _ids(spark, lo, hi, col="k"):
    return spark.range(lo, hi).withColumnRenamed("id", col)


def test_no_false_negatives_and_misses_are_true_orphans(spark):
    build = _ids(spark, 0, 1000)
    bl = build_bloom(build, "k", M, K, SEED)
    probed = probe_bloom(_ids(spark, 0, 2000), bl, "k", M, K, SEED)
    # every build key must probe positive — the load-bearing guarantee
    assert probed.filter((F.col("k") < 1000) & ~F.col("bloom_member")).count() == 0
    # every definite miss must be a true non-member
    misses = bloom_definite_misses(_ids(spark, 0, 2000), bl, "k", M, K, SEED)
    assert misses.filter(F.col("k") < 1000).count() == 0
    assert misses.count() > 0  # screen actually screens at this m/n


def test_false_positregion_bounded_at_sized_m(spark):
    """~10 bits/key, k=5 → theoretical FPR ≈ 1%; allow 5x slack
    (the bound is probabilistic, the seed is fixed)."""
    bl = build_bloom(_ids(spark, 0, 1500), "k", M, K, SEED)
    probed = probe_bloom(_ids(spark, 100_000, 102_000), bl, "k", M, K, SEED)
    fp = probed.filter(F.col("bloom_member")).count()
    assert fp / 2000 < 0.05, f"false-positive rate {fp / 2000}"


def test_merge_is_set_union(spark):
    """bit_or of two sketches == sketch of the unioned keys, bitmap
    value-exact — the persist-then-roll-up path (B6 discipline)."""
    a = build_bloom(_ids(spark, 0, 400), "k", M, K, SEED)
    b = build_bloom(_ids(spark, 300, 800), "k", M, K, SEED)
    merged = (
        a.unionByName(b).groupBy("lane").agg(F.bit_or("bits").alias("bits"))
    )
    direct = build_bloom(_ids(spark, 0, 800), "k", M, K, SEED)
    assert merged.exceptAll(direct).count() == 0
    assert direct.exceptAll(merged).count() == 0


def test_null_keys_set_no_bits_and_probe_null(spark):
    build = spark.createDataFrame([(1,), (None,)], "k: long")
    bl = build_bloom(build, "k", M, K, SEED)
    only_one = build_bloom(spark.createDataFrame([(1,)], "k: long"), "k", M, K, SEED)
    assert bl.exceptAll(only_one).count() == 0
    probed = probe_bloom(build, bl, "k", M, K, SEED)
    row = probed.filter(F.col("k").isNull()).collect()[0]
    assert row["bloom_member"] is None


def test_spec_guards(spark):
    df = _ids(spark, 0, 10)
    with pytest.raises(ValueError, match="multiple"):
        build_bloom(df, "k", m_bits=100, k=3)
    with pytest.raises(ValueError, match="hash"):
        build_bloom(df, "k", m_bits=LANE_BITS * 4, k=0)


def test_determinism(spark):
    a = build_bloom(_ids(spark, 0, 500), "k", M, K, SEED).collect()
    b = build_bloom(_ids(spark, 0, 500).repartition(7), "k", M, K, SEED).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_probe_plan_is_scan_local(spark):
    """The probe side must not exchange: k broadcast hash joins on the
    lane id, zero hashpartitioning exchanges anywhere once the sketch
    is a materialized in-memory frame (as a persisted sketch would be
    after a parquet read)."""
    bl_rows = build_bloom(_ids(spark, 0, 1000), "k", M, 3, SEED).collect()
    bl = spark.createDataFrame(bl_rows, "lane: int, bits: long")
    probed = probe_bloom(_ids(spark, 0, 5000), bl, "k", M, 3, SEED)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_suite_referential_bloom_screen(spark):
    """referential_mode='bloom': injected orphan_raw ids (dropped from
    curated) and spurious curated rows must surface as DEFINITE
    violations under referential_bloom, the owning parts must FAIL,
    untouched parts must PASS, and the exact Referential constraint
    must NOT run (its verdict family absent)."""
    from bigdime_spark.plans.suite import ValidationSuite
    from bigdime_spark.schema import FAIL, PASS
    from bigdime_spark.sources.synth import InjectionSpec, build_fixture

    orphans = ("img-000000000005", "img-000000000009")
    fx = build_fixture(
        spark,
        n_rows=64 * 4,
        n_parts=4,
        spec=InjectionSpec(orphan_raw=orphans, spurious_curated=2),
    )
    suite = ValidationSuite(
        check_drift=False,
        check_caption=False,
        check_uniqueness=False,
        check_decode=False,
        referential_mode="bloom",
        referential_bloom_bits=1 << 17,
        referential_bloom_k=5,
    )
    res = suite.run(spark, fx.raw, fx.curated, manifest=None, resume=False)
    fams = {
        r["constraint"]
        for r in res.verdicts.select("constraint").distinct().collect()
    }
    assert "referential_bloom" in fams and "referential" not in fams
    got = {
        r["part"]: r["verdict"]
        for r in res.verdicts.filter(
            F.col("constraint") == "referential_bloom"
        ).collect()
    }
    # ids i live in part i % 4 → 5 → p0001, 9 → p0001; spurious extras
    # land in every part of the curated snapshot (ids xtr-…)
    assert got["p0001"] == FAIL
    viol = res.violations.filter(
        F.col("constraint") == "referential_bloom"
    ).collect()
    raw_side = {v["image_id"] for v in viol if v["snapshot"] == "raw"}
    assert raw_side == set(orphans)  # no false negatives: ALL orphans found
    cur_side = {v["image_id"] for v in viol if v["snapshot"] == "curated"}
    assert all(i.startswith("xtr-") for i in cur_side)
    # healthy parts with no definite misses PASS
    assert all(
        v == PASS for p, v in got.items() if p not in {r[0] for r in [("p0001",)]}
        and p not in {x["part"] for x in viol}
    )
    res.release()


def test_suite_bloom_fails_curated_only_part(spark):
    """A part only curated holds (every key in it spurious) gets a
    referential_bloom FAIL row, as the exact referential check gives
    it: the suite's grid join keeps found rows for parts raw lacks."""
    from bigdime_spark.plans.suite import ValidationSuite
    from bigdime_spark.schema import FAIL
    from bigdime_spark.sources.synth import build_fixture

    fx = build_fixture(spark, n_rows=64 * 4, n_parts=4)
    extra = (
        fx.curated.filter(F.col("part") == "p0000")
        .limit(3)
        .withColumn("image_id", F.concat(F.lit("cur-only-"), F.col("image_id")))
        .withColumn("part", F.lit("p0009"))
    )
    curated = fx.curated.unionByName(extra)
    got = {}
    for mode, name in (("bloom", "referential_bloom"), ("exact", "referential")):
        res = ValidationSuite(
            check_drift=False,
            check_caption=False,
            check_uniqueness=False,
            referential_mode=mode,
            referential_bloom_bits=1 << 17,
        ).run(spark, fx.raw, curated, manifest=None, resume=False)
        got[mode] = [
            (r["verdict"], r["observed"])
            for r in res.verdicts.filter(
                (F.col("part") == "p0009") & (F.col("constraint") == name)
            ).collect()
        ]
        res.release()
    assert got["exact"] == [(FAIL, "orphans=3")]
    assert got["bloom"] == [(FAIL, "definite_orphans=3")]
