"""Dup-storm scale safety (round-2 verdict item 1, round-3 review
hardening): a single key duplicated 10^5 times — the exact pathology
a uniqueness validator exists to survive — flows through the keyed
pass with BOUNDED aggregation state (level-1 (key, part) counters
only; level-2 one struct per distinct involved partition) while every
verdict, per-part dup count, and FAIL attribution stays EXACT."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdime_spark.operators.base import SuiteContext
from bigdime_spark.operators.keyed import KeyedSnapshotPass

STORM_COPIES = 100_000
N_PARTS = 4


def _storm_frame(spark, n_parts: int = N_PARTS, cap_prefix: str = "cap-"):
    """(image_id, part, caption): one hot key with 10^5 copies spread
    over n_parts partitions + 50 healthy unique keys."""
    storm = spark.range(STORM_COPIES).select(
        F.lit("hot-key").alias("image_id"),
        F.concat(F.lit("p"), (F.col("id") % n_parts).cast("string")).alias("part"),
        F.concat(F.lit(cap_prefix), (F.col("id") % 3).cast("string")).alias("caption"),
    )
    healthy = spark.range(50).select(
        F.concat(F.lit("ok-"), F.col("id").cast("string")).alias("image_id"),
        F.lit("p0").alias("part"),
        F.lit("healthy").alias("caption"),
    )
    return storm.unionByName(healthy)


def test_keyed_pass_survives_dup_storm_with_bounded_state(spark):
    raw = _storm_frame(spark)
    # curated captions differ for the hot key → caption mismatch must
    # be detected exactly from the min/max aggregates
    cur = _storm_frame(spark, cap_prefix="CUR-")
    ctx = SuiteContext(spark=spark, raw=raw, curated=cur, manifest=None, parts=None)
    keyed = KeyedSnapshotPass(max_parts=100)

    j = keyed._joined(ctx)
    hot = j.filter(F.col("image_id") == "hot-key").select(
        "n_r", "n_c", F.size("copies_r").alias("sr"), F.size("copies_c").alias("sc")
    ).collect()[0]
    # counts EXACT; arrays hold one struct per DISTINCT part, never
    # one per copy (100k copies → 4 structs)
    assert hot["n_r"] == STORM_COPIES
    assert hot["n_c"] == STORM_COPIES
    assert hot["sr"] == N_PARTS
    assert hot["sc"] == N_PARTS

    results = dict((name, (v, viol)) for name, v, viol in keyed.run(ctx))

    verdicts, violations = results["uniqueness.image_id"]
    vrows = {r["part"]: r for r in verdicts.collect()}
    # EVERY involved partition FAILs, with exact per-part copy counts
    assert set(vrows) == {"p0", "p1", "p2", "p3"}
    for r in vrows.values():
        assert r["verdict"] == "FAIL"
        assert r["observed"] == "dup_copies=25000"  # exact: 100k / 4 parts
    # violation detail: one row per (key, part) with the exact count
    hot_viol = violations.filter(F.col("image_id") == "hot-key").collect()
    assert len(hot_viol) == N_PARTS
    assert all(f"({STORM_COPIES} copies)" in r["detail"] for r in hot_viol)

    # caption mismatch detected exactly (per raw part) from aggregates
    cap_verdicts, cap_viol = results["caption_equality"]
    cv = {r["part"]: r["verdict"] for r in cap_verdicts.collect()}
    assert cv == {f"p{i}": "FAIL" for i in range(N_PARTS)}
    # bounded: one violation row per (key, raw part), not m×n pairs
    assert cap_viol.filter(F.col("image_id") == "hot-key").count() == N_PARTS

    for df in ctx.extras.get("persisted", []):
        df.unpersist()


def test_keyed_pass_single_exchange_per_side(spark):
    """The two-level agg must reuse ONE repartition(key) exchange per
    side: level-1 (key,part) agg, level-2 (key) agg, and the
    full-outer join all cluster on hash(key)."""
    raw = _storm_frame(spark)
    cur = _storm_frame(spark)
    ctx = SuiteContext(spark=spark, raw=raw, curated=cur, manifest=None, parts=None)
    j = KeyedSnapshotPass()._joined(ctx)
    plan = j._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        j._jdf.queryExecution(), "formatted"
    )
    import re

    # range→union sides contribute no exchange; exactly the two
    # repartition(key) exchanges may appear (formatted explain lists
    # operators as "(N) Exchange")
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 2, f"expected 2 key exchanges, plan has {n_exchanges}:\n{plan}"


def test_standalone_uniqueness_bounded_and_exact(spark):
    raw = _storm_frame(spark)
    ctx = SuiteContext(spark=spark, raw=raw, curated=None, manifest=None, parts=None)
    ((_, verdicts, violations),) = KeyedSnapshotPass(
        max_parts=100, check_referential=False, check_caption=False
    ).run(ctx)
    hot_viol = violations.filter(F.col("image_id") == "hot-key").collect()
    assert len(hot_viol) == N_PARTS  # one per involved part, not per copy
    assert all(f"({STORM_COPIES} copies)" in r["detail"] for r in hot_viol)
    vmap = {r["part"]: (r["verdict"], r["observed"]) for r in verdicts.collect()}
    assert all(vmap[f"p{i}"] == ("FAIL", "dup_copies=25000") for i in range(N_PARTS))
    for df in ctx.extras["persisted"]:
        df.unpersist()


def test_keyed_pass_all_checks_off_raises(spark):
    """Constructing the pass with every check disabled is a caller bug
    (the suite builds a pass only for a key with a check on) — it must
    be a loud ValueError, not an IndexError in _rare."""
    import pytest as _pytest

    raw = _storm_frame(spark)
    ctx = SuiteContext(spark=spark, raw=raw, curated=None, manifest=None, parts=None)
    keyed = KeyedSnapshotPass(
        check_uniqueness=False, check_referential=False, check_caption=False
    )
    with _pytest.raises(ValueError, match="all checks disabled"):
        keyed.run(ctx)


def test_content_diff_flags_changed_rows_only(spark):
    """check_content: curated rows with edited metadata (w+1 on two
    ids) FAIL content_equality with per-part attribution; caption
    equality stays green (the digest excludes caption by default
    config here); an untouched pair passes."""
    from bigdime_spark.operators.base import SuiteContext
    from bigdime_spark.operators.keyed import KeyedSnapshotPass
    from bigdime_spark.sources.synth import build_fixture

    fx = build_fixture(spark, n_rows=64 * 4, n_parts=4)
    edited = ("img-000000000006", "img-000000000011")
    cur = fx.curated.withColumn(
        "w",
        F.when(F.col("image_id").isin(list(edited)), F.col("w") + 1).otherwise(
            F.col("w")
        ),
    )
    kp = KeyedSnapshotPass(
        check_uniqueness=False,
        check_referential=False,
        check_caption=True,
        check_content=True,
    )
    ctx = SuiteContext(spark=spark, raw=fx.raw, curated=cur)
    results = {name: (v, viol) for name, v, viol in kp.run(ctx)}
    viol = results["content_equality"][1].collect()
    assert {v["image_id"] for v in viol} == set(edited)
    # ids 6, 11 live in parts 6%4=p0002, 11%4=p0003
    assert {v["part"] for v in viol} == {"p0002", "p0003"}
    failed = {r["part"] for r in results["content_equality"][0].collect()}
    assert failed == {"p0002", "p0003"}
    assert results["caption_equality"][1].count() == 0

    # untouched pair → no content mismatches
    ctx2 = SuiteContext(spark=spark, raw=fx.raw, curated=fx.curated)
    results2 = {name: (v, viol) for name, v, viol in kp.run(ctx2)}
    assert results2["content_equality"][1].count() == 0


def test_suite_differing_keys_match_single_key_pass(spark):
    """unique_key ≠ ref_key (``suggest`` promotes "caption" on synth
    tables) runs one keyed pass per key: uniqueness under caption, and
    referential / caption / content under image_id with exactly the
    verdicts and violations of the equal-key run — a two-copy orphan
    key included, which gives one violation per (key, part) entry."""
    from bigdime_spark.plans.suite import ValidationSuite
    from bigdime_spark.sources.synth import InjectionSpec, build_fixture

    orphan = "img-000000000005"  # p0001
    fx = build_fixture(
        spark,
        n_rows=64 * 4,
        n_parts=4,
        spec=InjectionSpec(
            dup_image_id=((orphan, "p0001"),),  # its second copy, same part
            orphan_raw=(orphan, "img-000000000010"),
            spurious_curated=2,
            caption_edit=("img-000000000007",),
        ),
    )

    def run(unique_key):
        res = ValidationSuite(
            unique_key=unique_key, check_content=True, check_drift=False
        ).run(spark, fx.raw, fx.curated, resume=False)
        verdicts = {
            (r["part"], r["constraint"]): (r["verdict"], r["observed"])
            for r in res.verdicts.collect()
        }
        violations = sorted(
            (r["constraint"], r["part"], r["image_id"], r["detail"], r["snapshot"])
            for r in res.violations.collect()
        )
        res.release()
        return verdicts, violations

    by_caption, viol_caption = run("caption")
    by_id, viol_id = run("image_id")

    uniq = {p: v for (p, c), v in by_caption.items() if c == "uniqueness.caption"}
    assert uniq == {
        "p0000": ("PASS", None),
        "p0001": ("FAIL", "dup_copies=2"),
        "p0002": ("PASS", None),
        "p0003": ("PASS", None),
    }
    cross = ("referential", "caption_equality", "content_equality")
    assert {k: v for k, v in by_caption.items() if k[1] in cross} == {
        k: v for k, v in by_id.items() if k[1] in cross
    }
    assert [v for v in viol_caption if v[0] in cross] == [
        v for v in viol_id if v[0] in cross
    ]
    assert by_id[("p0001", "referential")] == ("FAIL", "orphans=3")
    assert [v[1] for v in viol_id if v[0] == "referential" and v[2] == orphan] == [
        "p0001"
    ]
    assert by_id[("p0003", "caption_equality")] == ("FAIL", "mismatches=1")
