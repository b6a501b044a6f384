"""Grouped metric bounds (C72, operators/grouped): per-(part, group)
profile arithmetic against hand tables, the four verdict classes, the
worst-group determinism, profile-scan sharing, and the suite/CLI
surface where a segment-concentrated failure a part-level check
dilutes must FAIL the part."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdime_spark.operators.base import SuiteContext
from bigdime_spark.operators.grouped import GroupedBound, grouped_metrics


@pytest.fixture(scope="module")
def hand(spark):
    # part pA: fmt x has 2/4 nulls (breach at hi=0.25), fmt y clean;
    # part pB: all groups clean; part pC: every group under support 3;
    # NULL group value is a real segment (all-null captions there)
    rows = [
        ("pA", "x", None), ("pA", "x", None), ("pA", "x", "c"), ("pA", "x", "c"),
        ("pA", "y", "c"), ("pA", "y", "c"), ("pA", "y", "c"),
        ("pB", "x", "c"), ("pB", "x", "c"), ("pB", "x", "c"),
        ("pC", "x", "c"), ("pC", "y", None),
        ("pA", None, None), ("pA", None, None), ("pA", None, None),
    ]
    return spark.createDataFrame(rows, "part string, fmt string, caption string")


def test_grouped_metrics_hand_table(spark, hand):
    prof = {
        (r["part"], r["group"]): r
        for r in grouped_metrics(hand, "caption", "fmt").collect()
    }
    assert prof[("pA", "x")]["n"] == 4 and prof[("pA", "x")]["n_null"] == 2
    assert prof[("pA", "x")]["null_rate"] == 0.5
    assert prof[("pA", "y")]["null_rate"] == 0.0
    assert prof[("pA", None)]["n"] == 3 and prof[("pA", None)]["null_rate"] == 1.0
    assert prof[("pC", "y")]["n"] == 1
    # mean of a non-numeric target is NULL, not an error
    assert prof[("pA", "x")]["mean"] is None
    assert prof[("pA", "x")]["n_distinct"] == 1


def _run(hand, **kw):
    ctx = SuiteContext(spark=hand.sparkSession, raw=hand)
    found, viol = GroupedBound("caption", "fmt", **kw).run(ctx)
    return {r["part"]: r for r in found.collect()}, viol.collect()


def test_verdict_classes_and_worst_group(spark, hand):
    got, viol = _run(hand, metric="null_rate", hi=0.25, min_support=3)
    # pA: x (0.5) and the NULL segment (1.0) breach; worst = NULL seg
    assert got["pA"]["verdict"] == "FAIL"
    assert got["pA"]["observed"] == "breaching=2/3, worst ∅: null_rate=1.0"
    assert got["pB"]["verdict"] == "PASS"
    assert got["pB"]["observed"] == "groups=1, breaching=0"
    # pC: every group under min_support → NOT_READY, not grid-fill PASS
    assert got["pC"]["verdict"] == "NOT_READY"
    # violations: one per breaching (part, group), part-level
    v = {(r["part"], r["detail"].split(":")[0]) for r in viol}
    assert v == {("pA", "fmt=x"), ("pA", "fmt=∅")}
    assert all(r["image_id"] is None and r["column"] == "caption" for r in viol)


def test_mean_metric_not_ready_on_non_numeric(spark, hand):
    got, _ = _run(hand, metric="mean", lo=0.0, min_support=1)
    # every group's mean is NULL (string target) → nothing scored
    assert {r["verdict"] for r in got.values()} == {"NOT_READY"}


def test_guards():
    with pytest.raises(ValueError, match="unsupported"):
        GroupedBound("c", "g", metric="median", hi=1.0)
    with pytest.raises(ValueError, match="lo, hi, or both"):
        GroupedBound("c", "g")
    with pytest.raises(ValueError, match="min_support"):
        GroupedBound("c", "g", hi=1.0, min_support=0)
    with pytest.raises(ValueError, match="hi .* < lo"):
        GroupedBound("c", "g", lo=2.0, hi=1.0)
    # NaN/inf bounds would make every breach comparison False — a gate
    # that can never page must be refused, not constructed
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="must be finite"):
            GroupedBound("c", "g", lo=bad)
        with pytest.raises(ValueError, match="must be finite"):
            GroupedBound("c", "g", hi=bad)


def test_profile_scan_shared_across_bounds(spark, hand):
    ctx = SuiteContext(spark=spark, raw=hand, extras={"persisted": []})
    b1 = GroupedBound("caption", "fmt", metric="null_rate", hi=0.25, min_support=3)
    b2 = GroupedBound("caption", "fmt", metric="n_distinct", lo=1.0, min_support=3)
    f1, _ = b1.run(ctx)
    f2, _ = b2.run(ctx)
    # one cached profile, persisted once for both bounds
    assert len(ctx.extras["grouped_bound_profiles"]) == 1
    assert len(ctx.extras["persisted"]) == 1
    assert f1.count() == 3 and f2.count() == 3
    for df in ctx.extras["persisted"]:
        df.unpersist()


def test_suite_and_cli_end_to_end(spark, tmp_path_factory, capsys):
    """Null EVERY pngz caption: the part-level null rate (~20%) could
    pass a 0.3 part bound, but the pngz segment is at 1.0 — the
    grouped gate fails every part and names pngz as the worst."""
    import json

    from bigdime_spark import cli
    from bigdime_spark.sources.synth import build_fixture

    fx = build_fixture(spark, n_rows=240, n_parts=4, seed=7)
    raw = fx.raw.withColumn(
        "caption",
        F.when(F.col("fmt") == "pngz", F.lit(None).cast("string")).otherwise(
            F.col("caption")
        ),
    )
    d = str(tmp_path_factory.mktemp("gbfx"))
    raw.write.mode("overwrite").partitionBy("part").parquet(f"{d}/raw")
    out = str(tmp_path_factory.mktemp("gbout"))
    rc = cli.main(
        ["run", "--raw", f"{d}/raw", "--out", out, "--run-id", "gb",
         "--grouped-bound", "caption:fmt:null_rate:~0.3"]
    )
    captured = capsys.readouterr()
    summary = json.loads(
        [ln for ln in captured.out.strip().splitlines() if ln.startswith("{")][-1]
    )
    # the default not_null(caption) also fails those rows — what the
    # grouped gate must add is the named-segment verdict
    assert rc == 1 and summary["parts_failed"] == 4
    verd = spark.read.parquet(f"{out}/verdicts")
    gb = verd.filter(
        F.col("constraint") == "grouped_null_rate.caption@fmt"
    ).collect()
    assert len(gb) == 4 and all(r["verdict"] == "FAIL" for r in gb)
    assert all("pngz" in r["observed"] for r in gb)

    # malformed spec → operator-error contract
    rc2 = cli.main(
        ["run", "--raw", f"{d}/raw", "--out", out, "--grouped-bound", "caption:fmt"]
    )
    err = capsys.readouterr().err
    assert rc2 == 2 and "grouped-bound" in err

    # typo'd column → clean exit 2 BEFORE the run starts, not an
    # AnalysisException traceback mid-suite
    rc3 = cli.main(
        ["run", "--raw", f"{d}/raw", "--out", out,
         "--grouped-bound", "captoin:fmt:null_rate:~0.3"]
    )
    err = capsys.readouterr().err
    assert rc3 == 2 and "captoin" in err and "Traceback" not in err
    # ...and its --config form gets the same contract
    cfg = tmp_path_factory.mktemp("gbcfg") / "suite.json"
    cfg.write_text(json.dumps({"grouped_bounds": [
        {"target": "captoin", "group_by": "fmt", "hi": 0.3}
    ]}))
    rc4 = cli.main(
        ["run", "--raw", f"{d}/raw", "--out", str(tmp_path_factory.mktemp("o4")),
         "--config", str(cfg)]
    )
    err = capsys.readouterr().err
    assert rc4 == 2 and "captoin" in err and "Traceback" not in err

    # the run also stamped the C73 grouped history surface
    grouped = spark.read.parquet(f"{out}/grouped")
    assert "run_id" in grouped.columns
    by_part = {r["part"]: r for r in grouped.collect()}
    assert any(p.endswith("|fmt=pngz") for p in by_part)
    pngz = by_part["p0000|fmt=pngz"]
    assert pngz["stat__caption__null_rate"] == 1.0
    assert by_part["p0000|fmt=raw"]["stat__caption__null_rate"] == 0.0


def test_grouped_history_feeds_trend(spark, tmp_path_factory, capsys):
    """C73 end-to-end composition: two runs' <out>/grouped frames
    union into the `trend` history shape, and a segment null-rate
    jump (clean run → pngz nulled run) is an ANOMALY on exactly the
    pngz-composed parts — cross-RUN segment drift with no new scoring
    code and zero rescans."""
    import json
    import shutil

    from bigdime_spark import cli
    from bigdime_spark.sources.synth import build_fixture

    base = tmp_path_factory.mktemp("gtrend")
    fx = build_fixture(spark, n_rows=160, n_parts=2, seed=3)
    fx.raw.write.partitionBy("part").parquet(f"{base}/raw1")
    fx.raw.withColumn(
        "caption",
        F.when(F.col("fmt") == "pngz", F.lit(None).cast("string")).otherwise(
            F.col("caption")
        ),
    ).write.partitionBy("part").parquet(f"{base}/raw2")

    hist = base / "hist"
    hist.mkdir()
    for rid, raw in (("r1", "raw1"), ("r2", "raw2")):
        # bound loose enough that both runs PASS the grouped gate —
        # the point is the cross-run surface, not the per-run verdict
        rc = cli.main(
            ["run", "--raw", f"{base}/{raw}", "--out", f"{base}/out_{rid}",
             "--run-id", rid, "--grouped-bound", "caption:fmt:null_rate:~1"]
        )
        capsys.readouterr()
        for f in (base / f"out_{rid}" / "grouped").glob("*.parquet"):
            shutil.copy(f, hist / f"{rid}_{f.name}")

    rc = cli.main(
        ["trend", "--history", str(hist),
         "--metrics", "stat__caption__null_rate"]
    )
    out = capsys.readouterr().out
    summary = json.loads(
        [ln for ln in out.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert rc == 1  # the segment jump pages
    assert summary["verdicts"].get("ANOMALY") == 2  # both parts' pngz segment
    assert summary["worst"] and all(
        "|fmt=pngz" in w["part"] for w in summary["worst"]
    )
