"""Payload structural conformance (operators/payload): the JVM-side
format rules match sources/synth's codec contract exactly on clean
payloads, every corruption class is caught with the right reason,
NULLs stay NotNull's business, and the suite fuses the check into the
checksum's full-payload scan (no second aggregation join) while the
bytes-free stats pass stays bytes-free.
"""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import functions as F

from bigdime_spark.operators.payload import (
    PayloadConformance,
    payload_conformance_profile,
    payload_mismatch_col,
)
from bigdime_spark.plans.suite import StatsProfile, ValidationSuite
from bigdime_spark.schema import FAIL, PASS
from bigdime_spark.sources.synth import build_fixture, encode, make_pixels

SCHEMA = "part string, image_id string, bytes binary, w int, h int, fmt string"


def _fused_plans(executions) -> list[str]:
    """Physical plans of the executions that computed a suite's fused
    ``groupBy(part)`` rows: the only ones that alias ``stat__rows``
    (every later plan reads the collected rows)."""
    plans = [e.physicalPlanDescription() for e in executions]
    return [p for p in plans if " AS stat__rows#" in p]


def _px(w: int = 4, h: int = 3) -> np.ndarray:
    return make_pixels(7, "img-x", w, h)


def _rows():
    w, h = 4, 3
    px = _px(w, h)
    raw = encode(px, "raw")
    ppm = encode(px, "ppm")
    png = encode(px, "pngz")
    rq = encode(px, "rawq4")
    return [
        # clean payloads, one per codec
        ("p0", "ok-raw", raw, w, h, "raw"),
        ("p0", "ok-ppm", ppm, w, h, "ppm"),
        ("p0", "ok-pngz", png, w, h, "pngz"),
        ("p0", "ok-rawq", rq, w, h, "rawq4"),
        # corruption classes
        ("p1", "trunc-raw", raw[:-1], w, h, "raw"),
        ("p1", "padded-raw", raw + b"\x00", w, h, "raw"),
        ("p1", "wrong-dims", raw, w, h + 1, "raw"),
        ("p1", "ppm-magic", b"P5" + ppm[2:], w, h, "ppm"),
        ("p1", "ppm-dims", ppm, w + 1, h, "ppm"),
        ("p1", "pngz-magic", b"\x1f\x8b" + png[2:], w, h, "pngz"),
        ("p1", "bogus-fmt", raw, w, h, "bogus"),
        # NULLs: not conformance's business
        ("p2", "null-bytes", None, w, h, "raw"),
        ("p2", "null-w", raw, None, h, "raw"),
        ("p2", "null-fmt", raw, w, h, None),
    ]


def test_mismatch_reasons_exact(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = {
        r["image_id"]: r["reason"]
        for r in df.select(
            "image_id", payload_mismatch_col().alias("reason")
        ).collect()
    }
    assert got["ok-raw"] is None
    assert got["ok-ppm"] is None
    assert got["ok-pngz"] is None
    assert got["ok-rawq"] is None
    assert got["trunc-raw"] == "payload length mismatch"
    assert got["padded-raw"] == "payload length mismatch"
    assert got["wrong-dims"] == "payload length mismatch"
    assert got["ppm-magic"] == "bad ppm header or length"
    assert got["ppm-dims"] == "bad ppm header or length"
    assert got["pngz-magic"] == "bad zlib magic"
    assert got["bogus-fmt"] == "unknown fmt"
    assert got["null-bytes"] is None
    assert got["null-w"] is None
    assert got["null-fmt"] is None


def test_corrupt_dimensions_do_not_overflow(spark):
    """Corrupted w/h big enough to overflow w*h*3 in int (or even in
    long) must FAIL the row as a length mismatch, never crash the ANSI
    run with ARITHMETIC_OVERFLOW — these are exactly the rows the
    validator exists to flag."""
    raw = encode(_px(), "raw")
    rows = [
        ("p", "int-ovf", raw, 60000, 60000, "raw"),            # w*h*3 > int32
        ("p", "long-ovf", raw, 2**31 - 1, 2**31 - 1, "raw"),   # > int64 too
        ("p", "neg-dims", raw, -4, 3, "raw"),                  # negative w
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r["image_id"]: r["reason"]
        for r in df.select(
            "image_id", payload_mismatch_col().alias("reason")
        ).collect()
    }
    assert got == {
        "int-ovf": "payload length mismatch",
        "long-ovf": "payload length mismatch",
        "neg-dims": "payload length mismatch",
    }


def test_clean_payload_spec_dropped_from_dirty_rescan(spark):
    """A not_null violation makes the suite rescan raw for row-level
    details — but the CLEAN payload-conformance spec must be dropped
    from that rescan (its fused counter is zero), so the rescan never
    touches payload pages for it. Behavioral check: the violations
    output carries exactly the not_null row and zero payload rows."""
    w, h = 4, 3
    raw = encode(_px(w, h), "raw")
    rows = [
        ("p", "ok", raw, w, h, "raw"),
        ("p", None, raw, w, h, "raw"),  # not_null violation on image_id
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    suite = ValidationSuite(
        declared_schema=df.schema,
        not_null=("image_id",),
        check_record_count=False,
        check_checksum=False,
        check_uniqueness=False,
        check_referential=False,
        check_caption=False,
        check_drift=False,
        check_domains=False,
        stats=StatsProfile(columns=[]),
        check_payload_conformance=True,
    )
    res = suite.run(spark, df, run_id="pc-gate")
    by_c = {
        r["constraint"]: r["detail"] for r in res.violations.collect()
    }
    assert set(by_c) == {"not_null.image_id"}
    res.release()


def test_zlib_second_byte_levels(spark):
    """All four standard zlib FLEVEL bytes conform — compression level
    must not affect the verdict."""
    px = _px()
    rows = [
        ("p", f"lvl{lvl}", zlib.compress(px.tobytes(), lvl), 4, 3, "pngz")
        for lvl in (1, 6, 9)
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    bad = df.filter(payload_mismatch_col().isNotNull()).count()
    assert bad == 0


def test_profile_breakdown(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    got = {
        (r["part"], r["reason"]): r["n_rows"]
        for r in payload_conformance_profile(df).collect()
    }
    assert got[("p0", None)] == 4
    assert got[("p1", "payload length mismatch")] == 3
    assert got[("p1", "bad ppm header or length")] == 2
    assert got[("p1", "bad zlib magic")] == 1
    assert got[("p1", "unknown fmt")] == 1
    assert got[("p2", None)] == 3


def _suite(**kw) -> ValidationSuite:
    return ValidationSuite(
        not_null=(),
        check_record_count=False,
        check_uniqueness=False,
        check_referential=False,
        check_caption=False,
        check_drift=False,
        check_domains=False,
        stats=StatsProfile(columns=[]),
        check_payload_conformance=True,
        **kw,
    )


def test_suite_verdicts_and_violations(spark):
    df = spark.createDataFrame(_rows(), SCHEMA)
    suite = _suite(check_checksum=False)
    res = suite.run(spark, df, run_id="pc")
    v = {
        r["part"]: r["verdict"]
        for r in res.verdicts.filter(
            F.col("constraint") == "payload_conformance"
        ).collect()
    }
    assert v == {"p0": PASS, "p1": FAIL, "p2": PASS}
    viol = res.violations.filter(
        F.col("constraint") == "payload_conformance"
    ).collect()
    assert sorted(r["image_id"] for r in viol) == sorted(
        [
            "trunc-raw",
            "padded-raw",
            "wrong-dims",
            "ppm-magic",
            "ppm-dims",
            "pngz-magic",
            "bogus-fmt",
        ]
    )
    details = {r["image_id"]: r["detail"] for r in viol}
    assert details["pngz-magic"] == "bad zlib magic"
    res.release()


def test_fuses_into_checksum_scan(spark, sql_executions):
    """With a (non-riding) checksum present, conformance must ride the
    SAME full-payload aggregation — the stats plan gets no extra join
    for it. Without a checksum it joins its own payload agg instead."""
    fx = build_fixture(spark, n_rows=64, n_parts=2)
    with_cs, ran = sql_executions(
        lambda: _suite().run(spark, fx.raw, manifest=fx.manifest, run_id="pc-cs")
    )
    fused = _fused_plans(ran)
    assert len(fused) == 1, [e.description() for e in ran]
    plan = fused[0]
    # pc__bad computed in the same aggregate as the checksum fold: the
    # fused stats frame plans exactly zero joins beyond the broadcast
    # manifest join
    assert plan.count("SortMergeJoin") == 0
    assert "pc__bad" in plan
    (r,) = with_cs.verdicts.filter(
        (F.col("constraint") == "payload_conformance") & (F.col("part") == "p0000")
    ).collect()
    assert r["verdict"] == PASS
    with_cs.release()

    no_cs, ran = sql_executions(
        lambda: _suite(check_checksum=False).run(spark, fx.raw, run_id="pc-nocs")
    )
    fused = _fused_plans(ran)
    assert len(fused) == 1, [e.description() for e in ran]
    plan2 = fused[0]
    assert "pc__bad" in plan2
    no_cs.release()


def test_conformance_clean_on_real_fixture(spark):
    """Every synth-encoded payload in a pristine fixture conforms —
    the JVM rules and the Python codec contract agree exactly."""
    fx = build_fixture(spark, n_rows=128, n_parts=4)
    bad = fx.raw.filter(payload_mismatch_col().isNotNull()).count()
    assert bad == 0
