"""ValidationSuite — the engine's driver (SURVEY §3.2, reference A7).

Replaces the reference's per-unit imperative ``ValidationHandler``
loop with a handful of declarative Spark plans:

  pass 1  schema validators             driver-side StructType diff, no job
  pass 2  resume filter                 IN-filter on `part` → partition pruning
  pass 3a DECODE (+ riding CHECKSUM)    mapInArrow — the only Python boundary;
          when checksum and decode both cover raw, the per-row xxhash64
          rides this scan so raw's payload pages are read ONCE per run
  pass 3  STATS+CONSTRAINTS             ONE groupBy(part).agg(<everything>)
          (bytes-free projection → parquet never reads image pages)
  pass 3b CHECKSUM (decode off)         groupBy(part).agg(xor/sum of xxhash64)
          shares the stats scan (the only full-content scan then)
  pass 4  cross-table constraints       uniqueness / referential / caption / drift
  pass 6  verdicts + violations + lineage append

Verdict enum preserved from the reference's ValidationResult:
PASS / FAIL / SKIPPED_CONFIG (≈ INCOMPLETE_SETUP) / NOT_READY.
"""

from __future__ import annotations

import os
import sys
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from bigdime_spark.operators.base import (
    AggConstraint,
    SuiteContext,
    TableConstraint,
    local_frame,
)
from bigdime_spark.operators.bitbalance import BitBalance
from bigdime_spark.operators.caption import CaptionEquality
from bigdime_spark.operators.checksum import Checksum
from bigdime_spark.operators.decode import DecodeIntegrity
from bigdime_spark.operators.drift import DEFAULT_DRIFT_COLUMNS, DriftCheck
from bigdime_spark.operators.keyed import KeyedSnapshotPass
from bigdime_spark.operators.record_count import RecordCount
from bigdime_spark.operators.referential import Referential
from bigdime_spark.operators.row_checks import NotNull, default_image_domain_checks
from bigdime_spark.operators.stats import StatsProfile, default_image_stats
from bigdime_spark.operators.uniqueness import Uniqueness
from bigdime_spark.plans import lineage as lin
from bigdime_spark.schema import (
    FAIL,
    IMAGE_SCHEMA_PARTITIONED,
    PASS,
    VIOLATION_SCHEMA,
    diff_schema,
)


def _profiler(t0: float):
    """BIGDIME_PROFILE=1 → per-phase wall marks on stderr."""
    if not os.environ.get("BIGDIME_PROFILE"):
        return lambda label: None
    last = [t0]

    def mark(label: str) -> None:
        now = time.monotonic()
        print(
            f"[suite-profile] {label}: +{now - last[0]:.1f}s (t={now - t0:.1f}s)",
            file=sys.stderr,
            flush=True,
        )
        last[0] = now

    return mark


@dataclass
class SuiteResult:
    run_id: str
    verdicts: DataFrame
    violations: DataFrame
    stats: DataFrame
    lineage: DataFrame
    schema_violations: list
    wall_ms: int = 0
    #: every frame the run persisted (fused agg, keyed rare rows,
    #: decode failures, verdicts, violations) — release() drops them
    #: so a subsequent run recomputes instead of silently reusing
    #: plan-matched caches.
    persisted: list = field(default_factory=list)
    #: (target, group_by) → the per-(part, group) metric profile each
    #: GroupedBound computed (C72) — already persisted (released with
    #: the run), so the CLI can stamp it into the cross-run grouped
    #: history surface (C73) at zero extra scans.
    grouped_profiles: dict = field(default_factory=dict)

    def release(self) -> None:
        for df in self.persisted:
            try:
                df.unpersist()
            except Exception:
                pass


@dataclass
class ValidationSuite:
    """Configure once, run per snapshot-pair (reference A7/A8: the
    validator registry; here constraints are composable objects)."""

    declared_schema: object | None = None
    not_null: tuple[str, ...] = ("image_id",)
    check_record_count: bool = True
    check_checksum: bool = True
    check_uniqueness: bool = True
    check_referential: bool = True
    #: "exact" = keyed-pass full join (adjudicating); "bloom" = the
    #: operators/bloom.BloomReferential SCREEN — zero join shuffles,
    #: definite-orphan lower bounds only (FAILs are always real, a
    #: PASS means no provable orphan at the sketch's FPR). The 10^12-
    #: row nightly posture: screen every run, adjudicate flagged parts
    #: with the exact mode.
    referential_mode: str = "exact"
    referential_bloom_bits: int = 1 << 23
    referential_bloom_k: int = 5
    check_caption: bool = True
    #: full-row CONTENT diff across snapshots: an xxhash64 digest of
    #: content_cols rides the keyed pass's existing exchange (zero
    #: extra shuffles) and FAILs parts whose rows changed between raw
    #: and curated beyond the caption (operators/keyed._content).
    #: Payload bytes deliberately excluded (checksum owns them).
    check_content: bool = False
    content_cols: tuple = ("w", "h", "fmt", "phash")
    check_drift: bool = True
    check_domains: bool = True
    #: optional near-duplicate IMAGE detection: pigeonhole band join on
    #: the int64 phash column at hamming ≤ phash_k (operators/dedup.py
    #: PhashNearDup) — off by default, like the reference's optional
    #: validators
    check_phash_dedup: bool = False
    phash_k: int = 2
    #: optional per-part anomaly scoring (operators/outliers.
    #: ProfileOutliers): robust median/MAD z over the fused stats frame
    #: — zero extra scans; off by default like the reference's optional
    #: validators. outlier_metrics=None auto-selects every numeric
    #: scalar stat__ column.
    check_profile_outliers: bool = False
    outlier_metrics: tuple[str, ...] | None = None
    outlier_threshold: float = 3.5
    #: optional data-layout gate (operators/layout.ZoneClustering):
    #: zone-map clustering depth per column from the fused stats'
    #: stat__<col>__min/max ranges — zero extra scans; parts whose
    #: range overlaps more than zone_max_overlap of all parts' FAIL.
    #: Off when empty, like the other optional validators.
    zone_clustering_cols: tuple[str, ...] = ()
    zone_max_overlap: float = 0.5
    #: optional phash degeneracy detector (operators/bitbalance.
    #: BitBalance): per-bit set fractions of the int64 hash column,
    #: FAIL on stuck bits — rides the fused stats aggregation (zero
    #: extra scans); off by default like the other optional validators
    check_bit_balance: bool = False
    bit_balance_col: str = "phash"
    bit_balance_bounds: tuple[float, float] = (0.02, 0.98)
    #: payload STRUCTURAL conformance (operators/payload.
    #: PayloadConformance): declared fmt vs byte length / container
    #: magic, pure JVM expressions — the cheap precursor to the decode
    #: pass for decode-off runs. Fuses into the checksum's
    #: full-payload scan when one runs (zero extra scans); with the
    #: checksum riding the decode scan (or absent) it pays its own
    #: column-pruned payload scan — and a suite running DecodeIntegrity
    #: gets strictly stronger checks from decode anyway, so the
    #: intended pairing is conformance ON when decode is OFF.
    check_payload_conformance: bool = False
    check_decode: bool = False
    decode_seed: int | None = None
    #: deterministic decode sampling (operators/decode.DecodeIntegrity
    #: sample_rate): decode a hash-selected fraction of images — the
    #: 10^12-row posture for the one Python-side pass. Below 1.0 the
    #: checksum can NOT ride the decode scan (it must hash every row),
    #: so it falls back to fusing with the stats scan; record-count and
    #: checksum still cover every row, decode covers the sample.
    decode_sample_rate: float = 1.0
    #: which snapshots the decode pass validates. The reference's DVS
    #: validates the LANDED copy — decoding only raw would miss
    #: curated-side payload corruption, so both run by default when a
    #: curated snapshot is supplied.
    decode_snapshots: tuple[str, ...] = ("raw", "curated")
    #: image-SPACE drift riding the decode pass (operators/decode.
    #: pixel_drift): pooled channel-value histograms of the DECODED
    #: pixels per (snapshot, part), scored raw-vs-curated through
    #: drift_from_stats — verdict families drift_ks.pixels /
    #: drift_psi.pixels. Catches a curated re-encode that shifts the
    #: pixel distribution and re-stamps phash (decode integrity,
    #: checksum and caption equality all pass). Requires check_decode
    #: and a curated snapshot; adds zero scans (the fold rides the
    #: decode Arrow stage).
    decode_pixel_drift: bool = False
    decode_pixel_bins: int = 32
    #: image-quality curation gate riding the decode pass (C49): flag
    #: decodable-but-degenerate images — flat (pixel std below
    #: quality_min_std), dark/bright (pixel mean outside
    #: [quality_mean_lo, quality_mean_hi]) — as image_quality[.snap]
    #: verdicts + per-image violations; a part FAILs when its flagged
    #: count exceeds decode_quality_max_flagged. All None = gate off.
    decode_quality_min_std: float | None = None
    decode_quality_mean_lo: float | None = None
    decode_quality_mean_hi: float | None = None
    decode_quality_max_flagged: int = 0
    #: statistical certification of the SAMPLED decode (C71,
    #: operators/infer): (max_rate, z) → per-part `decode_rate`
    #: verdicts from the Wilson interval on (k bad, n sampled) — PASS
    #: certifies the population bad-decode rate ≤ max_rate at the z
    #: confidence, FAIL certifies it above, NOT_READY = sample too
    #: small to say. None = gate off.
    decode_rate_gate: tuple[float, float] | None = None
    #: STRATIFIED decode sampling (C77): per-(part, <col>) thresholds
    #: boosted so every stratum gets ~decode_sample_min_n sampled rows
    #: — rare formats keep coverage under a sampled decode; with
    #: decode_rate_gate, certification is per stratum.
    decode_sample_stratify: str | None = None
    decode_sample_min_n: int = 0
    unique_key: str = "image_id"
    ref_key: str = "image_id"
    #: True when raw/curated are BUCKETED tables on the keyed-pass key
    #: (bucketBy at write time, matching bucket counts): the keyed
    #: uniqueness/referential/caption pass then skips its
    #: repartition(key) and runs with ZERO shuffle exchanges
    #: (operators/keyed.KeyedSnapshotPass.assume_clustered)
    keyed_assume_clustered: bool = False
    drift_specs: tuple = DEFAULT_DRIFT_COLUMNS
    #: categorical columns to drift-test with exact value counts
    #: (operators/drift.CategoricalDriftCheck, verdict family
    #: drift_cat.<col>) — empty by default; ("fmt",) is the natural
    #: image-table choice
    categorical_drift_cols: tuple = ()
    #: high-cardinality id/code columns to drift-test over format
    #: MASKS (operators/drift.mask_drift, verdict family
    #: drift_mask.<col>) — every value unique on both sides is
    #: invisible to drift_cat; a scheme switch moves the mask
    #: population massively
    mask_drift_cols: tuple = ()
    stats: StatsProfile | None = None
    topk_violations: int | None = None
    extra_agg_constraints: list = field(default_factory=list)
    extra_table_constraints: list = field(default_factory=list)

    # ------------------------------------------------------------ rules

    def check_config(self, raw_columns: list[str] | None = None) -> None:
        """The suite's cross-field rules, in one place: ValueError on
        a combination that would validate less than it claims.
        ``suite_from_config`` calls it on every built suite; ``run``
        calls it first, with ``raw_columns``, which adds the checks of
        the columns the suite names against the raw schema. Messages
        name the field and its `run` flag."""
        if not 0.0 < self.decode_sample_rate <= 1.0:
            raise ValueError(
                "decode_sample_rate (--decode-sample) must be in (0, 1], "
                f"got {self.decode_sample_rate}"
            )
        if self.decode_pixel_bins <= 0 or 256 % self.decode_pixel_bins:
            raise ValueError(
                "decode_pixel_bins must be a positive divisor of 256, "
                f"got {self.decode_pixel_bins}"
            )
        quality = (self.decode_quality_min_std, self.decode_quality_mean_lo,
                   self.decode_quality_mean_hi)
        rides = (  # (field, its flag, set?) — each rides the decode pass
            ("decode_pixel_drift", "--pixel-drift", self.decode_pixel_drift),
            ("decode_quality_* thresholds",
             "--quality-min-std/--quality-mean-range",
             any(v is not None for v in quality)),
            ("decode_rate_gate", "--decode-max-bad-rate",
             self.decode_rate_gate is not None),
            ("decode_sample_rate < 1", "--decode-sample",
             self.decode_sample_rate < 1.0),
            ("decode_sample_stratify", "--decode-sample-by",
             self.decode_sample_stratify is not None),
            ("decode_sample_min_n", "--decode-sample-min",
             self.decode_sample_min_n != 0),
        )
        for name, flag, on in rides:
            # silently ignoring one would let an operator believe a
            # decode-side gate ran when zero images were decoded
            if on and not self.check_decode:
                raise ValueError(
                    f"{name} requires check_decode=True ({flag} requires "
                    "--decode): it rides the decode pass"
                )
        if raw_columns is None:
            return
        from bigdime_spark.operators.grouped import GroupedBound

        named = [
            ("grouped_bounds (--grouped-bound)", (tc.target, tc.group_by))
            for tc in self.extra_table_constraints
            if isinstance(tc, GroupedBound)
        ]
        if self.decode_sample_stratify is not None:
            named.append(("decode_sample_stratify (--decode-sample-by)",
                          (self.decode_sample_stratify,)))
        for name, cols in named:
            missing = [c for c in cols if c not in raw_columns]
            if missing:
                raise ValueError(
                    f"{name}: not in the raw schema: {', '.join(missing)}"
                )

    # ------------------------------------------------------------ wiring

    def _agg_constraints(self) -> list[AggConstraint]:
        out: list[AggConstraint] = [RecordCount()] if self.check_record_count else []
        if self.check_checksum:
            out.append(Checksum())
        out += [NotNull(c) for c in self.not_null]
        if self.check_domains:
            out += default_image_domain_checks()
        if self.check_bit_balance:
            lo, hi = self.bit_balance_bounds
            out.append(BitBalance(self.bit_balance_col, lo=lo, hi=hi))
        if self.check_payload_conformance:
            from bigdime_spark.operators.payload import PayloadConformance

            out.append(PayloadConformance())
        out += list(self.extra_agg_constraints)
        return out

    def _table_constraints(
        self, has_curated: bool, decode_tc: TableConstraint | None = None
    ) -> list[TableConstraint]:
        """Constraints with their own plan, EXCLUDING the keyed trio
        (uniqueness/referential/caption), which fuse into one shuffle
        via KeyedSnapshotPass when the keys coincide. ``decode_tc`` is
        the prebuilt decode constraint — None when it already ran in
        pass 3a (checksum riding its scan)."""
        out: list[TableConstraint] = []
        if has_curated and self.check_referential and self.referential_mode == "bloom":
            from bigdime_spark.operators.bloom import BloomReferential

            out.append(
                BloomReferential(
                    self.ref_key,
                    m_bits=self.referential_bloom_bits,
                    k=self.referential_bloom_k,
                )
            )
        if not self._keyed_fusable(has_curated):
            if has_curated and self.check_content:
                from bigdime_spark.operators.keyed import ContentEquality

                out.append(ContentEquality(self.ref_key, self.content_cols))
            if self.check_uniqueness:
                out.append(Uniqueness(self.unique_key))
            if has_curated and self._ref_exact:
                out.append(Referential(self.ref_key))
            if has_curated and self.check_caption:
                out.append(CaptionEquality())
        if has_curated and self.check_drift:
            out.append(DriftCheck(self.drift_specs))
        if has_curated and self.categorical_drift_cols:
            from bigdime_spark.operators.drift import CategoricalDriftCheck

            out.append(CategoricalDriftCheck(tuple(self.categorical_drift_cols)))
        if has_curated and self.mask_drift_cols:
            from bigdime_spark.operators.drift import CategoricalDriftCheck

            out.append(
                CategoricalDriftCheck(tuple(self.mask_drift_cols), masked=True)
            )
        if self.check_phash_dedup:
            from bigdime_spark.operators.dedup import PhashNearDup

            out.append(PhashNearDup(k=self.phash_k))
        if self.check_profile_outliers:
            from bigdime_spark.operators.outliers import ProfileOutliers

            out.append(
                ProfileOutliers(
                    metrics=list(self.outlier_metrics) if self.outlier_metrics else None,
                    threshold=self.outlier_threshold,
                )
            )
        if self.zone_clustering_cols:
            from bigdime_spark.operators.layout import ZoneClustering

            out += [
                ZoneClustering(c, max_fraction=self.zone_max_overlap)
                for c in self.zone_clustering_cols
            ]
        if decode_tc is not None:
            out.append(decode_tc)
        out += list(self.extra_table_constraints)
        return out

    @property
    def _ref_exact(self) -> bool:
        return self.check_referential and self.referential_mode == "exact"

    def _keyed_fusable(self, has_curated: bool) -> bool:
        wants_ref = has_curated and (
            self._ref_exact or self.check_caption or self.check_content
        )
        if not (self.check_uniqueness or wants_ref):
            return False
        # fuse only when all requested keyed constraints share one key
        return (not wants_ref) or (self.unique_key == self.ref_key) or not self.check_uniqueness

    # -------------------------------------------------------------- run

    def run(
        self,
        spark: SparkSession,
        raw: DataFrame,
        curated: DataFrame | None = None,
        manifest: DataFrame | None = None,
        run_id: str | None = None,
        lineage_path: str | None = None,
        resume: bool = True,
    ) -> SuiteResult:
        self.check_config(raw.columns)
        t0 = time.monotonic()
        mark = _profiler(t0)
        run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
        declared = self.declared_schema or IMAGE_SCHEMA_PARTITIONED

        # pass 1 — schema validators (driver-side, no job)
        schema_viol = diff_schema(declared, raw.schema)
        schema_viol_df = local_frame(
            spark,
            [(f"schema.{v.kind}", "*", None, v.column, v.detail, "raw") for v in schema_viol],
            VIOLATION_SCHEMA,
        )
        schema_verdict_df = local_frame(
            spark,
            [
                (
                    "*",
                    "schema",
                    PASS if not schema_viol else FAIL,
                    f"mismatches={len(schema_viol)}",
                    "mismatches=0",
                )
            ],
            "part string, constraint string, verdict string, observed string, expected string",
        )

        # pass 2 — resume filter (partition pruning on `part`)
        store = lin.LineageStore(lineage_path) if lineage_path else None
        done: list[str] = []
        if store is not None and resume and store.exists():
            done = [r["part"] for r in store.validated_parts(spark).collect()]
        raw = lin.apply_resume_filter(raw, done)
        if curated is not None:
            curated = lin.apply_resume_filter(curated, done)

        # pass 3 — the fused stats+constraints aggregation
        agg_constraints = self._agg_constraints()
        stats = self.stats or default_image_stats()
        light = [
            c
            for c in agg_constraints
            if not isinstance(c, Checksum) and not getattr(c, "reads_payload", False)
        ]
        #: payload-reading fusable constraints (PayloadConformance):
        #: must stay OUT of the bytes-free stats agg (B0b) — they fuse
        #: into the checksum's full scan below, or get their own
        #: column-pruned payload aggregation when no such scan exists.
        payload_cs = [
            c
            for c in agg_constraints
            if not isinstance(c, Checksum) and getattr(c, "reads_payload", False)
        ]
        heavy = [c for c in agg_constraints if isinstance(c, Checksum)]
        if len(heavy) > 1:
            # two Checksum instances would collide on the shared
            # actual_xor/actual_sum agg aliases (and only one could
            # ride the decode scan) — fail loudly instead of silently
            # feeding both verdicts from one column set
            raise ValueError(
                "at most one Checksum constraint per suite run "
                f"(got {len(heavy)})"
            )

        persisted: list = []
        ctx = SuiteContext(
            spark=spark, raw=raw, curated=curated, manifest=manifest, parts=None
        )
        ctx.extras["persisted"] = persisted

        # scan-fusion decision: checksum must read the full payload and
        # so must decode — when BOTH run over raw, the checksum rides
        # the decode Arrow scan (rowhash pass-through) so raw's payload
        # pages are read ONCE total and the stats pass stays bytes-free.
        decode_snaps = (
            tuple(s for s in self.decode_snapshots if s == "raw" or curated is not None)
            if self.check_decode
            else ()
        )
        ride = (
            len(heavy) == 1
            and "raw" in decode_snaps
            and self.decode_sample_rate >= 1.0
        )
        decode_tc = None
        decode_found = None
        decode_viol = None
        if decode_snaps:
            decode_tc = DecodeIntegrity(
                seed=self.decode_seed,
                snapshots=decode_snaps,
                carry_checksum=ride,
                # the riding hash must cover the SAME column set the
                # Checksum constraint (and its manifest) uses
                checksum_columns=heavy[0].columns if ride else None,
                sample_rate=self.decode_sample_rate,
                pixel_drift=self.decode_pixel_drift,
                pixel_bins=self.decode_pixel_bins,
                quality_min_std=self.decode_quality_min_std,
                quality_mean_lo=self.decode_quality_mean_lo,
                quality_mean_hi=self.decode_quality_mean_hi,
                quality_max_flagged=self.decode_quality_max_flagged,
                rate_gate=self.decode_rate_gate,
                sample_stratify=self.decode_sample_stratify,
                sample_min_n=self.decode_sample_min_n,
            )
        if ride:
            decode_found, decode_viol = decode_tc.run(ctx)
            cs_frame = ctx.extras.pop("decode_checksum_frame")
            mark("pass3a decode scan (checksum riding)")

        # bytes (any binary column) never scanned in the stats pass —
        # SURVEY B0b; Catalyst further prunes to the columns the fused
        # agg actually references.
        # histograms go through histogram_frames (melted scan + pivot),
        # NOT the fused agg — dense count_if arrays defeat whole-stage
        # codegen there (see StatsProfile.agg_exprs docstring)
        exprs = list(stats.agg_exprs(include_histograms=False))
        # own aliases are unique by construction; shared aliases (e.g.
        # the per-part row count k Compliance bounds divide by) are
        # merged so the fused agg carries each ONCE
        shared_aggs: dict = {}

        def _collect(cs_list) -> list:
            out = []
            for c in cs_list:
                for alias, col in c.shared_agg_exprs().items():
                    shared_aggs.setdefault(alias, col.alias(alias))
                out.extend(c.agg_exprs())
            return out

        exprs.extend(_collect(light))

        if heavy and not ride:
            # checksum with no decode pass to ride: it must read every
            # column (incl. binary) anyway, so ALL stats/constraint aggs
            # share that one full scan — one scan + one shuffle total.
            cs = heavy[0]
            pre = raw
            for name, col in cs.pre_columns().items():
                pre = pre.withColumn(name, col)
            exprs.extend(_collect([cs]))
            # payload-reading constraints ride the same full scan free
            exprs.extend(_collect(payload_cs))
            fused = pre.groupBy("part").agg(
                *(list(shared_aggs.values()) + exprs)
            )
        else:
            # the stats pass must NEVER touch binary columns (SURVEY
            # B0b): parquet prunes the image pages — EXCEPT columns an
            # explicit bytelike profile requests (octet_length stats are
            # an opt-in full-payload read; dropping them here would make
            # the fused agg reference an unresolved column).
            bytelike_cols = {p.column for p in stats.columns if p.bytelike}
            stats_cols = [
                f.name
                for f in raw.schema.fields
                if f.name != "part"
                and (not isinstance(f.dataType, BinaryType) or f.name in bytelike_cols)
            ]
            fused = (
                raw.select("part", *stats_cols)
                .groupBy("part")
                .agg(*(list(shared_aggs.values()) + exprs))
            )
            if ride:
                # per-part checksum aggregate from the decode scan; tiny
                fused = fused.join(cs_frame, "part", "left")
            if payload_cs:
                # no JVM full-payload scan to ride: conformance pays its
                # own aggregation (Catalyst prunes it to part + the
                # bytes/w/h/fmt columns the predicates reference). When
                # decode is on this is a redundant second payload read —
                # the config docstring steers conformance to decode-OFF
                # runs, but an explicit opt-in still runs honestly.
                from bigdime_spark.operators.base import fused_agg_exprs

                pexprs = fused_agg_exprs(payload_cs)
                fused = fused.join(
                    raw.groupBy("part").agg(*pexprs), "part", "left"
                )

        if manifest is not None:
            fused = fused.join(F.broadcast(manifest), "part", "left")
        elif any(c.needs_manifest() for c in agg_constraints):
            for col in ("expected_rows", "expected_xor", "expected_sum"):
                fused = fused.withColumn(col, F.lit(None))
        fused = fused.cache()  # tiny: one row per partition
        persisted.append(fused)
        # the cached per-part stats double as the ProfileOutliers input
        # (and any extra table constraint that wants them) — zero rescan
        ctx.extras["fused_stats"] = fused
        # materialize NOW: a dozen verdict branches reference this
        # frame inside one union action, and branches hitting a
        # not-yet-materialized cache each recompute its plan (the
        # stats+checksum scans) — eager materialization runs it once.
        fused.count()
        mark("pass3 fused stats+constraints agg")

        # long-format verdicts via inline(array(struct(...)))
        structs = [
            F.struct(
                F.lit(c.name).alias("constraint"),
                c.verdict_col().alias("verdict"),
                c.observed_col().cast("string").alias("observed"),
                c.expected_col().cast("string").alias("expected"),
            )
            for c in agg_constraints
        ]
        # inline(array()) is a type error — with zero agg constraints
        # the verdict frame is just empty (stats-only run)
        agg_verdicts = (
            fused.select("part", F.inline(F.array(*structs))).select(
                "part", "constraint", "verdict", "observed", "expected"
            )
            if structs
            else local_frame(
                spark,
                [],
                "part string, constraint string, verdict string,"
                " observed string, expected string",
            )
        )

        parts = fused.select("part")
        ctx.parts = parts

        # pass 3 violations — row-level specs fuse into ONE scan: each
        # row evaluates every predicate, failed ones become an array of
        # violation structs, exploded after a size>0 filter. Replaces
        # one filtered scan per constraint.
        verdict_frames_head = [schema_verdict_df]
        violation_frames = [schema_viol_df]
        specs = [
            (c.name, c.violation_spec(), c.violation_count_col())
            for c in agg_constraints
        ]
        fusable = [(n, s, cc) for n, s, cc in specs if s is not None]
        if fusable:
            # rescan gate: the fused agg (cached, one row per part)
            # already counts each fusable constraint's violating rows —
            # drop every spec whose counter totals ZERO before the
            # row-level rescan (a provably-clean constraint contributes
            # nothing but cost: in particular a clean PayloadConformance
            # spec would otherwise drag payload pages into a rescan
            # another constraint triggered). All counters zero → the
            # rescan itself is provably empty and skipped entirely; the
            # common clean run at 10^12 rows pays ONE scan, not two.
            if all(cc is not None for _, _, cc in fusable):
                totals = fused.agg(
                    *[F.sum(cc).alias(cc) for _, _, cc in fusable]
                ).collect()[0]
                fusable = [
                    (n, s, cc) for n, s, cc in fusable if (totals[cc] or 0) > 0
                ]
            mark("pass3b violation-rescan gate")
        if fusable:
            structs = [
                F.when(
                    pred,
                    F.struct(
                        F.lit(name).alias("constraint"),
                        F.lit(column).alias("column"),
                        detail.cast("string").alias("detail"),
                    ),
                )
                for name, (pred, column, detail), _ in fusable
            ]
            fused_viol = (
                raw.select(
                    "part",
                    F.col("image_id").cast("string").alias("image_id"),
                    F.filter(F.array(*structs), lambda x: x.isNotNull()).alias("_vs"),
                )
                .filter(F.size("_vs") > 0)
                .select("part", "image_id", F.explode("_vs").alias("v"))
                .select(
                    F.col("v.constraint").alias("constraint"),
                    F.col("part").cast("string").alias("part"),
                    "image_id",
                    F.col("v.column").alias("column"),
                    F.col("v.detail").alias("detail"),
                    F.lit("raw").alias("snapshot"),
                )
            )
            violation_frames.append(fused_viol)
        for c in agg_constraints:
            if c.violation_spec() is None:
                v = c.violations(raw, "raw")
                if v is not None:
                    violation_frames.append(v)

        # pass 4 — fused keyed trio (uniqueness/referential/caption):
        # ONE shuffle on the key serves all three (operators/keyed.py).
        # Keyed/drift/decode return PARTIAL verdict frames (failing
        # rows only, with a constraint column); the full
        # (part × constraint) grid is completed with PASS rows by ONE
        # shared join below instead of a broadcast join per constraint.
        verdict_frames = verdict_frames_head + [agg_verdicts]
        partial_frames: list[DataFrame] = []
        partial_names: list[str] = []
        if self._keyed_fusable(curated is not None):
            keyed = KeyedSnapshotPass(
                key=self.unique_key if self.check_uniqueness else self.ref_key,
                check_uniqueness=self.check_uniqueness,
                check_referential=self._ref_exact,
                check_caption=self.check_caption,
                check_content=self.check_content,
                content_cols=self.content_cols,
                assume_clustered=self.keyed_assume_clustered,
            )
            for name, v_df, viol in keyed.run(ctx):
                partial_frames.append(v_df)
                partial_names.append(name)
                if viol is not None:
                    violation_frames.append(viol)
            mark("pass4 keyed trio (eager rare frame)")

        # the decode pass that ran early (pass 3a, checksum riding its
        # scan) still owes its verdict/violation frames here
        if ride:
            partial_frames.append(decode_found)
            partial_names.extend(decode_tc.verdict_names())
            if decode_viol is not None:
                violation_frames.append(decode_viol)

        # pass 4b/5 — remaining table constraints (drift, decode, extras)
        for tc in self._table_constraints(
            curated is not None, decode_tc=None if ride else decode_tc
        ):
            v_df, viol = tc.run(ctx)
            if getattr(tc, "partial_verdicts", False):
                partial_frames.append(v_df)
                partial_names.extend(tc.verdict_names())
            else:
                verdict_frames.append(v_df)
            if viol is not None:
                violation_frames.append(viol)

        if partial_frames:
            found = partial_frames[0]
            for fdf in partial_frames[1:]:
                found = found.unionByName(fdf)
            grid = parts.crossJoin(
                local_frame(spark, [(n,) for n in partial_names], "constraint string")
            )
            # FULL outer: the grid is built from raw-side parts, but
            # curated-side checks (decode.curated, spurious_curated)
            # can FAIL a part that exists only in curated — those found
            # rows must survive, not be dropped by a left join.
            completed = grid.join(found, ["part", "constraint"], "full").select(
                "part",
                "constraint",
                F.coalesce("verdict", F.lit(PASS)).alias("verdict"),
                F.col("observed").cast("string").alias("observed"),
                F.col("expected").cast("string").alias("expected"),
            )
            verdict_frames.append(completed)

        verdicts = verdict_frames[0]
        for fdf in verdict_frames[1:]:
            verdicts = verdicts.unionByName(fdf)

        # partition-level constraints (no single offending row) still owe
        # "one row per failed constraint with partition lineage"
        # (BASELINE.json:6) — synthesize it from the verdict itself.
        partition_level = verdicts.filter(
            (F.col("verdict") == FAIL)
            & F.col("constraint").rlike(
                r"^(record_count|checksum|drift_|profile_outlier|zone_clustering)"
            )
        ).select(
            "constraint",
            "part",
            F.lit(None).cast("string").alias("image_id"),
            F.lit(None).cast("string").alias("column"),
            F.concat_ws(" != ", "observed", "expected").alias("detail"),
            F.lit("raw").alias("snapshot"),
        )
        violation_frames.append(partition_level)

        violations = violation_frames[0]
        for fdf in violation_frames[1:]:
            violations = violations.unionByName(fdf, allowMissingColumns=True)
        if self.topk_violations:
            w = Window.partitionBy("part", "constraint").orderBy("image_id", "detail")
            violations = (
                violations.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= self.topk_violations)
                .drop("_rn")
            )

        # verdicts/violations feed multiple downstream actions (lineage,
        # writes, counts) — persist so the whole constraint DAG runs ONCE.
        # Verdicts are tiny (parts × constraints); violations are bounded
        # by topk_violations at scale.
        verdicts = verdicts.persist()
        violations = violations.persist()
        persisted += [verdicts, violations]
        # ONE job materializes both persisted frames (separate counts
        # would pay a second scheduling barrier)
        verdicts.select(F.lit(1).alias("x")).unionByName(
            violations.select(F.lit(1).alias("x"))
        ).count()
        mark("pass5 verdicts+violations materialized (drift+decode+assembly)")

        # pass 6 — stats projection + lineage
        stats_out = fused.select(
            "part",
            *[c for c in fused.columns if c.startswith("stat__")],
            *StatsProfile.finalize_exprs(fused.columns),
        )
        hspecs = stats.histogram_specs()
        if hspecs:
            # persisted per-part bucket arrays (B9) — the cross-run
            # drift feed (drift_from_stats), built from one bytes-free
            # melted scan; parts with no bucketable rows stay NULL
            from bigdime_spark.operators.stats import histogram_frames

            stats_out = stats_out.join(
                histogram_frames(raw.select("part", *[c for c, *_ in hspecs]), hspecs),
                "part",
                "left",
            )
        pixel_frame = ctx.extras.pop("pixel_stats_frame", None)
        if pixel_frame is not None:
            # decode pixel histograms persist beside the B9 arrays:
            # `drift` on two runs' stats then scores image-space drift
            # run-over-run with zero rescan (a part that decoded
            # nothing stays spec-less and the cross-run drift refuses
            # loudly — the C18 null-mix convention, never silent)
            stats_out = stats_out.join(pixel_frame, "part", "left")

        part_status = (
            verdicts.filter(F.col("part") != "*")
            .groupBy("part")
            .agg(
                F.count_if(F.col("verdict") == FAIL).alias("_fails"),
            )
            .join(fused.select("part", F.col("stat__rows").alias("rows_scanned")), "part", "left")
        )
        viol_per_part = violations.groupBy("part").agg(F.count(F.lit(1)).alias("violations"))
        wall_ms = int((time.monotonic() - t0) * 1000)
        lineage = part_status.join(viol_per_part, "part", "left").select(
            F.lit(run_id).alias("run_id"),
            "part",
            F.when(F.col("_fails") == 0, F.lit(lin.VALIDATED)).otherwise(F.lit(lin.FAILED)).alias("status"),
            F.coalesce(F.col("rows_scanned"), F.lit(0)).cast("long").alias("rows_scanned"),
            F.coalesce(F.col("violations"), F.lit(0)).cast("long").alias("violations"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
        if store is not None:
            store.append(lineage)

        return SuiteResult(
            run_id=run_id,
            verdicts=verdicts,
            violations=violations,
            stats=stats_out,
            lineage=lineage,
            schema_violations=schema_viol,
            wall_ms=int((time.monotonic() - t0) * 1000),
            persisted=persisted,
            grouped_profiles=ctx.extras.get("grouped_bound_profiles", {}),
        )
