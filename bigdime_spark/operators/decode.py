"""Pixel-decode invariant checks (SURVEY B20; BASELINE.json:15).

The ONLY Python-side pass in the engine: ``mapInArrow`` over a
projection of (part, image_id, bytes, w, h, fmt, phash) — Arrow
batches, never per-row Python (BASELINE.json:15 "vectorized
pandas/Arrow UDFs (no per-row Python)").

Two reference modes:

- ``regen`` (seed given): the deterministic generator *is* the
  reference implementation — decoded pixels are compared against
  ``make_pixels(seed, image_id, w, h)``; PSNR ≥ 40 dB for lossy
  (rawq*), exact equality for lossless (raw/ppm/pngz).
- ``integrity`` (no seed): self-consistency — payload must decode at
  the declared (w, h, fmt) and the stored ``phash`` must equal the
  average-hash of the decoded pixels.

Undecodable payloads (corruption, unknown fmt, length mismatch) are
violations with the decoder's reason. Rows with NULL bytes/w/h/fmt
are skipped here — they belong to the not-null validators.

At 100 TB this pass is the dominant cost: the projection keeps every
other column's pages unread, and Arrow batch size is capped
(session.py) so a batch of decoded images stays bounded in the Python
worker. Decode is row-local — it needs NO co-location — so the
default plan feeds the scan straight into mapInArrow with zero
exchanges; `colocate=True` adds a repartition("part") first (useful
only when a downstream per-part consumer will reuse the layout —
measured slower standalone, see BENCH/BASELINE.md).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdime_spark.operators.base import SuiteContext, TableConstraint
from bigdime_spark.schema import FAIL

PSNR_THRESHOLD_DB = 40.0

RESULT_SCHEMA = pa.schema(
    [
        pa.field("snapshot", pa.string()),
        pa.field("part", pa.string()),
        pa.field("image_id", pa.string()),
        pa.field("ok", pa.bool_()),
        pa.field("psnr", pa.float64()),
        pa.field("reason", pa.string()),
        # per-row content hash carried THROUGH the Arrow stage when the
        # checksum validator rides the decode scan (see hash_snapshots);
        # on checksum-partial rows this is the batch's xor-fold instead
        pa.field("rowhash", pa.int64()),
        # checksum-partial rows ONLY (psum IS NOT NULL marks them): the
        # batch's EXACT per-part hash sum as a decimal string — python
        # ints are unbounded, so the fold never wraps; Spark re-sums the
        # partials in decimal(38,0), matching checksum_agg_exprs exactly
        pa.field("psum", pa.string()),
        # pixel-histogram-partial rows ONLY (phist IS NOT NULL marks
        # them): the batch's pooled channel-value bucket counts for one
        # (snapshot, part) — nbins+2 long, width_bucket layout over
        # [0, 256) so the persisted-stats drift machinery scores it
        pa.field("phist", pa.list_(pa.int64())),
        # image-quality flag (NULL = fine): semicolon-joined reasons a
        # DECODABLE image fails the curation gate — flat(std<t) /
        # dark(mean<lo) / bright(mean>hi). Orthogonal to `ok`: a flagged
        # image decoded correctly; it is just bad training data.
        pa.field("quality", pa.string()),
    ]
)
RESULT_DDL = (
    "snapshot string, part string, image_id string, ok boolean, "
    "psnr double, reason string, rowhash long, psum string, "
    "phist array<long>, quality string"
)

from bigdime_spark.functions.hashes import U64_MASK as _MASK
from bigdime_spark.functions.hashes import to_signed64 as _to_signed


_PIX_VALS = np.arange(256, dtype=np.int64)
_PIX_SQ = _PIX_VALS * _PIX_VALS


def _quality_flags(pixels, quality, counts=None):
    """Curation-gate flags for a DECODED image: (min_std, mean_lo,
    mean_hi) → 'flat(...)'/'dark(...)'/'bright(...)' joined with ';',
    or None when the image is fine. mean/std over all pooled channel
    values — per-image, so invariant under any partition layout.

    Moments come from the 256-bin value COUNTS (Σc·v and Σc·v² are
    exact int64 for any realistic image; one bincount pass replaces
    numpy's two float passes — measured ~25% of the whole decode wall
    when computed via pixels.mean()/std()). Pass ``counts`` when a
    bincount already exists (the pixel-drift fold) so quality adds
    zero extra passes."""
    if counts is None:
        counts = np.bincount(pixels.reshape(-1), minlength=256)
    min_std, mean_lo, mean_hi = quality
    n = int(counts.sum())
    if n == 0:
        return None  # zero-pixel image: nothing to judge
    s1 = int(counts @ _PIX_VALS)
    m = s1 / n
    flags = []
    if min_std is not None:
        var = int(counts @ _PIX_SQ) / n - m * m
        s = math.sqrt(max(var, 0.0))
        if s < min_std:
            flags.append(f"flat(std={s:.2f}<{min_std:g})")
    if mean_lo is not None and m < mean_lo:
        flags.append(f"dark(mean={m:.2f}<{mean_lo:g})")
    if mean_hi is not None and m > mean_hi:
        flags.append(f"bright(mean={m:.2f}>{mean_hi:g})")
    return ";".join(flags) or None


def _check_row(
    image_id, payload, w, h, fmt, stored_phash, seed, hist_acc=None, quality=None
):
    """``hist_acc`` (optional np.int64[256]): pooled channel-value
    counts of every SUCCESSFULLY decoded image are added in place —
    the pixel-drift fold rides the decode we are doing anyway.
    ``quality`` (optional (min_std, mean_lo, mean_hi)): curation-gate
    thresholds; the fourth returned element is the flag string."""
    from bigdime_spark.sources import synth

    if payload is None or w is None or h is None or fmt is None:
        return None  # not this constraint's business
    try:
        pixels = synth.decode(payload, fmt, int(w), int(h))
    except Exception as exc:  # undecodable → violation
        return (False, None, f"decode_error: {exc}", None)
    counts = (
        np.bincount(pixels.reshape(-1), minlength=256)
        if (hist_acc is not None or quality is not None)
        else None
    )
    if hist_acc is not None:
        hist_acc += counts
    qual = _quality_flags(pixels, quality, counts) if quality is not None else None
    lossy = fmt.startswith("rawq")
    if seed is not None:
        ref = synth.make_pixels(seed, image_id, int(w), int(h))
        if not lossy:
            # lossless: equality IS psnr == inf — a memcmp-speed
            # array_equal replaces the float PSNR math (10x cheaper on
            # the common path; exact same verdict)
            ok = np.array_equal(ref, pixels)
            return (
                ok, None,
                None if ok else "lossless pixels differ from reference", qual,
            )
        p = synth.psnr(ref, pixels)
        ok = p >= PSNR_THRESHOLD_DB
        return (ok, p, None if ok else f"psnr {p:.2f} dB < {PSNR_THRESHOLD_DB}", qual)
    actual_phash = synth.phash64(pixels)
    ok = stored_phash is not None and int(stored_phash) == actual_phash
    return (
        ok, None,
        None if ok else f"phash {stored_phash} != recomputed {actual_phash}", qual,
    )


def decode_check_multi(
    frames: dict[str, DataFrame],
    seed: int | None = None,
    colocate: bool = False,
    hash_snapshots: tuple[str, ...] = (),
    hash_columns: list[str] | None = None,
    partial_checksums: bool = False,
    pixel_bins: int | None = None,
    quality: tuple | None = None,
) -> DataFrame:
    """ALL snapshots through ONE Arrow pass: the inputs union with a
    `snapshot` tag column, so however many snapshots are validated,
    there is exactly one mapInArrow stage (one python-worker ramp-up,
    one stage barrier). ``colocate`` inserts repartition("part")
    before the Arrow stage (an extra full shuffle of the payload —
    off by default, see module docstring).

    ``hash_snapshots``: snapshots whose per-row content hash
    (xxhash64 over ``hash_columns``, computed JVM-side BEFORE the
    Arrow boundary) rides through the stage. This is how the checksum
    validator shares the decode scan instead of reading the full
    payload a second time — the single biggest I/O saving in the
    suite. The hash covers EVERY row of those snapshots, including
    rows the decoder skips (NULL bytes/w/h/fmt — the not-null
    validators' business).

    ``partial_checksums=False`` (default): every row is emitted with
    its own ``rowhash`` → (snapshot, part, image_id, ok, psnr,
    reason, rowhash, psum=NULL).

    ``partial_checksums=True`` (the suite's ride mode): ok rows are
    NOT emitted individually — each Arrow batch folds its hash-
    carrying rows into one checksum-partial row per (snapshot, part):
    xor in ``rowhash``, EXACT sum as a decimal string in ``psum``
    (marker: ``psum IS NOT NULL``). The output is bad rows + partials
    only, so persisting it costs O(violations + batches·parts-per-
    batch) instead of O(rows) — at 10^12 rows the difference between
    a few GB and tens of TB of executor cache. xor and sum are both
    commutative, so bit_xor(rowhash) / sum(psum::decimal) over the
    partials equal checksum_agg_exprs over the raw rows exactly.

    ``pixel_bins``: when set, each batch ALSO folds the pooled
    channel values of every successfully decoded image into one
    pixel-histogram-partial row per (snapshot, part) — marker
    ``phist IS NOT NULL`` — with bucket counts in the width_bucket
    layout over [0, 256) (index 0 = underflow, 1..nbins in-range,
    nbins+1 = overflow; both sentinels always 0 for uint8 pixels).
    bincount + reshape-sum is integer-exact and batch-split
    invariant, so the per-part aggregate (pixel_stats_frame) is
    byte-identical at any Arrow batch size or parallelism. This is
    the image-SPACE drift feed: it rides the decode we are already
    paying for, adding zero scans and O(batches × parts-per-batch)
    rows.

    ``quality``: optional (min_std, mean_lo, mean_hi) curation-gate
    thresholds evaluated on every successfully decoded image; flagged
    images get their flag string in the ``quality`` column and are
    ALWAYS emitted (even in partial_checksums mode, where ok rows are
    otherwise folded away) — flagged images are rare by intent, so the
    output stays bounded. Orthogonal to ``ok``: a flat/dark/bright
    image decoded fine; it is just bad training data."""
    if not frames:
        raise ValueError(
            "decode_check_multi needs at least one snapshot frame "
            "(e.g. snapshots=('curated',) with no curated table supplied)"
        )
    if pixel_bins is not None and (pixel_bins <= 0 or 256 % pixel_bins):
        raise ValueError(
            f"pixel_bins must be a positive divisor of 256, got {pixel_bins}"
        )
    from bigdime_spark.functions.hashes import row_checksum_col

    def run_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            d = batch.to_pydict()
            snaps, parts, ids, oks, psnrs, reasons, hashes, psums, phists, quals = (
                [], [], [], [], [], [], [], [], [], [],
            )
            partials: dict[tuple, list] = {}  # (snap, part) -> [xor, sum]
            pixhists: dict[tuple, np.ndarray] = {}  # (snap, part) -> int64[256]
            for snap, part, image_id, payload, w, h, fmt, ph, rh in zip(
                d["snapshot"], d["part"], d["image_id"], d["bytes"],
                d["w"], d["h"], d["fmt"], d["phash"], d["_h"],
            ):
                if partial_checksums and rh is not None:
                    acc = partials.setdefault((snap, part), [0, 0])
                    acc[0] ^= rh & _MASK
                    acc[1] += rh  # exact: python ints are unbounded
                hist_acc = None
                if pixel_bins is not None:
                    # not setdefault: its default argument would
                    # allocate a fresh zeros(256) on EVERY row
                    hist_acc = pixhists.get((snap, part))
                    if hist_acc is None:
                        hist_acc = pixhists[(snap, part)] = np.zeros(
                            256, dtype=np.int64
                        )
                res = _check_row(
                    image_id, payload, w, h, fmt, ph, seed, hist_acc, quality
                )
                if res is None:
                    if rh is None or partial_checksums:
                        continue  # skipped row; checksum (if any) folded above
                    ok, p, reason, qual = True, None, None, None
                else:
                    ok, p, reason, qual = res
                if partial_checksums and ok and qual is None:
                    continue  # ok rows live only in the partials
                snaps.append(snap)
                parts.append(part)
                ids.append(image_id)
                oks.append(bool(ok))
                psnrs.append(None if p is None or math.isinf(p) else float(p))
                reasons.append(reason)
                hashes.append(rh)
                psums.append(None)
                phists.append(None)
                quals.append(qual)
            # None-safe key: the schema allows NULL part values, and
            # None is not orderable against str; output order is
            # irrelevant (commutative folds) but determinism is nice.
            for (snap, part), (x, s) in sorted(
                partials.items(),
                key=lambda kv: tuple("" if v is None else v for v in kv[0]),
            ):
                snaps.append(snap)
                parts.append(part)
                ids.append(None)
                oks.append(True)
                psnrs.append(None)
                reasons.append(None)
                hashes.append(_to_signed(x))
                psums.append(str(s))
                phists.append(None)
                quals.append(None)
            for (snap, part), counts in sorted(
                pixhists.items(),
                key=lambda kv: tuple("" if v is None else v for v in kv[0]),
            ):
                snaps.append(snap)
                parts.append(part)
                ids.append(None)
                oks.append(True)
                psnrs.append(None)
                reasons.append(None)
                hashes.append(None)
                psums.append(None)
                # exact rebin 256 → pixel_bins (divisibility validated
                # above) + always-zero under/overflow sentinels so the
                # array is drift-machinery shaped (nbins+2 long)
                binned = counts.reshape(pixel_bins, -1).sum(axis=1)
                phists.append([0, *(int(v) for v in binned), 0])
                quals.append(None)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(snaps, pa.string()),
                    pa.array(parts, pa.string()),
                    pa.array(ids, pa.string()),
                    pa.array(oks, pa.bool_()),
                    pa.array(psnrs, pa.float64()),
                    pa.array(reasons, pa.string()),
                    pa.array(hashes, pa.int64()),
                    pa.array(psums, pa.string()),
                    pa.array(phists, pa.list_(pa.int64())),
                    pa.array(quals, pa.string()),
                ],
                schema=RESULT_SCHEMA,
            )

    unioned = None
    for snap, df in frames.items():
        h = (
            row_checksum_col(hash_columns).alias("_h")
            if snap in hash_snapshots
            else F.lit(None).cast("long").alias("_h")
        )
        part = df.select(
            F.lit(snap).alias("snapshot"),
            "part", "image_id", "bytes", "w", "h", "fmt", "phash", h,
        )
        unioned = part if unioned is None else unioned.unionByName(part)
    if colocate:
        unioned = unioned.repartition("part")
    return unioned.mapInArrow(run_batches, RESULT_DDL)


def pixel_stats_frame(
    checked: DataFrame, snapshot: str, pixel_bins: int
) -> DataFrame:
    """Fold one snapshot's pixel-histogram-partial rows (decode_check_
    multi ``pixel_bins=``) into the persisted-stats histogram shape:
    → (part, stat__pixels__hist array<long>, stat__pixels__hist_spec).

    The partial arrays are uniform (nbins+2)-long, so posexplode →
    (part, pos) sum → array_sort rebuild is exact and tiny: the input
    is O(batches × parts-per-batch) rows, the output parts-sized.
    The spec string "0.0:256.0:<nbins>" matches width_bucket binning
    of pooled uint8 channel values, so ``drift_from_stats`` (and
    ``quantiles_from_stats``) consume the frame unchanged."""
    return (
        checked.filter(
            F.col("phist").isNotNull() & (F.col("snapshot") == snapshot)
        )
        .select("part", F.posexplode("phist").alias("pos", "cnt"))
        .groupBy("part", "pos")
        .agg(F.sum("cnt").alias("cnt"))
        .groupBy("part")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cnt"))).alias("pc"))
        .select(
            "part",
            F.transform("pc", lambda s: s["cnt"]).alias("stat__pixels__hist"),
            F.lit(f"0.0:256.0:{pixel_bins}").alias("stat__pixels__hist_spec"),
        )
    )


def pixel_drift(
    checked: DataFrame, pixel_bins: int, table_level: bool = False
) -> DataFrame:
    """Image-SPACE drift raw vs curated: KS/PSI/W1/JS over the pooled
    channel-value distribution of the DECODED pixels, per part —
    → (part, column='pixels', ks_d, ks_threshold, psi, w1, js, n, m).

    This is the check byte-level validators cannot express: a curated
    re-encode that shifts gamma/brightness or quantizes pixels, then
    honestly RE-STAMPS phash, passes decode integrity, checksum (its
    own manifest) and caption equality — but its pixel-value
    distribution moves, and this scores it. Composition is entirely
    existing machinery: the histograms ride the single Arrow decode
    pass (zero extra scans of the payload), and scoring is
    ``drift_from_stats`` over two parts-sized frames — n/m here count
    PIXELS, so the KS threshold is tight at any realistic scale.
    Under decode sampling the subset is hash-selected on image_id,
    hence PAIRED across snapshots — sampled drift compares the same
    images' pixels. A part with zero decodable pixels on one side
    scores NOT_READY via n==0/m==0 (DriftCheck's convention)."""
    fr = pixel_stats_frame(checked, "raw", pixel_bins)
    fc = pixel_stats_frame(checked, "curated", pixel_bins)
    from bigdime_spark.operators.drift import drift_from_stats

    return drift_from_stats(fr, fc, table_level=table_level)


def _constraint_name(snapshot: str) -> str:
    # raw keeps the bare name (historic); other snapshots qualify it
    return "decode" if snapshot == "raw" else f"decode.{snapshot}"


class DecodeIntegrity(TableConstraint):
    name = "decode"

    def __init__(
        self,
        seed: int | None = None,
        snapshots: tuple[str, ...] = ("raw",),
        colocate: bool = False,
        carry_checksum: bool = False,
        checksum_columns: list[str] | None = None,
        sample_rate: float = 1.0,
        sample_seed: str = "decode-sample",
        pixel_drift: bool = False,
        pixel_bins: int = 32,
        quality_min_std: float | None = None,
        quality_mean_lo: float | None = None,
        quality_mean_hi: float | None = None,
        quality_max_flagged: int = 0,
        rate_gate: tuple[float, float] | None = None,
        sample_stratify: str | None = None,
        sample_min_n: int = 0,
    ):
        if not 0.0 < sample_rate <= 1.0:
            raise ValueError(
                f"decode sample_rate must be in (0, 1], got {sample_rate}"
            )
        if sample_stratify is not None and sample_rate >= 1.0:
            raise ValueError(
                "sample_stratify is a sampling strategy — it requires "
                "sample_rate < 1.0 (a full scan already covers every stratum)"
            )
        if sample_min_n < 0:
            raise ValueError(f"sample_min_n must be >= 0, got {sample_min_n}")
        if sample_min_n > 0 and sample_stratify is None:
            # silently ignoring the floor would let an operator believe
            # a per-stratum minimum was enforced under uniform sampling
            raise ValueError(
                "sample_min_n is a per-stratum floor — it requires "
                "sample_stratify"
            )
        if rate_gate is not None:
            # fail fast on bad gate geometry — same guards as the
            # operator, but at suite-construction time
            max_rate, z = rate_gate
            if not 0.0 < max_rate < 1.0:
                raise ValueError(
                    f"decode rate_gate max_rate must be in (0, 1), got {max_rate}"
                )
            if z <= 0:
                raise ValueError(f"decode rate_gate z must be > 0, got {z}")
            if "raw" not in snapshots:
                # k counts raw-snapshot bad rows — without a raw decode
                # the gate would certify a snapshot that was never
                # decoded (k always 0 → confident PASS on any corruption)
                raise ValueError(
                    "decode rate_gate certifies the raw snapshot — "
                    f"snapshots={snapshots!r} does not decode it"
                )
        if (
            quality_mean_lo is not None
            and quality_mean_hi is not None
            and quality_mean_lo > quality_mean_hi
        ):
            raise ValueError(
                f"quality mean range is inverted: lo={quality_mean_lo} > "
                f"hi={quality_mean_hi}"
            )
        if quality_max_flagged < 0:
            raise ValueError(
                f"quality_max_flagged must be >= 0, got {quality_max_flagged}"
            )
        if pixel_drift and "curated" not in snapshots:
            raise ValueError(
                "pixel_drift compares raw vs curated pixel distributions "
                "— the decode pass must cover both snapshots "
                f"(snapshots={snapshots!r})"
            )
        if pixel_drift and (pixel_bins <= 0 or 256 % pixel_bins):
            raise ValueError(
                f"pixel_bins must be a positive divisor of 256, got {pixel_bins}"
            )
        if sample_rate < 1.0 and carry_checksum:
            # the riding checksum must hash EVERY row; a sampled decode
            # scan would silently checksum the sample only
            raise ValueError(
                "carry_checksum requires a full decode scan "
                "(sample_rate == 1.0): the riding checksum must cover "
                "every row the manifest describes"
            )
        self.seed = seed
        self.snapshots = snapshots
        self.colocate = colocate
        #: deterministic decode SAMPLING — the 10^12-row posture for
        #: this, the engine's one Python-side pass: decode a
        #: hash-selected fraction of images every run (md5(image_id,
        #: sample_seed) keep-predicate, pushed to the scan — identical
        #: subset under repartition/resume; operators/sampling) and the
        #: full payload only on escalation. PASS under sampling means
        #: "no failures among the ~rate sample"; the record-count /
        #: checksum validators still cover every row.
        self.sample_rate = float(sample_rate)
        self.sample_seed = sample_seed
        #: when True, the raw snapshot's per-row content hash rides the
        #: decode scan (folded to per-batch per-part PARTIALS inside the
        #: Arrow stage — see decode_check_multi) and the per-part
        #: checksum aggregate lands in ctx.extras["decode_checksum_frame"]
        #: — the suite joins it into the fused frame so the stats pass
        #: never reads payload pages.
        self.carry_checksum = carry_checksum
        #: column list of the Checksum constraint whose scan this ride
        #: replaces — MUST match, or the riding checksum would silently
        #: hash a different column set than the manifest expects.
        self.checksum_columns = checksum_columns
        #: image-SPACE drift (pixel_drift module fn): pooled channel-
        #: value histograms ride the decode scan and score raw-vs-
        #: curated KS/PSI per part — verdict families drift_ks.pixels /
        #: drift_psi.pixels (the 'pixels' derived column joins the
        #: numeric drift families; partition_level violation synthesis
        #: matches on the drift_ prefix). Requires a curated snapshot.
        self.pixel_drift = bool(pixel_drift)
        self.pixel_bins = int(pixel_bins)
        #: image-quality curation gate (C49): flat/dark/bright images
        #: flagged per the thresholds; a part FAILs image_quality when
        #: its flagged count exceeds quality_max_flagged (default 0 —
        #: any flagged image fails its part). Orthogonal to decode
        #: integrity: a flat image decodes fine, it is just bad
        #: training data the curation pipeline must not ship.
        self.quality_min_std = quality_min_std
        self.quality_mean_lo = quality_mean_lo
        self.quality_mean_hi = quality_mean_hi
        self.quality_max_flagged = int(quality_max_flagged)
        #: statistical certification of the SAMPLED decode (C71):
        #: (max_rate, z) → a `decode_rate` verdict per part from the
        #: Wilson interval on (k bad, n sampled) — PASS certifies the
        #: part's POPULATION bad-decode rate ≤ max_rate at the z
        #: confidence, FAIL certifies it above, NOT_READY means the
        #: sample cannot say (raise the sample rate;
        #: infer.min_n_to_certify gives the target). Complements the
        #: exact `decode` verdict, which under sampling only means "no
        #: failures among the sample".
        self.rate_gate = rate_gate
        #: STRATIFIED decode sampling (C77): per-(part, <col>) keep
        #: thresholds boosted so every stratum gets ~sample_min_n
        #: sampled rows — the rare fmt a uniform sample leaves
        #: unvalidated. With rate_gate, certification is per STRATUM
        #: (each stratum is a uniform sample of itself, so Wilson
        #: applies cleanly; a part-level estimate would need
        #: stratum weighting), folded to one decode_rate verdict per
        #: part: FAIL if any stratum certifies over, else NOT_READY if
        #: any stratum cannot say, else PASS.
        self.sample_stratify = sample_stratify
        self.sample_min_n = int(sample_min_n)

    @property
    def _quality_spec(self) -> tuple | None:
        if (
            self.quality_min_std is None
            and self.quality_mean_lo is None
            and self.quality_mean_hi is None
        ):
            return None
        return (self.quality_min_std, self.quality_mean_lo, self.quality_mean_hi)

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, DataFrame]:
        frames = {
            snap: (ctx.raw if snap == "raw" else ctx.curated)
            for snap in self.snapshots
            if snap == "raw" or ctx.curated is not None
        }
        if self.pixel_drift and "curated" not in frames:
            raise ValueError(
                "decode pixel_drift requires a curated snapshot — none "
                "was supplied to this run"
            )
        strat_thr = None
        if self.sample_rate < 1.0:
            if self.sample_stratify is not None:
                from bigdime_spark.operators.infer import (
                    stratified_sample_frame,
                    stratified_thresholds,
                )

                strat_thr = {
                    snap: stratified_thresholds(
                        df,
                        self.sample_stratify,
                        self.sample_rate,
                        self.sample_min_n,
                    )
                    for snap, df in frames.items()
                }
                frames = {
                    snap: stratified_sample_frame(
                        df,
                        self.sample_stratify,
                        strat_thr[snap],
                        self.sample_seed,
                    )
                    for snap, df in frames.items()
                }
            else:
                from bigdime_spark.operators.sampling import uniform_sample

                frames = {
                    snap: uniform_sample(
                        df, "image_id", self.sample_rate, self.sample_seed
                    )
                    for snap, df in frames.items()
                }
        checked = decode_check_multi(
            frames,
            seed=self.seed,
            colocate=self.colocate,
            hash_snapshots=("raw",) if self.carry_checksum else (),
            hash_columns=self.checksum_columns,
            partial_checksums=self.carry_checksum,
            pixel_bins=self.pixel_bins if self.pixel_drift else None,
            quality=self._quality_spec,
        )
        if self.carry_checksum:
            # the checked frame holds ONLY bad rows + per-batch checksum
            # partials (decode_check_multi partial mode) — persisting it
            # costs O(violations + partials), never O(rows). One Arrow
            # execution feeds the checksum aggregate AND the bad-row
            # verdict/violation filters.
            checked = checked.persist()
            ctx.extras.setdefault("persisted", []).append(checked)
            checked.count()  # eager: the one full-payload scan happens here
            ctx.extras["decode_checksum_frame"] = (
                checked.filter(F.col("psum").isNotNull() & (F.col("snapshot") == "raw"))
                .groupBy("part")
                .agg(
                    F.bit_xor("rowhash").alias("actual_xor"),
                    F.sum(F.col("psum").cast("decimal(38,0)")).alias("actual_sum"),
                )
            )
            bad = checked.filter(~F.col("ok"))
            pixel_src = checked
        else:
            # persist only the FAILING rows (rare) — plus the pixel-
            # histogram partials (batches × parts-sized) when pixel
            # drift is on: the single Arrow decode stage runs once;
            # verdicts, violations and pixel-stats frames are filters
            # over the persisted bounded subset
            keep = ~F.col("ok")
            if self.pixel_drift:
                keep = keep | F.col("phist").isNotNull()
            if self._quality_spec is not None:
                keep = keep | F.col("quality").isNotNull()
            kept = checked.filter(keep).persist()
            ctx.extras.setdefault("persisted", []).append(kept)
            bad = kept.filter(~F.col("ok"))
            pixel_src = kept

        cname = F.when(F.col("snapshot") == "raw", F.lit("decode")).otherwise(
            F.concat(F.lit("decode."), F.col("snapshot"))
        )
        violations = bad.select(
            cname.alias("constraint"),
            F.col("part").cast("string").alias("part"),
            F.col("image_id").cast("string").alias("image_id"),
            F.lit("bytes").alias("column"),
            F.coalesce("reason", F.lit("decode failed")).cast("string").alias("detail"),
            F.col("snapshot"),
        )
        failed_parts = (
            bad.groupBy("snapshot", "part")
            .agg(F.count(F.lit(1)).alias("bad_images"))
            .select(
                "part",
                F.when(F.col("snapshot") == "raw", F.lit("decode"))
                .otherwise(F.concat(F.lit("decode."), F.col("snapshot")))
                .alias("constraint"),
                F.lit(FAIL).alias("verdict"),
                F.concat(F.lit("bad_images="), F.col("bad_images").cast("string")).alias("observed"),
                F.lit("bad_images=0").alias("expected"),
            )
        )
        if self._quality_spec is not None:
            from bigdime_spark.schema import PASS

            flagged = pixel_src.filter(F.col("quality").isNotNull())
            qname = F.when(
                F.col("snapshot") == "raw", F.lit("image_quality")
            ).otherwise(F.concat(F.lit("image_quality."), F.col("snapshot")))
            violations = violations.unionByName(
                flagged.select(
                    qname.alias("constraint"),
                    F.col("part").cast("string").alias("part"),
                    F.col("image_id").cast("string").alias("image_id"),
                    F.lit("bytes").alias("column"),
                    F.col("quality").cast("string").alias("detail"),
                    F.col("snapshot"),
                )
            )
            q_parts = (
                flagged.groupBy("snapshot", "part")
                .agg(F.count(F.lit(1)).alias("flagged"))
                .select(
                    "part",
                    F.when(
                        F.col("snapshot") == "raw", F.lit("image_quality")
                    )
                    .otherwise(
                        F.concat(F.lit("image_quality."), F.col("snapshot"))
                    )
                    .alias("constraint"),
                    F.when(
                        F.col("flagged") > self.quality_max_flagged, F.lit(FAIL)
                    )
                    .otherwise(F.lit(PASS))
                    .alias("verdict"),
                    F.concat(
                        F.lit("flagged="), F.col("flagged").cast("string")
                    ).alias("observed"),
                    F.lit(f"flagged<={self.quality_max_flagged}").alias("expected"),
                )
            )
            failed_parts = failed_parts.unionByName(q_parts)

        if self.pixel_drift:
            from bigdime_spark.operators.drift import PSI_FAIL
            from bigdime_spark.schema import NOT_READY, PASS

            # the raw snapshot's per-part pixel histograms join the
            # suite's persisted stats frame (stat__pixels__hist — the
            # same shape as the B9 arrays), so the `drift` CLI scores
            # CROSS-RUN image drift between two runs' stats with zero
            # rescan and zero re-decode
            ctx.extras["pixel_stats_frame"] = pixel_stats_frame(
                pixel_src, "raw", self.pixel_bins
            )
            d = pixel_drift(pixel_src, self.pixel_bins)
            not_ready = (
                (F.col("n") == 0) | (F.col("m") == 0) | F.col("ks_d").isNull()
            )
            # same two-family explode DriftCheck uses — one plan, both
            # verdicts; parts with pixels on neither side are absent
            # here and grid-fill PASS (DriftCheck's convention for
            # all-null drift columns)
            ks_struct = F.struct(
                F.lit("drift_ks.pixels").alias("constraint"),
                F.when(not_ready, F.lit(NOT_READY))
                .when(F.col("ks_d") <= F.col("ks_threshold"), F.lit(PASS))
                .otherwise(F.lit(FAIL))
                .alias("verdict"),
                F.concat(
                    F.lit("D="), F.round("ks_d", 6).cast("string")
                ).alias("observed"),
                F.concat(
                    F.lit("D<="), F.round("ks_threshold", 6).cast("string")
                ).alias("expected"),
            )
            psi_struct = F.struct(
                F.lit("drift_psi.pixels").alias("constraint"),
                F.when(not_ready, F.lit(NOT_READY))
                .when(F.col("psi") < PSI_FAIL, F.lit(PASS))
                .otherwise(F.lit(FAIL))
                .alias("verdict"),
                F.concat(
                    F.lit("psi="), F.round("psi", 6).cast("string")
                ).alias("observed"),
                F.lit(f"psi<{PSI_FAIL}").alias("expected"),
            )
            pixel_verdicts = d.select(
                "part", F.explode(F.array(ks_struct, psi_struct)).alias("v")
            ).select("part", "v.constraint", "v.verdict", "v.observed", "v.expected")
            failed_parts = failed_parts.unionByName(pixel_verdicts)

        if self.rate_gate is not None:
            from bigdime_spark.operators.infer import sampled_rate_gate
            from bigdime_spark.operators.sampling import (
                sample_hash,
                threshold_for_rate,
            )

            from bigdime_spark.schema import NOT_READY, PASS

            max_rate, z = self.rate_gate
            if strat_thr is not None:
                # STRATIFIED gate (C77): certification per (part,
                # stratum) — each stratum is a uniform sample of
                # itself, so Wilson applies cleanly (a part-level
                # estimate over mixed rates would need stratum
                # weighting). ONE pruned scan (id + part + stratum)
                # re-joins the broadcast thresholds; k recovers the
                # stratum of each bad row by broadcasting the BOUNDED
                # bad-id set back onto the same scan.
                from pyspark.sql import Window

                from bigdime_spark.operators.infer import _nskey

                s = self.sample_stratify
                # null-safe keys: a NULL stratum is a real segment (the
                # C72 convention) and must be counted, not dropped by
                # an equi-join
                thr = strat_thr["raw"].select(
                    _nskey(F.col("part")).alias("_pk"),
                    _nskey(F.col(s)).alias("_sk"),
                    F.col("threshold"),
                )
                # bad rows keyed by (image_id, part): a duplicated
                # image_id in another part must not inherit this
                # part's failure (the bad frame carries its own part)
                bad_ids = (
                    bad.filter(F.col("snapshot") == "raw")
                    .select("image_id", F.col("part").cast("string").alias("_bp"))
                    .distinct()
                    .withColumn("_bad", F.lit(True))
                )
                pruned = ctx.raw.select(
                    "image_id",
                    F.col("part"),
                    F.col(s),
                    _nskey(F.col("part")).alias("_pk"),
                    _nskey(F.col(s)).alias("_sk"),
                    F.col("part").cast("string").alias("_bp"),
                )
                kept = sample_hash(
                    F.col("image_id"), self.sample_seed
                ) < F.col("threshold")
                counts = (
                    pruned.join(F.broadcast(thr), ["_pk", "_sk"])
                    .join(F.broadcast(bad_ids), ["image_id", "_bp"], "left")
                    .groupBy("part", s)
                    .agg(
                        F.count_if(kept).alias("n"),
                        F.count_if(kept & F.col("_bad").isNotNull()).alias("k"),
                    )
                )
                gate = sampled_rate_gate(counts, max_rate, z)
                # fold strata → one part verdict; worst stratum named
                # (FAIL first, then NOT_READY, then highest ci_lo)
                sev = (
                    F.when(F.col("verdict") == FAIL, 2)
                    .when(F.col("verdict") == NOT_READY, 1)
                    .otherwise(0)
                )
                w = Window.partitionBy("part").orderBy(
                    F.desc("_sev"), F.desc_nulls_last("ci_lo"), F.asc(s)
                )
                gate_verdicts = (
                    gate.withColumn("_sev", sev)
                    .withColumn("_rk", F.row_number().over(w))
                    .groupBy("part")
                    .agg(
                        F.count(F.lit(1)).alias("_strata"),
                        F.count_if(F.col("verdict") == FAIL).alias("_f"),
                        F.count_if(F.col("verdict") == NOT_READY).alias("_nr"),
                        F.first(
                            F.when(
                                F.col("_rk") == 1,
                                F.concat(
                                    F.coalesce(F.col(s), F.lit("∅")),
                                    F.lit(":k="), F.col("k").cast("string"),
                                    F.lit(",n="), F.col("n").cast("string"),
                                    F.lit(",ci=["),
                                    F.coalesce(
                                        F.round("ci_lo", 6).cast("string"),
                                        F.lit("null"),
                                    ),
                                    F.lit(","),
                                    F.coalesce(
                                        F.round("ci_hi", 6).cast("string"),
                                        F.lit("null"),
                                    ),
                                    F.lit("]"),
                                ),
                            ),
                            ignorenulls=True,
                        ).alias("_worst"),
                    )
                    .select(
                        F.col("part").cast("string").alias("part"),
                        F.lit("decode_rate").alias("constraint"),
                        F.when(F.col("_f") > 0, F.lit(FAIL))
                        .when(F.col("_nr") > 0, F.lit(NOT_READY))
                        .otherwise(F.lit(PASS))
                        .alias("verdict"),
                        F.concat(
                            F.lit("strata="), F.col("_strata").cast("string"),
                            F.lit(",fail="), F.col("_f").cast("string"),
                            F.lit(",not_ready="), F.col("_nr").cast("string"),
                            F.lit(", worst "), F.col("_worst"),
                        ).alias("observed"),
                        F.lit(f"rate<={max_rate}@z={z} per {s}").alias("expected"),
                    )
                )
            else:
                # n sampled per part: ONE pruned scan (image_id + part
                # — the payload column is never read) re-evaluating the
                # same hash keep-predicate the decode sample used; at
                # rate 1.0 the predicate keeps everything and the gate
                # degrades to an exact-rate check with a (conservative)
                # Wilson wrap. Every part of the raw snapshot appears,
                # so parts with no sampled rows report NOT_READY
                # instead of being grid-filled PASS.
                kept_pred = sample_hash(
                    F.col("image_id"), self.sample_seed
                ) < F.lit(threshold_for_rate(self.sample_rate))
                n_per_part = ctx.raw.groupBy("part").agg(
                    F.count_if(kept_pred).alias("n")
                )
                # k bad per part among the sample: the persisted
                # bounded bad-row frame (raw snapshot — the gate
                # certifies the input table; curated decode keeps its
                # exact verdict)
                k_per_part = (
                    bad.filter(F.col("snapshot") == "raw")
                    .groupBy("part")
                    .agg(F.count(F.lit(1)).alias("k"))
                )
                counts = n_per_part.join(k_per_part, "part", "left").select(
                    "part", "n", F.coalesce("k", F.lit(0)).alias("k")
                )
                gate = sampled_rate_gate(counts, max_rate, z)
                gate_verdicts = gate.select(
                    F.col("part").cast("string").alias("part"),
                    F.lit("decode_rate").alias("constraint"),
                    "verdict",
                    F.concat(
                        F.lit("k="), F.col("k").cast("string"),
                        F.lit(",n="), F.col("n").cast("string"),
                        F.lit(",ci=["),
                        F.coalesce(
                            F.round("ci_lo", 6).cast("string"), F.lit("null")
                        ),
                        F.lit(","),
                        F.coalesce(
                            F.round("ci_hi", 6).cast("string"), F.lit("null")
                        ),
                        F.lit("]"),
                    ).alias("observed"),
                    F.lit(f"rate<={max_rate}@z={z}").alias("expected"),
                )
            failed_parts = failed_parts.unionByName(gate_verdicts)

        # partial frame: suite grid join fills the PASS rows (pass 6)
        return failed_parts, violations

    def verdict_names(self) -> list[str]:
        names = [_constraint_name(s) for s in self.snapshots]
        if self._quality_spec is not None:
            names += [
                "image_quality" if s == "raw" else f"image_quality.{s}"
                for s in self.snapshots
            ]
        if self.pixel_drift:
            names += ["drift_ks.pixels", "drift_psi.pixels"]
        if self.rate_gate is not None:
            names.append("decode_rate")
        return names
