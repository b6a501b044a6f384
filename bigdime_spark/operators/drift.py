"""KS + PSI distribution drift, raw vs curated (SURVEY B18/B19).

BASELINE.json:6,14: "KS/PSI distribution-drift tests on width/height/
phash histograms". Spark's only KS primitive is one-sample-vs-
theoretical (pyspark.ml.stat.KolmogorovSmirnovTest), so the
two-sample statistic is built from binned ECDFs:

    D = max_b | ECDF_raw(b) − ECDF_cur(b) |   over shared fixed bins
    reject at α=0.05 when D > 1.358·√((n+m)/(n·m))

Binned KS under-estimates the exact D by at most one bin width of
probability mass (documented bound, SURVEY §7). PSI over the same
bins with ε-smoothing; industry convention PASS < 0.10 ≤ WARN < 0.25
≤ FAIL.

Plan shape: one (part, bucket) hash-agg per snapshot (map-side
partial), a full-outer join on tiny histogram relations (≤ parts ×
(nbins+2) rows), window cumsums — all driver-light, all JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.functions.histograms import bucket_col
from bigdime_spark.operators.base import SuiteContext, TableConstraint
from bigdime_spark.schema import FAIL, NOT_READY, PASS

KS_ALPHA_COEFF = 1.358  # c(α) at α = 0.05
PSI_FAIL = 0.25
PSI_EPS = 1e-6


@dataclass
class DriftColumn:
    column: str
    lo: float
    hi: float
    nbins: int = 32


DEFAULT_DRIFT_COLUMNS = (
    DriftColumn("w", 0.0, 256.0, 32),
    DriftColumn("h", 0.0, 256.0, 32),
    DriftColumn("phash", -9.3e18, 9.3e18, 64),
)


def _melted_histogram(
    df: DataFrame, specs: tuple[DriftColumn, ...], cnt_alias: str
) -> DataFrame:
    """ALL drift columns in ONE scan: melt (column, bucket, nbins)
    structs, explode, one (part, column, bucket) hash-agg. At scale
    this replaces len(specs) full scans+shuffles with one of each."""
    structs = [
        F.struct(
            F.lit(s.column).alias("column"),
            bucket_col(F.col(s.column).cast("double"), s.lo, s.hi, s.nbins).alias("bucket"),
            F.lit(s.nbins).alias("nbins"),
        )
        for s in specs
    ]
    return (
        df.select("part", F.explode(F.array(*structs)).alias("mb"))
        .select("part", "mb.column", "mb.bucket", "mb.nbins")
        .where(F.col("bucket").isNotNull())
        .groupBy("part", "column", "bucket")
        .agg(F.count(F.lit(1)).alias(cnt_alias), F.first("nbins").alias(f"_nb_{cnt_alias}"))
    )


def two_sample_drift_multi(
    raw: DataFrame, curated: DataFrame, specs: tuple[DriftColumn, ...]
) -> DataFrame:
    """→ one row per (part, column): (part, column, ks_d, ks_threshold,
    psi, n, m). One scan + one shuffle per snapshot, however many
    columns are being tested."""
    hr = _melted_histogram(raw, specs, "cnt_r")
    hc = _melted_histogram(curated, specs, "cnt_c")
    return _score_histograms(hr, hc)


def _melt_stats_histograms(stats: DataFrame, cnt_alias: str) -> DataFrame:
    """Melt the dense ``stat__<col>__hist`` bucket-count arrays of a
    persisted stats frame (operators/stats.ColumnProfile.histogram)
    into the same sparse (part, column, bucket, cnt) shape
    _melted_histogram produces from raw data. Zero-count buckets are
    dropped so the downstream full-outer join — and therefore every
    KS/PSI value — is IDENTICAL to scanning the snapshots directly
    (PSI's ε-smoothing is sensitive to which buckets the join keeps)."""
    hist_cols = [c for c in stats.columns if c.endswith("__hist")]
    if not hist_cols:
        raise ValueError(
            "stats frame has no stat__<col>__hist columns — was the "
            "profile run with histogram=(lo, hi, nbins) columns?"
        )
    structs = [
        F.struct(
            F.lit(c[len("stat__"): -len("__hist")]).alias("column"),
            F.col(c).alias("counts"),
        )
        for c in hist_cols
    ]
    return (
        stats.select("part", F.explode(F.array(*structs)).alias("mb"))
        .select(
            "part",
            F.col("mb.column").alias("column"),
            (F.size("mb.counts") - 2).alias("nbins"),
            F.posexplode("mb.counts").alias("bucket", "cnt"),
        )
        .where(F.col("cnt") > 0)
        .select(
            "part",
            "column",
            "bucket",
            F.col("cnt").alias(cnt_alias),
            F.col("nbins").alias(f"_nb_{cnt_alias}"),
        )
    )


def _validate_stats_frame(
    stats: DataFrame, side: str, table_level: bool
) -> dict[str, str]:
    """ONE eager aggregate per stats frame covering every refusal
    guard, returning the column → "lo:hi:nbins" spec map (empty when
    the frame predates spec persistence or has no rows). Guards:

    - duplicate per-part rows (would silently double histogram counts)
      — detected as count(*) ≠ count_distinct(part); the per-part
      detail query runs only on the failure path
    - spec variance WITHIN the frame, validated across ALL rows: a
      stats table that accumulated several runs, or parts profiled
      under different specs, must not slip past on the strength of row
      one. collect_set drops NULLs, so spec-less rows (a
      pre-spec-persistence run mixed in) are counted separately — one
      non-null spec must not make a mixed-era union look uniform
    - under ``table_level``: per-column bucket-array length variance
      (collect_set(size(hist))) — a SPEC-LESS frame whose parts were
      profiled with different nbins has no spec column to catch it,
      and summing bucket id 5 of a 32-bin part into bucket id 5 of a
      64-bin part is confidently wrong. size(NULL array) is NULL and
      collect_set drops it, matching the melted form where a NULL
      array explodes to nothing.

    Fused into one job because the caller may hand us an
    INLINE-COMPUTED stats frame (the contract queries do): each guard
    as its own job re-executes the whole upstream aggregation, tripling
    driver-side latency; on persisted parts-sized frames the fusion is
    merely tidy."""
    spec_cols = [c for c in stats.columns if c.endswith("__hist_spec")]
    hist_cols = [c for c in stats.columns if c.endswith("__hist")]
    aggs = [
        F.count(F.lit(1)).alias("_rows"),
        # count_distinct drops NULLs, but groupBy (which built the
        # stats frame) keeps a NULL-part group — count it as one part
        # or a frame with a legitimate NULL-part row is spuriously
        # refused as "duplicate rows"
        F.count_distinct(F.col("part")).alias("_parts"),
        F.coalesce(
            F.max(F.col("part").isNull().cast("int")), F.lit(0)
        ).alias("_null_parts"),
    ]
    for c in spec_cols:
        aggs.append(F.collect_set(c).alias(c))
        aggs.append(F.count_if(F.col(c).isNull()).alias(f"_nulls_{c}"))
    if table_level:
        for c in hist_cols:
            aggs.append(F.collect_set(F.size(c)).alias(f"_size_{c}"))
    row = stats.agg(*aggs).first()
    if row["_rows"] != row["_parts"] + row["_null_parts"]:
        dup = (
            stats.groupBy("part")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        detail = (
            f"has {dup[0]['n']} rows for part '{dup[0]['part']}'"
            if dup
            else f"has {row['_rows']} rows over {row['_parts']} parts"
        )
        raise ValueError(
            f"stats frame '{side}' {detail} — drift_from_stats needs "
            "exactly one row per part (filter to a single run_id first)"
        )
    out: dict[str, str] = {}
    for c in spec_cols:
        col = c[len("stat__"): -len("__hist_spec")]
        vals = sorted(row[c])
        if len(vals) > 1 or (vals and row[f"_nulls_{c}"] > 0):
            raise ValueError(
                f"histogram spec varies WITHIN one stats frame for "
                f"'{col}': {vals} "
                f"(+{row[f'_nulls_{c}']} spec-less rows) — the frame "
                "mixes runs or parts profiled under different "
                "(lo, hi, nbins); filter to a single run before "
                "computing drift"
            )
        if vals:
            out[col] = vals[0]
    if table_level:
        for c in hist_cols:
            col = c[len("stat__"): -len("__hist")]
            if len(row[f"_size_{c}"]) > 1:
                raise ValueError(
                    f"table_level rollup refused: '{side}' has parts "
                    f"profiled with different bin counts for column "
                    f"'{col}' — bucket ids would denote different "
                    "value ranges; re-profile with one (lo, hi, nbins)"
                )
    return out


def drift_from_stats(
    stats_r: DataFrame, stats_c: DataFrame, table_level: bool = False
) -> DataFrame:
    """CROSS-RUN drift with zero data rescan: KS + PSI per
    (part, column) computed from the bucket-count arrays two runs
    persisted in their stats outputs — the histogram analogue of the
    HLL-sketch roll-up (B6). At 10^12 rows the old snapshot never has
    to exist anymore: its few-KB stats rows are enough. Value-exact
    vs two_sample_drift_multi on the original snapshots when both
    profiles used the same (lo, hi, nbins) spec (asserted in tests).
    Each input must hold one row per part (filter to a single run_id
    first when a stats table accumulates runs). Runs profiled with
    DIFFERENT binning specs are refused (bucket ids would denote
    different value ranges → confidently-wrong scores), as are frames
    with duplicate per-part rows (counts would silently double).

    ``table_level=True`` rolls the per-part bucket arrays up to ONE
    whole-table score per column before scoring (part = "*") —
    value-identical to profiling the unpartitioned table directly,
    because fixed-bin counts are additive across parts (the histogram
    analogue of the HLL cross-part roll-up; asserted against the
    direct SQL in the ``drift_table_rollup_orders`` oracle). Still a
    metadata-sized computation: #parts × #columns × nbins rows in,
    #columns rows out."""
    # r6 optimization (guide §5 caching-when-reused): each side feeds
    # one guard job (.first() in _validate_stats_frame) AND the scoring
    # plan below. When the caller hands an INLINE-computed stats frame
    # (the contract queries build histogram_frames on the fly), the
    # un-persisted guard job re-executed the whole upstream
    # scan+aggregate per side. The frames are parts × columns sized
    # metadata, safe to persist at any corpus scale; a no-op when the
    # caller already persisted them (the suite path).
    stats_r = stats_r.persist()
    stats_c = stats_c.persist()
    sa = _validate_stats_frame(stats_r, "stats_r", table_level)
    sb = _validate_stats_frame(stats_c, "stats_c", table_level)
    for col in sorted(set(sa) & set(sb)):
        if sa[col] != sb[col]:
            raise ValueError(
                f"histogram spec mismatch for '{col}': {sa[col]} vs "
                f"{sb[col]} — both runs must profile with the same "
                "(lo, hi, nbins) to be drift-comparable"
            )
    hr = _melt_stats_histograms(stats_r, "cnt_r")
    hc = _melt_stats_histograms(stats_c, "cnt_c")
    if table_level:
        # per-part bucket-array length uniformity was validated inside
        # _validate_stats_frame's single guard job
        hr = (
            hr.groupBy("column", "bucket")
            .agg(
                F.sum("cnt_r").alias("cnt_r"),
                F.first("_nb_cnt_r").alias("_nb_cnt_r"),
            )
            .withColumn("part", F.lit("*"))
        )
        hc = (
            hc.groupBy("column", "bucket")
            .agg(
                F.sum("cnt_c").alias("cnt_c"),
                F.first("_nb_cnt_c").alias("_nb_cnt_c"),
            )
            .withColumn("part", F.lit("*"))
        )
    return _score_histograms(hr, hc)


def _score_histograms(hr: DataFrame, hc: DataFrame) -> DataFrame:
    """Shared drift scoring over two sparse melted histogram relations
    (tiny: ≤ parts × columns × (nbins+2) rows). Four measures per
    (part, column), all from the ONE joined frame — no extra scans:

    - ``ks_d``  — sup-norm ECDF distance (B18), with its α=0.05
      threshold;
    - ``psi``   — ε-smoothed population-stability index (B19);
    - ``w1``    — Wasserstein-1 (earth-mover) distance of the binned
      distributions, IN BUCKET UNITS (multiply by the bin width
      (hi−lo)/nbins for value units). W1 = Σ |ECDF_r − ECDF_c| over
      bucket positions; across a run of absent buckets both ECDFs are
      constant, so the sparse form weights each present row by the
      gap to the next present bucket (``lead``) — identical to the
      dense sum, and the L1 complement to KS's L∞ (a slow uniform
      shift that never exceeds the KS threshold still accumulates W1);
    - ``js``    — Jensen–Shannon divergence (log2 → bounded [0, 1])
      of the UNsmoothed bucket proportions, with the standard
      0·log 0 = 0 convention. Symmetric and finite even on disjoint
      supports, where PSI's smoothing makes the value ε-dependent.
    """
    scored = _scored_buckets(hr, hc)
    return scored.groupBy("part", "column").agg(
        F.max(F.abs(F.col("ecdf_r") - F.col("ecdf_c"))).alias("ks_d"),
        (
            F.lit(KS_ALPHA_COEFF)
            * F.sqrt(F.try_divide(F.first("n") + F.first("m"), F.first("n") * F.first("m")))
        ).alias("ks_threshold"),
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
        F.sum(
            F.abs(F.col("ecdf_r") - F.col("ecdf_c")) * F.coalesce("gap", F.lit(0))
        ).alias("w1"),
        F.sum("js_term").alias("js"),
        F.first("n").alias("n"),
        F.first("m").alias("m"),
    )


def _scored_buckets(hr: DataFrame, hc: DataFrame) -> DataFrame:
    """The shared per-BUCKET frame behind both the aggregate scores
    (_score_histograms) and the bucket-level triage
    (drift_contributions): full-outer join of the two sparse melted
    histograms plus every windowed intermediate (ECDFs, gap run
    lengths, smoothed p/q, JS terms). Metadata-scale throughout —
    ≤ parts × columns × (nbins+2) rows — and every window partitions
    by (part, column), so nothing here ever funnels into a single
    partition however many parts the table has."""
    joined = (
        hr.join(hc, ["part", "column", "bucket"], "full_outer")
        .select(
            "part",
            "column",
            "bucket",
            F.coalesce("cnt_r", F.lit(0)).alias("cnt_r"),
            F.coalesce("cnt_c", F.lit(0)).alias("cnt_c"),
            F.coalesce("_nb_cnt_r", "_nb_cnt_c").alias("nbins"),
        )
    )
    by_key = Window.partitionBy("part", "column")
    by_bucket = by_key.orderBy("bucket")
    cum = by_bucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pr = F.try_divide(F.col("cnt_r"), F.col("n"))
    qr = F.try_divide(F.col("cnt_c"), F.col("m"))
    mid = (pr + qr) / 2
    js_term = F.coalesce(
        F.when(pr > 0, pr * F.log2(pr / mid)).otherwise(F.lit(0.0)), F.lit(0.0)
    ) + F.coalesce(
        F.when(qr > 0, qr * F.log2(qr / mid)).otherwise(F.lit(0.0)), F.lit(0.0)
    )
    return (
        joined.withColumn("n", F.sum("cnt_r").over(by_key))
        .withColumn("m", F.sum("cnt_c").over(by_key))
        .withColumn("ecdf_r", F.try_divide(F.sum("cnt_r").over(cum), F.col("n")))
        .withColumn("ecdf_c", F.try_divide(F.sum("cnt_c").over(cum), F.col("m")))
        # run length until the next present bucket; the final present
        # bucket gets 0 (both ECDFs are 1 there — zero contribution)
        .withColumn(
            "gap", F.lead("bucket", 1, None).over(by_bucket) - F.col("bucket")
        )
        .withColumn("p", (F.col("cnt_r") + PSI_EPS) / (F.col("n") + PSI_EPS * (F.col("nbins") + 2)))
        .withColumn("q", (F.col("cnt_c") + PSI_EPS) / (F.col("m") + PSI_EPS * (F.col("nbins") + 2)))
        .withColumn("js_term", js_term / 2)
    )


def two_sample_drift(raw: DataFrame, curated: DataFrame, spec: DriftColumn) -> DataFrame:
    """Single-column form → one row per part (see two_sample_drift_multi)."""
    return two_sample_drift_multi(raw, curated, (spec,)).drop("column")


def _contribution_select(
    scored: DataFrame, spec_map: dict[str, tuple[float, float, int]]
) -> DataFrame:
    """Project the shared per-bucket frame into the triage shape,
    annotating each bucket with its VALUE bounds from the (lo, hi,
    nbins) spec — bucket 0 (underflow) gets lo NULL, bucket nbins+1
    (overflow) gets hi NULL, columns with no known spec get both NULL.
    The additivity invariants are by construction (and under test):
    Σ psi_term == psi, Σ js_term == js, max ecdf_gap == ks_d,
    Σ ecdf_gap·gap == w1 of the aggregate scorer."""
    lo_expr: Column = F.lit(None).cast("double")
    hi_expr: Column = F.lit(None).cast("double")
    for name, (lo_s, hi_s, nb) in sorted(spec_map.items()):
        width = (hi_s - lo_s) / nb
        b = F.col("bucket")
        lo_expr = F.when(
            F.col("column") == name,
            F.when(b == 0, F.lit(None).cast("double")).otherwise(
                F.lit(lo_s) + (b - 1) * F.lit(width)
            ),
        ).otherwise(lo_expr)
        hi_expr = F.when(
            F.col("column") == name,
            F.when(b == nb + 1, F.lit(None).cast("double")).otherwise(
                F.lit(lo_s) + b * F.lit(width)
            ),
        ).otherwise(hi_expr)
    share_r = F.try_divide(F.col("cnt_r"), F.col("n"))
    share_c = F.try_divide(F.col("cnt_c"), F.col("m"))
    return scored.select(
        "part",
        "column",
        "bucket",
        lo_expr.alias("lo"),
        hi_expr.alias("hi"),
        "cnt_r",
        "cnt_c",
        share_r.alias("share_r"),
        share_c.alias("share_c"),
        (share_c - share_r).alias("delta_share"),
        F.abs(F.col("ecdf_r") - F.col("ecdf_c")).alias("ecdf_gap"),
        ((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi_term"),
        "js_term",
    )


def drift_contributions(
    raw: DataFrame, curated: DataFrame, specs: tuple[DriftColumn, ...]
) -> DataFrame:
    """Bucket-level drift TRIAGE (round-5, SURVEY C70): WHICH value
    ranges drive a failing KS/PSI verdict. The aggregate family (B18/
    B19) answers "column w of part p drifted, psi=0.41" — unactionable
    at 10^12 rows without knowing WHERE the mass moved; this emits one
    row per (part, column, observed bucket) with the bucket's value
    bounds, both shares, and each score's per-bucket summand, so the
    triage reads "the [192, 200) width bucket gained 9× mass and
    carries 0.38 of the 0.41 PSI" — the drift analogue of the C69
    violation-slice lift.

    Same inputs, same ONE melted scan per snapshot, same full-outer
    join as two_sample_drift_multi — the per-bucket frame this
    projects IS the intermediate the aggregate scorer folds, so the
    additivity invariants hold exactly (see _contribution_select).
    Output is metadata-scale (≤ parts × columns × (nbins+2) rows) at
    any corpus size."""
    hr = _melted_histogram(raw, specs, "cnt_r")
    hc = _melted_histogram(curated, specs, "cnt_c")
    spec_map = {s.column: (s.lo, s.hi, s.nbins) for s in specs}
    return _contribution_select(_scored_buckets(hr, hc), spec_map)


def drift_contributions_from_stats(
    stats_r: DataFrame, stats_c: DataFrame
) -> DataFrame:
    """drift_contributions over two runs' PERSISTED stats frames —
    the zero-rescan twin (the C18 pattern): the bucket triage for a
    cross-run drift failure needs only the few-KB histogram arrays
    both runs already wrote, never the snapshots. Value-identical to
    drift_contributions on the original data under the same (lo, hi,
    nbins) spec (asserted in tests). Same refusal guards as
    drift_from_stats: duplicate per-part rows, spec variance within a
    frame, spec mismatch across frames. Columns whose frames predate
    spec persistence score normally but carry NULL value bounds."""
    sa = _validate_stats_frame(stats_r, "stats_r", False)
    sb = _validate_stats_frame(stats_c, "stats_c", False)
    for col in sorted(set(sa) & set(sb)):
        if sa[col] != sb[col]:
            raise ValueError(
                f"histogram spec mismatch for '{col}': {sa[col]} vs "
                f"{sb[col]} — both runs must profile with the same "
                "(lo, hi, nbins) to be drift-comparable"
            )
    spec_map: dict[str, tuple[float, float, int]] = {}
    for col in set(sa) & set(sb):
        lo_s, hi_s, nb = sa[col].split(":")
        spec_map[col] = (float(lo_s), float(hi_s), int(nb))
    hr = _melt_stats_histograms(stats_r, "cnt_r")
    hc = _melt_stats_histograms(stats_c, "cnt_c")
    return _contribution_select(_scored_buckets(hr, hc), spec_map)


def top_drift_buckets(contrib: DataFrame, k: int = 5) -> DataFrame:
    """The deterministic triage ranking over a contribution frame:
    per (part, column), the k buckets with the largest |psi_term|
    (ties: larger ecdf_gap, then smaller bucket id), rank attached.
    The window partitions by (part, column) over a metadata-scale
    frame — never a global sort."""
    if k < 1:
        raise ValueError(f"top_drift_buckets: k must be >= 1, got {k}")
    w = Window.partitionBy("part", "column").orderBy(
        F.desc(F.abs(F.col("psi_term"))), F.desc("ecdf_gap"), F.asc("bucket")
    )
    return (
        contrib.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_drift(
    raw: DataFrame,
    curated: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    nproj: int = 8,
    lo: float = -4.0,
    hi: float = 4.0,
    nbins: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Distribution drift of an EMBEDDING column (round-5): project
    both snapshots onto ``nproj`` seeded Gaussian hyperplanes
    (similarity.hyperplane_planes — the same md5/Box–Muller literals
    the ANN oracle uses) and run the full KS/PSI/W1/JS battery on each
    1-D projection via the shared melted-histogram plan.

    Why projections: a 10^12 × dim embedding table has no tractable
    exact distribution test, but by Cramér–Wold the joint
    distribution is characterized by its 1-D projections — a shifted
    cluster, a collapsed encoder, or a renormalized embedding space
    moves at least some random projections, and each projection is a
    plain numeric drift column. With ~unit-norm embeddings the
    projection is ~N(0, 1), so the default ±4 range catches the mass
    and the under/overflow buckets keep the tails honest.

    Plan: the nproj dot products are JVM higher-order-function
    expressions added to the scan projection; the melted histogram
    then costs ONE scan + one (part, proj, bucket) hash-agg per
    snapshot — same shape as any multi-column drift, independent of
    nproj row-wise. → (part, column='proj_<i>', ks_d, ks_threshold,
    psi, w1, js, n, m)."""
    from bigdime_spark.operators.similarity import dot_col, hyperplane_planes

    planes = hyperplane_planes(dim, nproj, seed)

    def project(df: DataFrame) -> DataFrame:
        out = df
        for i, p in enumerate(planes):
            arr = F.array(*[F.lit(float(x)) for x in p])
            # round-6 before bucketing — the same cross-engine
            # determinism discipline as hyperplane_signature's
            # round-9-before-sign: a 1-ulp fold difference must not
            # flip a histogram bucket
            out = out.withColumn(
                f"_eproj{i}", F.round(dot_col(F.col(vec_col), arr), 6)
            )
        return out

    specs = tuple(
        DriftColumn(f"_eproj{i}", lo, hi, nbins) for i in range(len(planes))
    )
    d = two_sample_drift_multi(project(raw), project(curated), specs)
    return d.withColumn(
        "column", F.regexp_replace("column", "^_eproj", "proj_")
    )


def categorical_drift(
    raw: DataFrame,
    curated: DataFrame,
    cols: tuple[str, ...] | list[str],
    part_col: str = "part",
) -> DataFrame:
    """Two-sample drift for CATEGORICAL columns (fmt, source, priority
    strings …) where binned ECDFs are meaningless — measures over EXACT
    per-value counts instead of fixed bins.

    → one row per (part, column): (part, column, psi, js, chi2, n, m,
    n_cats) where

    - ``psi``  — ε-smoothed over the union of observed categories
      (denominator uses the per-(part, column) category count, the
      categorical analogue of the nbins+2 term);
    - ``js``   — Jensen–Shannon divergence (log2 → [0, 1]),
      unsmoothed, 0·log 0 = 0;
    - ``chi2`` — the two-sample chi-square statistic
      Σ (√(m/n)·c_r − √(n/m)·c_c)² / (c_r + c_c) over categories
      (Press et al., *Numerical Recipes* §14.3 "chstwo", public
      formula) — classical significance thresholds apply at
      df = n_cats − 1;
    - ``n_cats`` — size of the union support (drift in the support
      itself — a new fmt appearing — shows up here even at tiny mass).

    NULL values are excluded (the not-null validator owns absence).

    Plan shape at 10^12 rows: one (part, column, value) hash-agg per
    snapshot with map-side partials — the exchange carries distinct
    values, not rows — then a full-outer join + windows over the tiny
    (parts × columns × cardinality) relation. Low-cardinality columns
    are exactly where exact value counts stay small; for genuinely
    high-cardinality keys use the numeric hash-histogram path
    (DriftColumn over xxhash64) instead.
    """
    def melt(df: DataFrame, alias: str) -> DataFrame:
        structs = [
            F.struct(
                F.lit(c).alias("column"),
                F.col(c).cast("string").alias("value"),
            )
            for c in cols
        ]
        return (
            df.select(F.col(part_col).alias("part"), F.explode(F.array(*structs)).alias("mv"))
            .select("part", "mv.column", "mv.value")
            .where(F.col("value").isNotNull())
            .groupBy("part", "column", "value")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    joined = (
        melt(raw, "cnt_r")
        .join(melt(curated, "cnt_c"), ["part", "column", "value"], "full_outer")
        .select(
            "part",
            "column",
            "value",
            F.coalesce("cnt_r", F.lit(0)).alias("cnt_r"),
            F.coalesce("cnt_c", F.lit(0)).alias("cnt_c"),
        )
    )
    by_key = Window.partitionBy("part", "column")
    pr = F.try_divide(F.col("cnt_r"), F.col("n"))
    qr = F.try_divide(F.col("cnt_c"), F.col("m"))
    mid = (pr + qr) / 2
    js_term = (
        F.coalesce(
            F.when(pr > 0, pr * F.log2(pr / mid)).otherwise(F.lit(0.0)), F.lit(0.0)
        )
        + F.coalesce(
            F.when(qr > 0, qr * F.log2(qr / mid)).otherwise(F.lit(0.0)), F.lit(0.0)
        )
    ) / 2
    k1 = F.sqrt(F.try_divide(F.col("m"), F.col("n")))
    k2 = F.sqrt(F.try_divide(F.col("n"), F.col("m")))
    chi2_term = F.try_divide(
        F.pow(k1 * F.col("cnt_r") - k2 * F.col("cnt_c"), F.lit(2.0)),
        (F.col("cnt_r") + F.col("cnt_c")).cast("double"),
    )
    scored = (
        joined.withColumn("n", F.sum("cnt_r").over(by_key))
        .withColumn("m", F.sum("cnt_c").over(by_key))
        .withColumn("n_cats", F.count(F.lit(1)).over(by_key))
        .withColumn(
            "p",
            (F.col("cnt_r") + PSI_EPS) / (F.col("n") + PSI_EPS * F.col("n_cats")),
        )
        .withColumn(
            "q",
            (F.col("cnt_c") + PSI_EPS) / (F.col("m") + PSI_EPS * F.col("n_cats")),
        )
        .withColumn("js_term", js_term)
        .withColumn("chi2_term", chi2_term)
    )
    return scored.groupBy("part", "column").agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
        F.sum("js_term").alias("js"),
        F.sum("chi2_term").alias("chi2"),
        F.first("n").alias("n"),
        F.first("m").alias("m"),
        F.first("n_cats").alias("n_cats"),
    )


def mask_drift(
    raw: DataFrame,
    curated: DataFrame,
    cols: tuple[str, ...] | list[str],
    part_col: str = "part",
    squeeze: bool = False,
) -> DataFrame:
    """Format-mask drift — :func:`categorical_drift` measured over
    VALUE MASKS instead of values (the run-over-run gating form of
    ``mask_profile``): translate each column to its format mask
    (``stats.mask_col``) and score the mask distributions. The right
    tool for HIGH-cardinality id/code columns, where raw categorical
    drift is meaningless (every id unique on both sides) but the
    format population is tiny and a producer switching schemes moves
    it massively — psi/js explode and a brand-new scheme shows in
    n_cats even at sliver mass. Same output row shape and exclusions
    as categorical_drift; the translation is row-local codegen, so
    the plan is byte-identical in shape (two melt-aggs whose exchange
    now carries distinct masks — strictly smaller than values)."""
    from bigdime_spark.operators.stats import mask_col

    def translate(df: DataFrame) -> DataFrame:
        return df.withColumns(
            {c: mask_col(F.col(c), squeeze=squeeze) for c in cols}
        )

    return categorical_drift(translate(raw), translate(curated), cols, part_col)


class DriftCheck(TableConstraint):
    """Emits two verdict families per column: drift_ks.<col>, drift_psi.<col>.

    All columns share ONE melted histogram plan (two_sample_drift_multi);
    verdict assembly is pure column arithmetic over the tiny
    (part × column) drift frame — no per-column re-scan."""

    def __init__(self, specs: tuple[DriftColumn, ...] = DEFAULT_DRIFT_COLUMNS):
        self.specs = specs
        self.name = "drift"

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, None]:
        drift = two_sample_drift_multi(ctx.raw, ctx.curated, self.specs)
        not_ready = (F.col("n") == 0) | (F.col("m") == 0) | F.col("ks_d").isNull()
        # ks + psi verdicts come out of ONE explode over the drift frame —
        # a union of two selects would execute the whole drift plan twice
        ks_struct = F.struct(
            F.concat(F.lit("drift_ks."), F.col("column")).alias("constraint"),
            F.when(not_ready, F.lit(NOT_READY))
            .when(F.col("ks_d") <= F.col("ks_threshold"), F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(F.lit("D="), F.round("ks_d", 6).cast("string")).alias("observed"),
            F.concat(F.lit("D<="), F.round("ks_threshold", 6).cast("string")).alias("expected"),
        )
        psi_struct = F.struct(
            F.concat(F.lit("drift_psi."), F.col("column")).alias("constraint"),
            F.when(not_ready, F.lit(NOT_READY))
            .when(F.col("psi") < PSI_FAIL, F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(F.lit("psi="), F.round("psi", 6).cast("string")).alias("observed"),
            F.lit(f"psi<{PSI_FAIL}").alias("expected"),
        )
        found = drift.select(
            "part", F.explode(F.array(ks_struct, psi_struct)).alias("v")
        ).select("part", "v.constraint", "v.verdict", "v.observed", "v.expected")
        # partial frame: the suite's shared grid join fills PASS for any
        # (part × drift constraint) missing here (pass 6)
        return found, None

    def verdict_names(self) -> list[str]:
        return [
            f"drift_{kind}.{s.column}" for s in self.specs for kind in ("ks", "psi")
        ]


class CategoricalDriftCheck(TableConstraint):
    """Per-part categorical drift verdicts: drift_cat.<col> FAILs when
    the ε-smoothed PSI over exact value counts crosses the same
    industry threshold the numeric family uses (0.25), with js/chi2/
    n_cats carried in the observed detail. One melted value-count plan
    serves every column (operators/drift.categorical_drift).

    ``masked=True`` measures over format MASKS instead of values
    (:func:`mask_drift`, verdict family ``drift_mask.<col>``) — the
    form for HIGH-cardinality id/code columns where every value is
    unique on both sides but a producer switching schemes moves the
    tiny mask population massively."""

    def __init__(self, cols: tuple[str, ...] = ("fmt",), masked: bool = False):
        self.cols = tuple(cols)
        self.masked = bool(masked)
        self._family = "drift_mask" if self.masked else "drift_cat"
        self.name = self._family

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, None]:
        fn = mask_drift if self.masked else categorical_drift
        d = fn(ctx.raw, ctx.curated, self.cols)
        not_ready = (F.col("n") == 0) | (F.col("m") == 0)
        found = d.select(
            "part",
            F.concat(F.lit(f"{self._family}."), F.col("column")).alias("constraint"),
            F.when(not_ready, F.lit(NOT_READY))
            .when(F.col("psi") < PSI_FAIL, F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(
                F.lit("psi="), F.round("psi", 6).cast("string"),
                F.lit(";js="), F.round("js", 6).cast("string"),
                F.lit(";chi2="), F.round("chi2", 6).cast("string"),
                F.lit(";n_cats="), F.col("n_cats").cast("string"),
            ).alias("observed"),
            F.lit(f"psi<{PSI_FAIL}").alias("expected"),
        )
        return found, None

    def verdict_names(self) -> list[str]:
        return [f"{self._family}.{c}" for c in self.cols]
