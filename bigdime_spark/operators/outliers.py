"""Per-part anomaly detection over persisted per-part stats (SURVEY
§2 extension): flag partitions whose profile metrics sit far outside
the table's own cross-part distribution.

The reference's RecordCountValidator compares a part against a
DECLARED expectation (manifest row counts — B12); at 10^12 rows most
metrics have no declared expectation, so the complementary check is
LEARNED bounds: a part whose row count / null rate / mean is an
outlier against all sibling parts is the one an operator should look
at first (a short file, a corrupted shard, a schema-drifted producer).

Estimator: the Iglewicz–Hoaglin modified z-score over median/MAD —
robust to the outliers it hunts (mean/stddev would be dragged by the
very parts it should flag):

    z = 0.6745 · (x − median) / MAD,   flag |z| > 3.5

Plan shape: the input is a PARTS-sized stats frame (one row per
part), so everything here is metadata-scale at any data size — melt
the chosen metric columns to (part, metric, value), two exact-median
aggregations (median, then MAD over |x − median|), broadcast-join the
#metrics-row summaries back, pure column arithmetic for the score.
Zero rescans of the data the stats describe.

MAD = 0 (≥half the parts share one value) degrades loudly, not
silently: the z-score is NULL (try_divide) and the verdict falls back
to exact inequality — any deviating part is OUTLIER.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import SuiteContext, TableConstraint
from bigdime_spark.schema import FAIL, NOT_READY

#: Iglewicz–Hoaglin consistency constant (0.6745 ≈ Φ⁻¹(0.75)) and
#: their recommended cutoff
MODIFIED_Z_COEFF = 0.6745
DEFAULT_Z_THRESHOLD = 3.5

OUTLIER = "OUTLIER"
OK = "OK"


def robust_part_outliers(
    stats: DataFrame,
    metrics: list[str],
    part_col: str = "part",
    threshold: float = DEFAULT_Z_THRESHOLD,
) -> DataFrame:
    """→ (part, metric, value, med, mad, robust_z, verdict), one row
    per (part × metric), floats rounded to 6 decimals (oracle
    discipline). ``stats`` must hold ONE row per part (the suite's
    persisted stats output, or any per-group profile); ``metrics``
    names numeric columns in it."""
    if not metrics:
        raise ValueError("robust_part_outliers needs at least one metric column")
    missing = [m for m in metrics if m not in stats.columns]
    if missing:
        raise ValueError(f"metric columns not in stats frame: {missing}")
    dtypes = dict(stats.dtypes)
    bad = [
        m
        for m in metrics
        if dtypes[m] not in _NUMERIC_DTYPES
        and not dtypes[m].startswith("decimal")
    ]
    if bad:
        # refuse HERE with a ValueError (the CLI's clean exit-2
        # contract) instead of letting cast("double") throw an
        # AnalysisException/ANSI runtime error mid-plan
        raise ValueError(
            "metric columns must be numeric scalars: "
            + ", ".join(f"{m} is {dtypes[m]}" for m in bad)
        )
    # r6 optimization (guide §5 caching-when-reused): the guard job
    # below plus the melted/median plan reference this frame 3+ times;
    # un-persisted, an INLINE-computed profile (the contract query
    # aggregates lineitem on the fly) re-ran its groupBy per reference.
    # Parts-sized metadata — safe to persist at any corpus scale; a
    # no-op when the caller already persisted (the suite's fused frame).
    stats = stats.persist()
    # ONE eager guard job (parts-sized frame): duplicate per-part rows
    # would skew every median AND emit duplicate score rows — refuse
    # loudly, like drift_from_stats does. A NULL part key counts as
    # one part (count_distinct drops NULLs; groupBy keeps the group).
    row = stats.agg(
        F.count(F.lit(1)).alias("_rows"),
        F.count_distinct(F.col(part_col)).alias("_parts"),
        F.coalesce(
            F.max(F.col(part_col).isNull().cast("int")), F.lit(0)
        ).alias("_null_parts"),
    ).first()
    if row["_rows"] != row["_parts"] + row["_null_parts"]:
        raise ValueError(
            f"stats frame has {row['_rows']} rows over "
            f"{row['_parts'] + row['_null_parts']} parts — "
            "robust_part_outliers needs exactly one row per part "
            "(collapse an append-mode streaming sink with "
            "latest_histograms, or filter to a single run_id, first)"
        )

    melted = stats.select(
        F.col(part_col).alias("part"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        F.col(m).cast("double").alias("value"),
                    )
                    for m in metrics
                ]
            )
        ).alias("mv"),
    ).select("part", "mv.metric", "mv.value")

    med = melted.groupBy("metric").agg(F.percentile("value", 0.5).alias("med"))
    dev = melted.join(F.broadcast(med), "metric")
    mad = dev.groupBy("metric").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "metric")

    z = F.lit(MODIFIED_Z_COEFF) * F.try_divide(
        F.col("value") - F.col("med"), F.col("mad")
    )
    return scored.select(
        "part",
        "metric",
        F.round("value", 6).alias("value"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.round(z, 6).alias("robust_z"),
        F.when(F.col("value").isNull(), F.lit(NOT_READY))
        .when(
            F.col("mad") > 0,
            F.when(F.abs(z) > threshold, F.lit(OUTLIER)).otherwise(F.lit(OK)),
        )
        .when(F.col("value") != F.col("med"), F.lit(OUTLIER))
        .otherwise(F.lit(OK))
        .alias("verdict"),
    )


#: dtypes eligible for automatic metric selection (scalar numerics —
#: no sketch blobs, histogram arrays, or spec strings)
_NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def numeric_stat_metrics(stats: DataFrame) -> list[str]:
    """Every numeric SCALAR ``stat__`` column of a stats frame — the
    default metric set for outlier scoring."""
    return [
        name
        for name, dtype in stats.dtypes
        if name.startswith("stat__") and dtype in _NUMERIC_DTYPES
    ]


class ProfileOutliers(TableConstraint):
    """Suite integration: one
    ``profile_outlier.<metric>`` FAIL per flagged (part × metric) out
    of the ALREADY-CACHED fused stats frame (``ctx.extras
    ["fused_stats"]``) — the scorer adds two metadata-scale
    aggregations and ZERO data scans to the run. Parts inside the
    cutoff are omitted; the suite's shared grid join fills PASS.
    NULL metrics surface as NOT_READY (a part whose profile could not
    be computed is exactly the part to look at)."""

    def __init__(
        self,
        metrics: list[str] | None = None,
        threshold: float = DEFAULT_Z_THRESHOLD,
    ):
        self.metrics = metrics
        self.threshold = threshold
        self.name = "profile_outlier"
        self._resolved: list[str] = list(metrics or [])

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, None]:
        fused = ctx.extras["fused_stats"]
        self._resolved = self.metrics or numeric_stat_metrics(fused)
        scores = robust_part_outliers(
            fused, self._resolved, threshold=self.threshold
        )
        found = scores.filter(F.col("verdict") != OK).select(
            "part",
            F.concat(F.lit("profile_outlier."), F.col("metric")).alias("constraint"),
            F.when(F.col("verdict") == NOT_READY, F.lit(NOT_READY))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(
                F.lit("z="),
                F.coalesce(F.col("robust_z").cast("string"), F.lit("null")),
                F.lit(" value="),
                F.coalesce(F.col("value").cast("string"), F.lit("null")),
            ).alias("observed"),
            F.concat(
                F.lit(f"|z|<={self.threshold} (med="),
                F.coalesce(F.col("med").cast("string"), F.lit("null")),
                F.lit(" mad="),
                F.coalesce(F.col("mad").cast("string"), F.lit("null")),
                F.lit(")"),
            ).alias("expected"),
        )
        return found, None

    def verdict_names(self) -> list[str]:
        return [f"profile_outlier.{m}" for m in self._resolved]


ANOMALY = "ANOMALY"


def _melted_history(
    caller: str, history: DataFrame, metrics: list[str], part_col: str
) -> DataFrame:
    """Shared cross-run-history front door for :func:`metric_trend`
    and :func:`metric_zscore`: validates the run_id-stamped frame
    (guards below) and melts it to (run_id, part, metric, value
    double) — one row-local explode, no shuffle. Guards: run_id
    column present; metrics non-empty, present, numeric scalars;
    duplicate (run_id, part) rows refused loudly (they make every
    per-run value ambiguous)."""
    if "run_id" not in history.columns:
        raise ValueError(
            f"{caller}: history frame has no run_id column — pass "
            "a union of run_id-stamped stats outputs"
        )
    if not metrics:
        raise ValueError(f"{caller} needs at least one metric column")
    missing = [m for m in metrics if m not in history.columns]
    if missing:
        raise ValueError(f"metric columns not in history frame: {missing}")
    dtypes = dict(history.dtypes)
    bad = [
        m
        for m in metrics
        if dtypes[m] not in _NUMERIC_DTYPES and not dtypes[m].startswith("decimal")
    ]
    if bad:
        raise ValueError(
            "metric columns must be numeric scalars: "
            + ", ".join(f"{m} is {dtypes[m]}" for m in bad)
        )
    # r6: persist the runs×parts-sized history so the guard job and the
    # downstream melt/window plan share one materialization (an inline-
    # built history otherwise recomputed its feeder per reference).
    history = history.persist()
    guard = history.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct("run_id", F.col(part_col))).alias("d"),
    ).first()
    if guard["n"] != guard["d"]:
        raise ValueError(
            f"{caller}: {guard['n']} rows over {guard['d']} distinct "
            "(run_id, part) keys — duplicate stats per run make the "
            "per-run value ambiguous; filter to one row per key"
        )
    return history.select(
        "run_id",
        F.col(part_col).alias("part"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        F.col(m).cast("double").alias("value"),
                    )
                    for m in metrics
                ]
            )
        ).alias("mv"),
    ).select("run_id", "part", "mv.metric", "mv.value")


def _latest_and_priors(melted):
    """Shared latest-vs-priors split for the cross-run scorers
    (metric_zscore, metric_ewma): rank each (part, metric) series by
    run_id descending — row 1 is the run under test, the rest are its
    history. One place owns the ordering/tie convention so the
    siblings cannot silently diverge.
    → (latest[part, metric, run_id, value],
       priors[run_id, part, metric, value])."""
    ranked = melted.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("part", "metric").orderBy(F.desc("run_id"))
        ),
    )
    latest = ranked.filter(F.col("_rn") == 1).select(
        "part", "metric", "run_id", "value"
    )
    priors = ranked.filter(F.col("_rn") > 1).select(
        "run_id", "part", "metric", "value"
    )
    return latest, priors


def metric_trend(
    history: DataFrame,
    metrics: list[str],
    part_col: str = "part",
    max_rel_change: float = 0.5,
) -> DataFrame:
    """Run-over-run metric ANOMALY detection — the cross-RUN twin of
    :func:`robust_part_outliers` (which scores across parts within one
    run) and the metric-level twin of ``verdict_history`` (which needs
    a verdict to already exist; this catches the drift BEFORE any
    declared check fails). deequ's RelativeRateOfChange strategy: per
    (part, metric), the LATEST run's value against the previous run's,

        rel_change = |value − prev| / |prev|

    flagged when above ``max_rel_change``. A row count quietly
    shrinking 60% run-over-run passes every within-run check — only
    the run axis shows it.

    → (part, metric, run_id, value, prev_run_id, prev_value,
       rel_change, verdict) with verdict ∈ OK / ANOMALY / NOT_READY.
    Conventions: fewer than two observations, or a NULL latest value →
    NOT_READY (undefined, never a silent OK); prev == 0 with a nonzero
    latest is an infinite rate — ANOMALY with rel_change NULL; 0 → 0
    is OK. Run order is lexicographic ``run_id`` (sortable ids — the
    same contract as verdict_history); duplicate (run_id, part) rows
    are refused loudly.

    ``history`` is the union of run_id-stamped per-part stats frames —
    the CLI stamps ``run_id`` on every written ``<out>/stats``, so
    runs concatenate into exactly this shape. Everything is
    runs × parts × metrics sized: one melt, one (part, metric) window,
    metadata-scale at any corpus size."""
    if max_rel_change <= 0:
        raise ValueError(
            f"max_rel_change must be positive, got {max_rel_change}"
        )
    melted = _melted_history("metric_trend", history, metrics, part_col)
    w = Window.partitionBy("part", "metric").orderBy("run_id")
    seq = (
        melted.withColumn("prev_value", F.lag("value").over(w))
        .withColumn("prev_run_id", F.lag("run_id").over(w))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("part", "metric").orderBy(F.desc("run_id"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rel = F.try_divide(
        F.abs(F.col("value") - F.col("prev_value")), F.abs(F.col("prev_value"))
    )
    verdict = (
        F.when(
            F.col("value").isNull() | F.col("prev_run_id").isNull(),
            F.lit(NOT_READY),
        )
        .when(
            (F.col("prev_value") == 0) & (F.col("value") != 0), F.lit(ANOMALY)
        )
        .when(F.col("prev_value").isNull(), F.lit(NOT_READY))
        .when(rel > max_rel_change, F.lit(ANOMALY))
        .otherwise(F.lit(OK))
    )
    return seq.select(
        "part",
        "metric",
        "run_id",
        F.round("value", 6).alias("value"),
        "prev_run_id",
        F.round("prev_value", 6).alias("prev_value"),
        F.round(rel, 6).alias("rel_change"),
        verdict.alias("verdict"),
    )


def metric_zscore(
    history: DataFrame,
    metrics: list[str],
    part_col: str = "part",
    threshold: float = DEFAULT_Z_THRESHOLD,
    min_history: int = 3,
) -> DataFrame:
    """Cross-run robust z-score anomaly detection (C54) — the
    whole-history complement of :func:`metric_trend` (deequ's
    BatchNormalStrategy, made robust): per (part, metric), score the
    LATEST run's value against the median/MAD of ALL prior runs with
    the Iglewicz–Hoaglin modified z-score,

        z = 0.6745 · (x − median(priors)) / MAD(priors)

    flagged ANOMALY when |z| > ``threshold``. The failure mode
    ``metric_trend`` cannot see: a metric drifting 10% per run never
    trips a 50% step gate, but after a few runs it sits far outside
    its own history — and conversely one noisy previous run makes the
    step gate cry wolf while the median shrugs it off.

    → (part, metric, run_id, value, n_history, med, mad, robust_z,
       verdict), verdict ∈ OK / ANOMALY / NOT_READY. Conventions:
    NULL latest value, or fewer than ``min_history`` non-null prior
    observations → NOT_READY (an undefined score is never a silent
    OK; NULL priors are excluded from the baseline, not zero-filled);
    MAD = 0 (half the history shares one value) degrades to exact
    inequality like :func:`robust_part_outliers` — a latest value off
    the constant history is ANOMALY with z NULL, on it is OK. Run
    order is lexicographic ``run_id``; duplicate (run_id, part) rows
    are refused loudly (the ``_melted_history`` contract).

    Plan shape: everything is runs × parts × metrics sized — one melt,
    one (part, metric) window to split latest vs priors, two exact
    median hash-aggregations (median, then MAD over |x − med|) on the
    same key, key-sized joins back. Metadata-scale at any corpus size,
    zero rescans of the data the stats describe."""
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    if min_history < 1:
        raise ValueError(f"min_history must be >= 1, got {min_history}")
    melted = _melted_history("metric_zscore", history, metrics, part_col)
    latest, priors_all = _latest_and_priors(melted)
    priors = priors_all.select("part", "metric", "value")
    med = priors.groupBy("part", "metric").agg(
        F.count("value").alias("n_history"),
        F.percentile("value", 0.5).alias("med"),
    )
    mad = (
        priors.join(med.select("part", "metric", "med"), ["part", "metric"])
        .groupBy("part", "metric")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med")), 0.5).alias("mad"))
    )
    scored = latest.join(med, ["part", "metric"], "left").join(
        mad, ["part", "metric"], "left"
    )
    z = F.lit(MODIFIED_Z_COEFF) * F.try_divide(
        F.col("value") - F.col("med"), F.col("mad")
    )
    n_hist = F.coalesce(F.col("n_history"), F.lit(0))
    verdict = (
        F.when(
            F.col("value").isNull() | (n_hist < min_history), F.lit(NOT_READY)
        )
        .when(
            F.col("mad") > 0,
            F.when(F.abs(z) > threshold, F.lit(ANOMALY)).otherwise(F.lit(OK)),
        )
        .when(F.col("value") != F.col("med"), F.lit(ANOMALY))
        .otherwise(F.lit(OK))
    )
    return scored.select(
        "part",
        "metric",
        "run_id",
        F.round("value", 6).alias("value"),
        n_hist.cast("long").alias("n_history"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.round(z, 6).alias("robust_z"),
        verdict.alias("verdict"),
    )


def metric_ewma(
    history: DataFrame,
    metrics: list[str],
    part_col: str = "part",
    alpha: float = 0.3,
    threshold: float = 3.0,
    min_history: int = 3,
) -> DataFrame:
    """Recency-weighted anomaly detection over metric history (C56 —
    deequ's OnlineNormalStrategy re-expressed as an EWMA control
    chart): per (part, metric), score the LATEST run's value against
    the exponentially-weighted moving mean/stddev of ALL prior runs,

        z = (x − ewma(priors)) / ewmstd(priors),  ANOMALY iff |z| > threshold.

    The niche between its two siblings: :func:`metric_trend` sees only
    ONE step back (a noisy previous run cries wolf), and
    :func:`metric_zscore`'s median/MAD weighs a run from last quarter
    the same as yesterday's — after a legitimate level shift it keeps
    flagging the new normal until half the history has moved. EWMA
    forgets: weight α(1−α)^(age) decays old runs, so the baseline
    tracks drifting-but-healthy metrics while still flagging a step
    the trend gate's single noisy reference would miss.

    Closed form, not a sequential fold: with priors ordered by run_id
    ascending (i = 1..n), the EWMA recursion s₁ = x₁,
    sₜ = αxₜ + (1−α)sₜ₋₁ telescopes to weights

        w₁ = (1−α)^(n−1),   wᵢ = α(1−α)^(n−i)  (i ≥ 2),   Σwᵢ = 1,

    so ewma = Σwᵢxᵢ and the weighted variance Σwᵢxᵢ² − ewma² are two
    plain aggregations — no UDF, no driver loop, and the identical
    arithmetic replays in the DuckDB oracle.

    → (part, metric, run_id, value, n_history, ewma, ewmstd, z,
       verdict), verdict ∈ OK / ANOMALY / NOT_READY. Conventions
    shared with C54: NULL latest, or fewer than ``min_history``
    non-null priors → NOT_READY (NULL priors are excluded, never
    zero-filled); a degenerate ewmstd = 0 (constant history) falls
    back to exact inequality — off the constant is ANOMALY with z
    NULL, on it is OK; strict > threshold; lexicographic run order;
    duplicate (run_id, part) rows refused loudly (the
    ``_melted_history`` contract).

    Plan shape: runs × parts × metrics sized — one melt, one
    (part, metric) window to split latest vs priors and rank priors,
    ONE hash aggregation for (n, Σwx, Σwx²), a key-sized join back.
    Metadata-scale at any corpus size, zero rescans."""
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    if min_history < 1:
        raise ValueError(f"min_history must be >= 1, got {min_history}")
    melted = _melted_history("metric_ewma", history, metrics, part_col)
    latest, priors_all = _latest_and_priors(melted)
    priors = (
        priors_all.filter(F.col("value").isNotNull())
        .withColumn(
            "_ord",
            F.row_number().over(
                Window.partitionBy("part", "metric").orderBy("run_id")
            ),
        )
        .withColumn(
            "_n",
            F.count(F.lit(1)).over(Window.partitionBy("part", "metric")),
        )
    )
    w = F.when(
        F.col("_ord") == 1, F.pow(F.lit(1.0 - alpha), F.col("_n") - 1)
    ).otherwise(
        F.lit(alpha) * F.pow(F.lit(1.0 - alpha), F.col("_n") - F.col("_ord"))
    )
    agg = priors.groupBy("part", "metric").agg(
        F.max("_n").cast("long").alias("n_history"),
        F.sum(w * F.col("value")).alias("ewma"),
        F.sum(w * F.col("value") * F.col("value")).alias("_m2"),
    )
    # clamp fp noise: Σw·x² − (Σw·x)² is mathematically ≥ 0
    ewmvar = F.greatest(
        F.lit(0.0), F.col("_m2") - F.col("ewma") * F.col("ewma")
    )
    scored = latest.join(agg, ["part", "metric"], "left")
    ewmstd = F.sqrt(ewmvar)
    z = F.try_divide(F.col("value") - F.col("ewma"), ewmstd)
    n_hist = F.coalesce(F.col("n_history"), F.lit(0))
    verdict = (
        F.when(
            F.col("value").isNull() | (n_hist < min_history), F.lit(NOT_READY)
        )
        .when(
            ewmstd > 0,
            F.when(F.abs(z) > threshold, F.lit(ANOMALY)).otherwise(F.lit(OK)),
        )
        .when(F.col("value") != F.col("ewma"), F.lit(ANOMALY))
        .otherwise(F.lit(OK))
    )
    return scored.select(
        "part",
        "metric",
        "run_id",
        F.round("value", 6).alias("value"),
        n_hist.cast("long").alias("n_history"),
        F.round("ewma", 6).alias("ewma"),
        F.round(ewmstd, 6).alias("ewmstd"),
        F.round(
            F.when(ewmstd > 0, z), 6
        ).alias("z"),
        verdict.alias("verdict"),
    )


_HW_SCHEMA = (
    "part string, metric string, run_id string, value double, "
    "n_history bigint, forecast double, sigma double, z double, "
    "verdict string"
)


def metric_holt_winters(
    history: DataFrame,
    metrics: list[str],
    part_col: str = "part",
    season: int = 7,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.3,
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonal anomaly detection over metric history (deequ's
    HoltWinters strategy, simplified to fixed smoothing parameters) —
    the fourth and last member of the cross-run family. The niche the
    other three cannot cover: a metric with a real period (weekend
    row-count dips, a nightly compaction's byte spike) looks like an
    anomaly to the step gate (C53), the whole-history median (C54) AND
    the EWMA chart (C56) exactly when it is healthiest — at its
    seasonal peak. Holt–Winters carries level + trend + per-phase
    seasonal components, forecasts the latest run one step ahead, and
    scores the residual against the in-sample one-step residual scale
    (σ = uncentered RMS of the in-sample residuals):

        z = (x − forecast) / σ,  ANOMALY iff |z| > threshold.

    Additive HW with the standard first-two-seasons initialization
    (level = mean of season 1; trend = (mean₂ − mean₁)/m; seasonals =
    season-1 deviations), recursion from t = m. Fixed (α, β, γ) — deequ's MSE
    re-optimization per series is deliberately NOT reproduced: a
    validation gate must be deterministic and explainable, not a tiny
    curve-fit that can chase the very anomaly it should flag.

    Conventions: NULL latest → NOT_READY; fewer than 2·season priors,
    or ANY NULL prior → NOT_READY (a seasonal index is phase
    arithmetic — silently dropping a null would shift every later
    phase; the caller fills gaps explicitly or uses the non-seasonal
    siblings); σ = 0 degrades to exact inequality (off a perfectly
    forecastable history is ANOMALY with z NULL); strict >;
    lexicographic run order; duplicate (run_id, part) refused via the
    shared ``_melted_history`` front door.

    Plan shape: runs × parts × metrics sized. The recursion is
    inherently sequential per (part, metric), so this is the one
    family member implemented at the Arrow boundary
    (``applyInPandas`` over the melted history — each group is
    #runs rows of METADATA; the corpus the stats describe is never
    rescanned). Everything else stays column expressions."""
    if season < 2:
        raise ValueError(f"season must be >= 2, got {season}")
    for name, v in (("alpha", alpha), ("beta", beta), ("gamma", gamma)):
        if not (0.0 < v < 1.0):
            raise ValueError(f"{name} must be in (0, 1), got {v}")
    if threshold <= 0:
        raise ValueError(f"threshold must be positive, got {threshold}")
    melted = _melted_history("metric_holt_winters", history, metrics, part_col)
    m, thr = int(season), float(threshold)
    a, b, g = float(alpha), float(beta), float(gamma)

    def fit(pdf):
        import math

        import pandas as pd

        pdf = pdf.sort_values("run_id").reset_index(drop=True)
        part, metric = pdf["part"].iloc[0], pdf["metric"].iloc[0]
        run_id = pdf["run_id"].iloc[-1]
        x = pdf["value"].iloc[-1]
        x = None if pd.isna(x) else float(x)
        priors = pdf["value"].iloc[:-1]
        n = len(priors)
        n_nonnull = int(priors.notna().sum())

        def row(fc=None, sig=None, z=None, verdict="NOT_READY"):
            return pd.DataFrame(
                [
                    {
                        "part": part,
                        "metric": metric,
                        "run_id": run_id,
                        "value": None if x is None else round(x, 6),
                        "n_history": n_nonnull,
                        "forecast": None if fc is None else round(fc, 6),
                        "sigma": None if sig is None else round(sig, 6),
                        "z": None if z is None else round(z, 6),
                        "verdict": verdict,
                    }
                ]
            )

        if x is None or n < 2 * m or n_nonnull < n:
            return row()
        y = [float(v) for v in priors]
        mean1 = sum(y[:m]) / m
        mean2 = sum(y[m : 2 * m]) / m
        lvl = mean1
        trend = (mean2 - mean1) / m
        seas = [y[i] - mean1 for i in range(m)]
        resids = []
        for t in range(m, n):
            fc_t = lvl + trend + seas[t % m]
            resids.append(y[t] - fc_t)
            new_lvl = a * (y[t] - seas[t % m]) + (1 - a) * (lvl + trend)
            trend = b * (new_lvl - lvl) + (1 - b) * trend
            seas[t % m] = g * (y[t] - new_lvl) + (1 - g) * seas[t % m]
            lvl = new_lvl
        fc = lvl + trend + seas[n % m]
        # σ = RMS of the one-step residuals (uncentered: the residuals
        # of a well-specified additive fit are ~zero-mean, and an
        # uncentered scale cannot hide a systematic forecast bias the
        # way a centered one would)
        sig = math.sqrt(sum(r * r for r in resids) / len(resids))
        if sig > 0:
            z = (x - fc) / sig
            verdict = ANOMALY if abs(z) > thr else OK
            return row(fc, sig, z, verdict)
        return row(fc, 0.0, None, ANOMALY if x != fc else OK)

    return melted.groupBy("part", "metric").applyInPandas(fit, _HW_SCHEMA)


def metric_cusum(
    history: DataFrame,
    metrics: list[str],
    part_col: str = "part",
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    baseline_n: int = 3,
) -> DataFrame:
    """CUSUM change-point detection over metric history (C60 — Page's
    cumulative-sum control chart [Page 1954, Biometrika 41]): per
    (part, metric), fix a reference window of the FIRST ``baseline_n``
    non-null runs (μ = mean, σ = sample stddev), then accumulate the
    post-baseline deviations

        C⁺_t = max(0, C⁺_{t−1} + (x_t − μ − kσ))
        C⁻_t = max(0, C⁻_{t−1} + (μ − x_t − kσ))

    and flag ANOMALY when either exceeds h·σ at the latest run. The
    failure mode NONE of the four siblings can see: a *small but
    persistent* shift — a row count sagging 0.4σ every run trips no
    step gate (C53), stays inside every per-run z band (C54/C56), and
    has no season for HW (C58); CUSUM *integrates* it, so after a few
    runs the sum walks past any threshold. The allowance k discards
    noise smaller than kσ per run, so a healthy jittering metric never
    accumulates.

    Closed form, not a sequential fold: the max(0, ·) recursion
    telescopes to running sums — with P_t = Σ_{j≤t}(x_j − μ − kσ) and
    P_0 = 0,

        C⁺_t = P_t − min(0, min_{j≤t} P_j)

    (symmetrically for C⁻), so the whole statistic is one prefix sum +
    one prefix min per side — plain window functions, no UDF, no
    driver loop, and the identical arithmetic replays in the DuckDB
    oracle.

    → (part, metric, run_id, value, n_history, mu, sigma, cusum_pos,
       cusum_neg, verdict), cusum_* in σ units, verdict ∈
    OK / ANOMALY / NOT_READY. Conventions: NULL latest, or fewer than
    ``baseline_n`` + 1 non-null observations → NOT_READY; NULL
    mid-history values are excluded (CUSUM is phase-free, unlike HW —
    a gap just shortens the walk); σ = 0 (constant baseline) degrades
    to exact inequality — any post-baseline value off μ is ANOMALY
    with scores NULL, all on μ is OK; strict >; lexicographic run
    order; duplicate (run_id, part) refused via the shared
    ``_melted_history`` front door. ``n_history`` counts ALL non-null
    observations (baseline + walk) — unlike the latest-vs-priors
    siblings, CUSUM scores the sequence itself.

    Plan shape: runs × parts × metrics sized — one melt, one
    (part, metric) window to order the series, one baseline hash-agg,
    two prefix-sum/prefix-min window pairs on the same ordering (one
    exchange total), a key-sized join back. Metadata-scale at any
    corpus size, zero rescans."""
    if k_sigma < 0:
        raise ValueError(f"k_sigma must be >= 0, got {k_sigma}")
    if h_sigma <= 0:
        raise ValueError(f"h_sigma must be positive, got {h_sigma}")
    if baseline_n < 2:
        raise ValueError(
            f"baseline_n must be >= 2 (a stddev needs it), got {baseline_n}"
        )
    melted = _melted_history("metric_cusum", history, metrics, part_col)
    latest, _ = _latest_and_priors(melted)
    seq = (
        melted.filter(F.col("value").isNotNull())
        .withColumn(
            "_ord",
            F.row_number().over(
                Window.partitionBy("part", "metric").orderBy("run_id")
            ),
        )
        .withColumn(
            "_n",
            F.count(F.lit(1)).over(Window.partitionBy("part", "metric")),
        )
    )
    base = (
        seq.filter(F.col("_ord") <= baseline_n)
        .groupBy("part", "metric")
        .agg(
            F.avg("value").alias("mu"),
            F.stddev_samp("value").alias("sigma"),
        )
    )
    walk = seq.filter(F.col("_ord") > baseline_n).join(
        base, ["part", "metric"]
    )
    wseq = (
        Window.partitionBy("part", "metric")
        .orderBy("run_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    k = F.lit(float(k_sigma)) * F.col("sigma")
    walk = (
        walk.withColumn("_p", F.sum(F.col("value") - F.col("mu") - k).over(wseq))
        .withColumn("_q", F.sum(F.col("mu") - F.col("value") - k).over(wseq))
        .withColumn("_minp", F.min("_p").over(wseq))
        .withColumn("_minq", F.min("_q").over(wseq))
        .withColumn(
            "_dev_max",
            F.max(F.abs(F.col("value") - F.col("mu"))).over(
                Window.partitionBy("part", "metric")
            ),
        )
    )
    tail = walk.withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("part", "metric").orderBy(F.desc("run_id"))
        ),
    ).filter(F.col("_rn") == 1)
    cpos = F.try_divide(
        F.col("_p") - F.least(F.lit(0.0), F.col("_minp")), F.col("sigma")
    )
    cneg = F.try_divide(
        F.col("_q") - F.least(F.lit(0.0), F.col("_minq")), F.col("sigma")
    )
    # n_history from the sequence itself, not the walk tail — a too-
    # short series still reports its true non-null count on NOT_READY
    counts = seq.groupBy("part", "metric").agg(
        F.max("_n").cast("long").alias("n_history")
    )
    scored = latest.join(counts, ["part", "metric"], "left").join(
        tail.select(
            "part",
            "metric",
            "mu",
            "sigma",
            cpos.alias("_cpos"),
            cneg.alias("_cneg"),
            "_dev_max",
        ),
        ["part", "metric"],
        "left",
    )
    n_hist = F.coalesce(F.col("n_history"), F.lit(0))
    sigma_pos = F.col("sigma") > 0
    verdict = (
        F.when(
            F.col("value").isNull() | (n_hist < baseline_n + 1),
            F.lit(NOT_READY),
        )
        .when(
            sigma_pos,
            F.when(
                F.greatest("_cpos", "_cneg") > h_sigma, F.lit(ANOMALY)
            ).otherwise(F.lit(OK)),
        )
        .when(F.col("_dev_max") > 0, F.lit(ANOMALY))
        .otherwise(F.lit(OK))
    )
    return scored.select(
        "part",
        "metric",
        "run_id",
        F.round("value", 6).alias("value"),
        n_hist.alias("n_history"),
        F.round("mu", 6).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
        F.round(F.when(sigma_pos, F.col("_cpos")), 6).alias("cusum_pos"),
        F.round(F.when(sigma_pos, F.col("_cneg")), 6).alias("cusum_neg"),
        verdict.alias("verdict"),
    )
