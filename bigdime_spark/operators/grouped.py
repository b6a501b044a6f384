"""Grouped metric bounds (SURVEY C72) — deequ's grouped-metrics idea
as a first-class GATE: a per-part metric can be healthy while one
value segment inside the part is broken ("caption null-rate is 0.8%
overall — and 41% for fmt=webp"). C69's violation slices TRIAGE an
already-failing check by segment; this DECLARES the segment-level
contract up front, so the failure is caught even when the part-level
aggregate dilutes it below every global threshold.

Plan shape: ONE hash aggregation by (part, group) per declared
(target, group_by) pair — map-side combined, sized by the group
cardinality the caller declared (a grouped bound on an id-like column
is a uniqueness check, not a grouped metric; same dial as C69). The
verdict fold and violation rows are projections of that metadata-scale
frame. Bounds on the SAME (target, group_by) share one scan through
the suite's profile cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import TableConstraint
from bigdime_spark.schema import FAIL, NOT_READY, PASS

#: metric name → column of the grouped_metrics profile
METRICS = ("null_rate", "mean", "min", "max", "n", "n_distinct")


def grouped_metrics(df: DataFrame, target: str, group_by: str) -> DataFrame:
    """Per (part, group) metric profile of ``target`` grouped by
    ``group_by``: (part, group, n, n_null, null_rate, mean, min, max,
    n_distinct). A NULL group value is a real segment (kept, like the
    C69 slices — a producer writing NULL fmt is exactly a segment to
    bound); min/max/mean are try_cast double (NULL for non-castable
    values under ANSI mode — declare non-numeric targets with
    null_rate / n / n_distinct)."""
    t = F.col(target)
    td = t.try_cast("double")
    return df.groupBy(
        F.col("part"), F.col(group_by).cast("string").alias("group")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(t.isNull()).alias("n_null"),
        (F.count_if(t.isNull()) / F.count(F.lit(1))).alias("null_rate"),
        F.avg(td).alias("mean"),
        F.min(td).alias("min"),
        F.max(td).alias("max"),
        F.count_distinct(t).alias("n_distinct"),
    )


class GroupedBound(TableConstraint):
    """Declared per-GROUP metric bound, gated per part: every group of
    ``group_by`` with at least ``min_support`` rows must keep
    ``metric`` of ``target`` inside [lo, hi].

    Verdict family ``grouped_<metric>.<target>@<group_by>`` per part:

    - FAIL       — ≥1 evaluated group breaches; observed carries the
      breach count and the worst group (largest distance outside the
      bound; ties smallest group value — deterministic);
    - PASS       — ≥1 evaluated group, none breach;
    - NOT_READY  — no group reaches min_support (nothing was actually
      gated — a silent PASS here would read as coverage), or every
      evaluated group's metric is NULL (mean of a non-numeric).

    Violations: one row per breaching (part, group) — part-level
    detail (image_id NULL), bounded by the declared group cardinality.
    """

    def __init__(
        self,
        target: str,
        group_by: str,
        metric: str = "null_rate",
        lo: float | None = None,
        hi: float | None = None,
        min_support: int = 1,
    ):
        import math

        if metric not in METRICS:
            raise ValueError(f"metric={metric!r} unsupported: one of {METRICS}")
        if lo is None and hi is None:
            raise ValueError("grouped bound needs lo, hi, or both")
        for side, v in (("lo", lo), ("hi", hi)):
            # NaN would make every breach comparison False — a gate
            # that silently never pages; explicit ±inf is the same
            # statement as omitting the side, so require that spelling
            if v is not None and not math.isfinite(v):
                raise ValueError(
                    f"grouped bound {side} must be finite (omit the side "
                    f"for an open bound), got {v!r}"
                )
        if min_support < 1:
            raise ValueError(f"min_support must be >= 1, got {min_support}")
        self.target = target
        self.group_by = group_by
        self.metric = metric
        self.lo = float("-inf") if lo is None else float(lo)
        self.hi = float("inf") if hi is None else float(hi)
        if self.hi < self.lo:
            raise ValueError(f"grouped bound: hi {self.hi} < lo {self.lo}")
        self.min_support = int(min_support)
        self.name = f"grouped_{metric}.{target}@{group_by}"

    def run(self, ctx):
        cache = ctx.extras.setdefault("grouped_bound_profiles", {})
        key = (self.target, self.group_by)
        prof = cache.get(key)
        if prof is None:
            prof = grouped_metrics(ctx.raw, self.target, self.group_by)
            registry = ctx.extras.get("persisted")
            if registry is not None:
                prof = prof.persist()
                registry.append(prof)
            cache[key] = prof
        return self.verdicts_from_profile(prof)

    def verdicts_from_profile(self, prof: DataFrame):
        """The verdict fold over an ALREADY-COMPUTED (part, group)
        profile — shared by the batch path (run) and the streaming
        collapse (streaming/stateful.latest_grouped), so a streamed
        table gets bit-identical gate semantics."""
        m = F.col(self.metric).cast("double")
        # keep under-support groups in the frame (marked ineligible) so
        # a part whose EVERY group is under min_support still emits a
        # NOT_READY row instead of vanishing into the grid-fill PASS
        evaluated = prof.withColumn(
            "_elig", F.col("n") >= self.min_support
        ).withColumn("_m", F.when(F.col("n") >= self.min_support, m))
        breach = F.col("_elig") & F.col("_m").isNotNull() & (
            (F.col("_m") < self.lo) | (F.col("_m") > self.hi)
        )
        lo_txt = "-inf" if self.lo == float("-inf") else str(self.lo)
        hi_txt = "inf" if self.hi == float("inf") else str(self.hi)
        expected = f"{self.metric} in [{lo_txt}, {hi_txt}] per {self.group_by}"

        # worst breaching group = largest distance outside the bound
        # (ties: smallest group string) — rides the same metadata-scale
        # frame, window partitioned by part
        dist = F.when(
            F.col("_m") < self.lo, F.lit(self.lo) - F.col("_m")
        ).otherwise(F.col("_m") - F.lit(self.hi))
        w = Window.partitionBy("part").orderBy(
            F.desc("_dist"), F.asc_nulls_last("group")
        )
        flagged = evaluated.withColumn("_breach", breach).withColumn(
            "_dist", F.when(breach, dist)
        )
        found = (
            flagged.withColumn("_rk", F.row_number().over(w))
            .groupBy("part")
            .agg(
                F.count_if(F.col("_elig")).alias("_groups"),
                F.count_if(F.col("_breach")).alias("_bad"),
                F.count_if(F.col("_m").isNotNull()).alias("_scored"),
                F.first(
                    F.when(F.col("_rk") == 1, F.col("group")), ignorenulls=True
                ).alias("_worst_g"),
                F.first(
                    F.when(F.col("_rk") == 1, F.round(F.col("_m"), 6)),
                    ignorenulls=True,
                ).alias("_worst_m"),
            )
            .select(
                F.col("part").cast("string").alias("part"),
                F.lit(self.name).alias("constraint"),
                F.when(F.col("_bad") > 0, F.lit(FAIL))
                .when(F.col("_scored") == 0, F.lit(NOT_READY))
                .otherwise(F.lit(PASS))
                .alias("verdict"),
                F.when(
                    F.col("_bad") > 0,
                    F.concat(
                        F.lit("breaching="),
                        F.col("_bad").cast("string"),
                        F.lit("/"),
                        F.col("_groups").cast("string"),
                        F.lit(", worst "),
                        F.coalesce(F.col("_worst_g"), F.lit("∅")),
                        F.lit(f": {self.metric}="),
                        F.col("_worst_m").cast("string"),
                    ),
                )
                .otherwise(
                    F.concat(
                        F.lit("groups="),
                        F.col("_groups").cast("string"),
                        F.lit(", breaching=0"),
                    )
                )
                .alias("observed"),
                F.lit(expected).alias("expected"),
            )
        )
        violations = self._violation_rows(flagged, lo_txt, hi_txt)
        return found, violations

    def _violation_rows(self, flagged, lo_txt: str, hi_txt: str):
        return flagged.filter(F.col("_breach")).select(
            F.lit(self.name).alias("constraint"),
            F.col("part").cast("string").alias("part"),
            F.lit(None).cast("string").alias("image_id"),
            F.lit(self.target).alias("column"),
            F.concat(
                F.lit(f"{self.group_by}="),
                F.coalesce(F.col("group"), F.lit("∅")),
                F.lit(f": {self.metric}="),
                F.round(F.col("_m"), 6).cast("string"),
                F.lit(f" not in [{lo_txt}, {hi_txt}] (n="),
                F.col("n").cast("string"),
                F.lit(")"),
            ).alias("detail"),
            F.lit("raw").alias("snapshot"),
        )


def composed_grouped_frame(prof: DataFrame, target: str, group_by: str) -> DataFrame:
    """Project a (part, group) metric profile into the C73 cross-run
    history shape shared by `run` and `stream`: part composed as
    "part|dim=value" (NULL group → ∅), metrics as
    ``stat__<target>__<metric>`` columns. n_distinct is included only
    when the profile has it (the streaming profile deliberately
    doesn't — unbounded state)."""
    cols = [
        F.concat(
            F.col("part").cast("string"),
            F.lit(f"|{group_by}="),
            F.coalesce(F.col("group"), F.lit("∅")),
        ).alias("part"),
        F.col("n").cast("double").alias(f"stat__{target}__n"),
        F.col("null_rate").alias(f"stat__{target}__null_rate"),
        F.col("mean").alias(f"stat__{target}__mean"),
        F.col("min").alias(f"stat__{target}__min"),
        F.col("max").alias(f"stat__{target}__max"),
    ]
    if "n_distinct" in prof.columns:
        cols.append(
            F.col("n_distinct").cast("double").alias(f"stat__{target}__n_distinct")
        )
    return prof.select(*cols)
