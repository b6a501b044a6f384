"""Per-column statistics profile (SURVEY B1–B11).

All stats for all columns fuse into the suite's ONE
``groupBy(part).agg(...)`` pass — one scan, one shuffle, partial+final
hash aggregation, whole-stage codegen (BASELINE.json:6 "per-column
stats (null-rate, min/max, distinct via HyperLogLog sketches) ... as
single-pass DataFrame aggregations").

Distinct counts are HLL sketches (``hll_sketch_agg``): the per-part
binary sketch is persisted so table-level or cross-snapshot distincts
are a cheap ``hll_union_agg`` roll-up instead of a rescan — the
mergeable-sketch requirement at 10^12-row scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import AggConstraint, TableConstraint, local_frame


@dataclass
class ColumnProfile:
    column: str
    numeric: bool = False
    stringlike: bool = False
    #: binary payload column (B8): octet_length min/max/sum. Opt-in —
    #: requesting it forces the stats scan to read the binary pages
    #: (the suite keeps requested binary columns in the stats
    #: projection even when the checksum rides the decode scan).
    bytelike: bool = False
    distinct: bool = False
    quantiles: tuple[float, ...] = ()
    #: most-frequent value (SURVEY B10 — hot-phash detection feed)
    mode: bool = False
    #: (lo, hi, nbins) fixed-bin histogram persisted as a per-part
    #: bucket-count array (buckets 0..nbins+1, same clamping as
    #: functions/histograms.bucket_col). Like the HLL sketches, the
    #: stored array makes CROSS-RUN drift (drift.drift_from_stats) a
    #: metadata-sized computation — no rescan of the old snapshot.
    histogram: tuple[float, float, int] | None = None


@dataclass
class StatsProfile:
    """Declarative stats request; ``agg_exprs()`` feeds the fused pass."""

    columns: list[ColumnProfile] = field(default_factory=list)
    hll_lg_k: int = 12

    def histogram_specs(self) -> list[tuple[str, float, float, int]]:
        return [
            (p.column, *p.histogram) for p in self.columns if p.histogram is not None
        ]

    def agg_exprs(self, include_histograms: bool = True) -> list[Column]:
        """``include_histograms=False`` is the suite's path: dense
        count_if bucket arrays inside a wide fused aggregation defeat
        whole-stage codegen (~6x slower, measured at 1M rows), so the
        suite builds them with ``histogram_frames`` (melted scan +
        pivot) instead and joins the arrays into the stats output."""
        out: list[Column] = [F.count(F.lit(1)).alias("stat__rows")]
        for p in self.columns:
            c = F.col(p.column)
            n = p.column
            out.append(F.count_if(c.isNull()).alias(f"stat__{n}__nulls"))
            if p.numeric:
                out += [
                    F.min(c).alias(f"stat__{n}__min"),
                    F.max(c).alias(f"stat__{n}__max"),
                    F.avg(c).alias(f"stat__{n}__avg"),
                    F.stddev(c).alias(f"stat__{n}__stddev"),
                    # B4 third/fourth moments (population g1 / excess g2 —
                    # what F.skewness/F.kurtosis compute)
                    F.skewness(c).alias(f"stat__{n}__skewness"),
                    F.kurtosis(c).alias(f"stat__{n}__kurtosis"),
                ]
            if p.stringlike:
                out += [
                    F.min(F.length(c)).alias(f"stat__{n}__min_len"),
                    F.max(F.length(c)).alias(f"stat__{n}__max_len"),
                ]
            if p.bytelike:
                out += [
                    F.min(F.octet_length(c)).alias(f"stat__{n}__min_bytes"),
                    F.max(F.octet_length(c)).alias(f"stat__{n}__max_bytes"),
                    F.sum(F.octet_length(c)).alias(f"stat__{n}__sum_bytes"),
                ]
            if p.distinct:
                out += [
                    F.hll_sketch_agg(c, self.hll_lg_k).alias(f"stat__{n}__hll"),
                ]
            if p.quantiles:
                out.append(
                    F.percentile_approx(c, list(p.quantiles)).alias(f"stat__{n}__quantiles")
                )
            if p.mode:
                out.append(F.mode(c).alias(f"stat__{n}__mode"))
            if p.histogram is not None and include_histograms:
                from bigdime_spark.functions.histograms import bucket_col

                lo, hi, nbins = p.histogram
                b = bucket_col(c.cast("double"), lo, hi, nbins)
                # dense counts, one slot per bucket id 0..nbins+1 —
                # fine for small standalone profiles; the suite uses
                # histogram_frames instead (see agg_exprs docstring)
                out.append(
                    F.array(
                        *[F.count_if(b == i) for i in range(nbins + 2)]
                    ).alias(f"stat__{n}__hist")
                )
                # binning spec persisted beside the counts so cross-run
                # drift can refuse to compare incompatible histograms
                out.append(
                    F.max(F.lit(f"{lo}:{hi}:{nbins}")).alias(f"stat__{n}__hist_spec")
                )
        return out

    @staticmethod
    def finalize_exprs(agg_columns: list[str]) -> list[Column]:
        """Post-agg projections: HLL sketch → scalar estimate (the binary
        sketch column is kept alongside for mergeable roll-ups)."""
        out: list[Column] = []
        for name in agg_columns:
            if name.endswith("__hll"):
                out.append(
                    F.hll_sketch_estimate(F.col(name)).alias(name.replace("__hll", "__distinct"))
                )
        return out


def histogram_frames(
    df: DataFrame, specs: list[tuple[str, float, float, int]]
) -> DataFrame:
    """Per-part dense bucket-count arrays for ALL requested columns
    from ONE melted scan: explode (column, bucket) structs, one
    (part, column, bucket) hash-agg (map-side combined), densify via a
    bounded map (≤ nbins+2 entries per (part, column)), pivot to one
    ``stat__<col>__hist`` array column each. 6× faster at 1M rows than
    count_if arrays inside a wide fused agg (which fall out of
    whole-stage codegen). → (part, stat__<col>__hist ...)."""
    from bigdime_spark.functions.histograms import bucket_col

    structs = [
        F.struct(
            F.lit(c).alias("column"),
            bucket_col(F.col(c).cast("double"), lo, hi, nbins).alias("bucket"),
            F.lit(nbins).alias("nbins"),
        )
        for c, lo, hi, nbins in specs
    ]
    counts = (
        df.select("part", F.explode(F.array(*structs)).alias("mb"))
        .select("part", "mb.column", "mb.bucket", "mb.nbins")
        .where(F.col("bucket").isNotNull())
        .groupBy("part", "column", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.first("nbins").alias("nbins"))
    )
    dense = counts.groupBy("part", "column").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("cnt")))
        ).alias("m"),
        F.first("nbins").alias("nbins"),
    )
    dense = dense.select(
        "part",
        "column",
        F.transform(
            F.sequence(F.lit(0), F.col("nbins") + 1),
            lambda i: F.coalesce(F.element_at(F.col("m"), i), F.lit(0).cast("long")),
        ).alias("arr"),
    )
    arrays = dense.groupBy("part").pivot("column", [c for c, *_ in specs]).agg(
        F.first("arr")
    )
    for c, lo, hi, nbins in specs:
        arrays = arrays.withColumnRenamed(c, f"stat__{c}__hist").withColumn(
            f"stat__{c}__hist_spec", F.lit(f"{lo}:{hi}:{nbins}")
        )
    return arrays


def quantiles_from_stats(
    stats: DataFrame,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    table_level: bool = False,
) -> DataFrame:
    """Approximate quantiles from the PERSISTED ``stat__<col>__hist``
    bucket arrays — the quantile analogue of the cross-run drift
    (drift_from_stats) and HLL roll-up (rollup_distinct): at 10^12
    rows a re-profile never rescans the data, it reads the few-KB
    stats rows an earlier run persisted.

    Estimator: inverse binned ECDF with linear interpolation inside
    the selected bucket — for target t = q·n, the first bucket whose
    cumulative count reaches t contributes
    ``left_edge + (t − cum_prev)/cnt · bucket_width``; the open-ended
    under/overflow buckets clamp to lo/hi. Max error is one bucket
    width (the documented B9 binning bound).

    ``table_level=True`` sums the per-part arrays first (fixed-bin
    counts are additive — same roll-up drift_from_stats uses) and
    returns one row per (column, q) with part "*".

    Inherits drift_from_stats' refusal guards (duplicate per-part
    rows, mixed binning specs); columns without a persisted
    ``__hist_spec`` are skipped (their lo/hi/nbins are unknowable).
    Metadata-scale end to end: parts × columns × nbins rows in,
    parts × columns × len(qs) rows out.

    → (part, column, q, n_rows, quantile_est)."""
    from pyspark.sql import Window

    from bigdime_spark.operators.drift import (
        _melt_stats_histograms,
        _validate_stats_frame,
    )

    specs = _validate_stats_frame(stats, "stats", table_level)
    if not specs:
        raise ValueError(
            "no stat__<col>__hist_spec columns persisted — quantile "
            "reconstruction needs the (lo, hi, nbins) the histograms "
            "were profiled with; re-profile with histogram specs"
        )
    h = _melt_stats_histograms(stats, "cnt")
    if table_level:
        h = (
            h.groupBy("column", "bucket")
            .agg(F.sum("cnt").alias("cnt"), F.first("_nb_cnt").alias("_nb_cnt"))
            .withColumn("part", F.lit("*"))
        )
    spec_rows = [
        (c, float(s.split(":")[0]), float(s.split(":")[1]), int(s.split(":")[2]))
        for c, s in sorted(specs.items())
    ]
    spec_df = local_frame(
        h.sparkSession, spec_rows, "column string, lo double, hi double, nbins bigint"
    )
    h = h.join(F.broadcast(spec_df), "column")

    by_key = Window.partitionBy("part", "column")
    cum_w = by_key.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_q = (
        h.withColumn("n_rows", F.sum("cnt").over(by_key))
        .withColumn("cum", F.sum("cnt").over(cum_w))
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
        .withColumn("target", F.col("q") * F.col("n_rows"))
        .filter(F.col("cum") >= F.col("target"))
    )
    sel = per_q.groupBy("part", "column", "q").agg(
        F.min_by(
            F.struct("bucket", "cnt", "cum", "n_rows", "target", "lo", "hi", "nbins"),
            F.col("bucket"),
        ).alias("s")
    )
    s = sel.select("part", "column", "q", "s.*")
    width = (F.col("hi") - F.col("lo")) / F.col("nbins")
    frac = (F.col("target") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    est = (
        F.when(F.col("bucket") == 0, F.col("lo"))
        .when(F.col("bucket") == F.col("nbins") + 1, F.col("hi"))
        .otherwise(
            F.col("lo") + (F.col("bucket") - 1) * width + frac * width
        )
    )
    return s.select(
        "part",
        "column",
        "q",
        "n_rows",
        F.round(est, 6).alias("quantile_est"),
    )


def rollup_distinct(stats_frames: list[DataFrame], group_cols: tuple[str, ...] = ()) -> DataFrame:
    """B6 mergeable-sketch roll-up: union the per-partition stats frames
    (as persisted by the suite, `stat__<col>__hll` binary columns) and
    fold the sketches with ``hll_union_agg`` — a table-level or
    cross-snapshot distinct WITHOUT rescanning the data. This is the
    point of HLL at 10^12 rows: per-part sketches are a few KB each,
    so the roll-up is a metadata-sized aggregation.

    → one row (or one per ``group_cols`` value) with
    ``stat__<col>__distinct`` estimate columns."""
    df = stats_frames[0]
    for other in stats_frames[1:]:
        df = df.unionByName(other, allowMissingColumns=True)
    hll_cols = [c for c in df.columns if c.endswith("__hll")]
    exprs = [
        F.hll_sketch_estimate(F.hll_union_agg(F.col(c))).alias(
            c.replace("__hll", "__distinct")
        )
        for c in hll_cols
    ]
    return df.groupBy(*group_cols).agg(*exprs) if group_cols else df.agg(*exprs)


def distinctness_from_stats(
    stats: DataFrame, table_level: bool = False
) -> DataFrame:
    """Approximate distinctness from the PERSISTED stats frame — the
    10^6+-cardinality companion of :func:`distinct_value_profile`
    (whose exact value-level aggregation that scale forbids) and the
    ratio form of :func:`rollup_distinct`: distinct via the persisted
    ``stat__<col>__hll`` sketch, non-null denominator via
    ``stat__rows − stat__<col>__nulls`` — ZERO rescan of the data the
    stats describe, the same discipline as drift_from_stats /
    quantiles_from_stats.

    → (part, column, n_rows, n_nonnull, distinct_est,
       distinctness_est)

    - covers every column with BOTH a persisted ``__hll`` sketch and a
      ``__nulls`` count; raises if none qualify (a ratio without its
      denominator would be a guess).
    - ``distinctness_est`` can exceed 1.0 by the sketch's relative
      error (~1.6% at the default lg_k=12) on near-key columns —
      surfaced raw, not clamped: a reader tracking it run over run
      should see estimator noise as noise. In the sketch's exact
      (sparse) regime — small distinct sets — the ratio is exact.
    - singleton ratios (uniqueness / unique_value_ratio) are
      inherently un-sketchable; they exist only on the exact path.
    - an all-null part yields distinct_est 0 (an EMPTY sketch, not a
      NULL one) and a NULL ratio (0/0 undefined via try_divide), so
      the suite convention (NOT_READY, never a silent pass) composes.
    - ``table_level=True`` merges the per-part sketches with
      ``hll_union_agg`` (mergeability is the point of persisting the
      binary sketch next to its scalar estimate) and sums the
      row/null counts → one row per column with part "*".

    Refuses frames holding duplicate per-part rows (row/null counts
    would silently double against a deduplicating sketch union —
    filter to one run_id first), same guard as drift_from_stats.
    Metadata-scale end to end: the input is parts-sized."""
    hll_cols = [c for c in stats.columns if c.endswith("__hll")]
    usable = [
        c[len("stat__") : -len("__hll")]
        for c in hll_cols
        if f"stat__{c[len('stat__'):-len('__hll')]}__nulls" in stats.columns
    ]
    if "stat__rows" not in stats.columns or not usable:
        raise ValueError(
            "distinctness_from_stats needs stat__rows plus at least one "
            "stat__<col>__hll sketch with its stat__<col>__nulls count "
            "— profile with ColumnProfile(distinct=True) first"
        )
    # one parts-sized guard job: duplicates double the count arithmetic
    # against a deduplicating sketch union; an EMPTY frame would make
    # the table-level global agg emit one all-NULL row (a global agg
    # always returns a row) — both are refused, never guessed through.
    # r6: persist first — the guard plus the roll-up plan reference
    # this parts-sized frame repeatedly (an inline-profiled frame
    # otherwise re-runs its HLL aggregation per reference).
    stats = stats.persist()
    per_part = stats.groupBy("part").count().collect()
    if not per_part:
        raise ValueError(
            "stats frame has no rows — nothing was profiled (a resumed "
            "run with zero todo parts overwrites stats with an empty "
            "frame; point at the run that scanned data)"
        )
    dup = [r for r in per_part if r["count"] > 1]
    if dup:
        raise ValueError(
            f"stats frame holds duplicate rows for part {dup[0]['part']!r} "
            "— filter to a single run_id before computing distinctness"
        )
    if table_level:
        frame = stats.agg(
            F.sum("stat__rows").alias("stat__rows"),
            *[F.sum(f"stat__{c}__nulls").alias(f"stat__{c}__nulls") for c in usable],
            *[F.hll_union_agg(f"stat__{c}__hll").alias(f"stat__{c}__hll") for c in usable],
        ).withColumn("part", F.lit("*"))
    else:
        frame = stats
    melted = frame.select(
        "part",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col("stat__rows").alias("n_rows"),
                        (F.col("stat__rows") - F.col(f"stat__{c}__nulls")).alias(
                            "n_nonnull"
                        ),
                        F.hll_sketch_estimate(F.col(f"stat__{c}__hll")).alias(
                            "distinct_est"
                        ),
                    )
                    for c in sorted(usable)
                ]
            )
        ).alias("m"),
    )
    return melted.select(
        "part",
        "m.column",
        "m.n_rows",
        "m.n_nonnull",
        "m.distinct_est",
        F.try_divide(F.col("m.distinct_est"), F.col("m.n_nonnull")).alias(
            "distinctness_est"
        ),
    )


def categorical_profile(
    df: DataFrame, cols: tuple[str, ...] | list[str], part_col: str = "part"
) -> DataFrame:
    """Per-partition categorical column profile — the B1–B10 family's
    missing member for low-cardinality string/enum columns (fmt,
    source, priority): EXACT distinct count, Shannon entropy, and the
    modal value with its mass.

    → (part, column, n_rows, n_distinct, entropy, top_value, top_frac)

    - ``entropy``  — Shannon entropy in bits, −Σ p·log2 p over the
      exact value distribution (NULLs excluded; 0·log 0 = 0). A
      healthy fmt mix holds its entropy run over run; a collapse to ~0
      means one value swallowed the column (the categorical analogue
      of bitbalance's stuck bits), a jump means new values appeared.
    - ``top_value`` / ``top_frac`` — exact mode and its probability
      mass (the B10 heavy-hitter headline without a CMS sketch, exact
      because cardinality is small).

    Plan: ONE (part, column, value) hash-agg (map-side partials carry
    distinct values, not rows) + windows over the tiny counts relation.
    For high-cardinality columns use the HLL/CMS sketch paths instead —
    this operator is exact and assumes the value set fits a shuffle
    partition comfortably (≤ ~10^6 values per column)."""
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
        for c in cols
    ]
    counts = (
        df.select(F.col(part_col).alias("part"), F.explode(F.array(*structs)).alias("mv"))
        .select("part", "mv.column", "mv.value")
        .where(F.col("value").isNotNull())
        .groupBy("part", "column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    by_key = Window.partitionBy("part", "column")
    # deterministic mode tie-break: highest count, then lowest value
    rank = F.row_number().over(by_key.orderBy(F.desc("cnt"), F.asc("value")))
    p = F.col("cnt") / F.col("n_rows")
    scored = (
        counts.withColumn("n_rows", F.sum("cnt").over(by_key))
        .withColumn("rk", rank)
        .withColumn("ent_term", -p * F.log2(p))
    )
    return scored.groupBy("part", "column").agg(
        F.first("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("ent_term").alias("entropy"),
        F.max(F.when(F.col("rk") == 1, F.col("value"))).alias("top_value"),
        F.max(F.when(F.col("rk") == 1, p)).alias("top_frac"),
    )


def distinct_value_profile(
    df: DataFrame, cols: tuple[str, ...] | list[str], part_col: str = "part"
) -> DataFrame:
    """Per-partition distinctness / uniqueness ratio profile — the
    exact-ratio family deequ ships as Distinctness, Uniqueness and
    UniqueValueRatio, missing between B5's bare distinct count and
    C41's declared functional dependencies: "how close is this column
    to a key, and how is that drifting per partition?".

    → (part, column, n_rows, n_nonnull, n_distinct, n_once,
       distinctness, uniqueness, unique_value_ratio)

    - ``distinctness``       — n_distinct / n_nonnull. 1.0 means every
      non-null value appears once (candidate key); a drop run over run
      means a producer started emitting repeats (retry storm, replayed
      batch) even when marginal null rates and ranges all pass.
    - ``uniqueness``         — (values occurring EXACTLY once) /
      n_nonnull — deequ's Uniqueness: the fraction of rows that are
      singletons. More sensitive than distinctness: one value going
      hot moves uniqueness by every absorbed row but distinctness by
      only the lost value count.
    - ``unique_value_ratio`` — n_once / n_distinct — deequ's
      UniqueValueRatio: of the value SET, how much is singleton.
    - an all-null (or empty) part keeps its row with n_nonnull = 0 and
      NULL ratios (``try_divide`` — undefined, never a silent 0 or a
      dropped row, so the suite form can emit NOT_READY).

    Plan: ONE scan (row-local struct melt, NULLs kept as a real
    group so n_rows/n_nonnull come from the same relation) + ONE
    map-combined (part, column, value) hash-agg — the exchange carries
    distinct values, not rows — then a key-sized per-(part, column)
    reduction. Same exact-value-set contract as
    :func:`categorical_profile` (≤ ~10^6 distinct values per column
    per part comfortably; above that use the B6 HLL sketch for
    distinctness and accept losing the singleton ratios — a sketch
    cannot count exactly-once values)."""
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
        for c in cols
    ]
    counts = (
        df.select(F.col(part_col).alias("part"), F.explode(F.array(*structs)).alias("mv"))
        .select("part", "mv.column", "mv.value")
        .groupBy("part", "column", "value")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nonnull = F.col("value").isNotNull()
    n_nonnull = F.sum(F.when(nonnull, F.col("cnt")).otherwise(F.lit(0)))
    n_distinct = F.count(F.when(nonnull, F.lit(1)))
    n_once = F.count(F.when(nonnull & (F.col("cnt") == 1), F.lit(1)))
    return (
        counts.groupBy("part", "column")
        .agg(
            F.sum("cnt").alias("n_rows"),
            n_nonnull.alias("n_nonnull"),
            n_distinct.alias("n_distinct"),
            n_once.alias("n_once"),
        )
        .select(
            "part",
            "column",
            "n_rows",
            "n_nonnull",
            "n_distinct",
            "n_once",
            F.try_divide(F.col("n_distinct"), F.col("n_nonnull")).alias("distinctness"),
            F.try_divide(F.col("n_once"), F.col("n_nonnull")).alias("uniqueness"),
            F.try_divide(F.col("n_once"), F.col("n_distinct")).alias(
                "unique_value_ratio"
            ),
        )
    )


#: inference priority: narrowest class first; a class is eligible when
#: EVERY non-null value conforms. boolean before bigint so '1'/'0'
#: columns mixed with 'true'/'false' don't mis-infer; date before
#: timestamp so pure YYYY-MM-DD columns (which also timestamp-cast)
#: infer as date.
_INFER_ORDER = ("boolean", "bigint", "double", "date", "timestamp")


def type_inference_profile(
    df: DataFrame,
    cols: tuple[str, ...] | list[str],
    part_col: str | None = None,
) -> DataFrame:
    """Type-INFERENCE profile for string-typed ingest columns — the
    discovery twin of B11's TypeConformance (which checks a DECLARED
    type): with no declaration at all, what type does each column's
    data actually carry? A stringly-typed landing table whose
    "width" column stops inferring bigint is a producer change run
    over run, visible before anyone declares a contract (deequ /
    pandas-profiling's inferred-schema analyzer).

    → (part?, column, n_rows, n_null, n_bigint, n_double, n_boolean,
       n_date, n_timestamp, inferred) where ``n_<t>`` counts non-null
    values that ``try_cast`` to ``t`` and ``inferred`` is the
    NARROWEST class covering every non-null value (priority boolean >
    bigint > double > date > timestamp > 'string'; an all-null column
    is 'empty'). Pure ANSI try_cast — JVM codegen, and value-portable
    to a DuckDB oracle (the bigint rule is stated as integral-string,
    which is Spark's semantics; DuckDB's TRY_CAST would round '1.5').

    Plan: ONE scan (columns melted row-locally into (column, value)
    structs) + ONE (part?, column) hash aggregation — map-side
    partials carry len(cols) rows per task regardless of input size."""
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("v"))
        for c in cols
    ]
    melted = df.select(
        *([F.col(part_col)] if part_col else []),
        F.explode(F.array(*structs)).alias("mv"),
    ).select(*([part_col] if part_col else []), "mv.column", "mv.v")
    v = F.col("v")
    # Two inference-specific tightenings of raw try_cast semantics:
    # - Spark parses bare integral strings as dates ('2024' →
    #   2024-01-01, '12345' → year 12345); for inference an integral
    #   string is a number (it already conforms to bigint, which
    #   outranks date), so the temporal classes exclude it.
    # - a timestamp string date-casts by TRUNCATION ('2024-01-15
    #   10:30:00' → 2024-01-15), which would make a pure-timestamp
    #   column infer 'date'; the date class therefore additionally
    #   requires the value to be date-SHAPED (no time component) —
    #   a mixed date+timestamp column then correctly infers timestamp.
    integral = F.trim(v).rlike(r"^[+-]?[0-9]+$")
    date_shaped = F.trim(v).rlike(r"^[0-9]{4,}-[0-9]{1,2}-[0-9]{1,2}$")
    # every Spark-castable datetime string starts sign? + year + '-'
    # (bare years are integral and excluded anyway); guarding the
    # temporal classes with this shape — and putting the guard FIRST,
    # since codegen AND short-circuits left to right — skips the
    # expensive Java datetime parse for every non-temporal value
    # (~20% on the date-heavy contract melt; proportionally more on
    # the numeric/id columns a real ingest profiles). The guard is
    # part of the class definition and replayed in the oracle.
    ts_prefix = F.trim(v).rlike(r"^[+-]?[0-9]{4,}-")
    casts = {
        "bigint": F.expr("try_cast(v AS bigint)").isNotNull(),
        "double": F.expr("try_cast(v AS double)").isNotNull(),
        "boolean": F.expr("try_cast(v AS boolean)").isNotNull(),
        "date": date_shaped & F.expr("try_cast(v AS date)").isNotNull(),
        "timestamp": ts_prefix
        & ~integral
        & F.expr("try_cast(v AS timestamp)").isNotNull(),
    }
    agg = melted.groupBy(*([part_col] if part_col else []), "column").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(v.isNull()).alias("n_null"),
        *[
            F.count_if(v.isNotNull() & pred).alias(f"n_{t}")
            for t, pred in casts.items()
        ],
    )
    nn = F.col("n_rows") - F.col("n_null")
    inferred = F.when(nn == 0, F.lit("empty"))
    for t in _INFER_ORDER:
        inferred = inferred.when(F.col(f"n_{t}") == nn, F.lit(t))
    return agg.withColumn("inferred", inferred.otherwise(F.lit("string")))


def mask_col(x: Column, squeeze: bool = False) -> Column:
    """Format mask of a string value: uppercase → ``A``, lowercase →
    ``a``, digit → ``9``, everything else (punctuation, space,
    non-ASCII) verbatim — ``Clerk#000000001`` → ``Aaaaa#999999999``.
    The unsqueezed mask keeps LENGTH information (an id column going
    from 9-digit to 12-digit is a mask change), and its regex chain is
    replayable in any engine. ``squeeze=True`` additionally collapses
    runs of the same mask character (→ ``Aa#9``) — format-shape only;
    Spark-side extra (the run-collapse needs a backreference in the
    regex PATTERN, which RE2-based engines like DuckDB refuse, so the
    oracle-checked form is the unsqueezed one). NULL stays NULL."""
    m = F.regexp_replace(x.cast("string"), "[A-Z]", "A")
    m = F.regexp_replace(m, "[a-z]", "a")
    m = F.regexp_replace(m, "[0-9]", "9")
    if squeeze:
        m = F.regexp_replace(m, r"(.)\1+", "$1")
    return m


def mask_profile(
    df: DataFrame,
    cols: tuple[str, ...] | list[str],
    part_col: str | None = None,
    top_k: int = 50,
    squeeze: bool = False,
) -> DataFrame:
    """Format-MASK profile — the format-discovery twin of
    :func:`type_inference_profile` (pandas-profiling's mask analysis;
    deequ's PatternMatch is the DECLARED form, B22's DomainCheck
    here): for stringly-typed id/code columns, what VALUE SHAPES does
    the column actually carry, per partition? A producer switching id
    schemes (``ORD-000123`` → ``ord_123``), widening a zero-padded
    number, or leaking a second format into 2% of rows moves this
    profile run over run while type inference (both are 'string'),
    null rates and lengths-in-range all still pass.

    → (part?, column, mask, n, n_rows, n_masks, frac, rank) — the top
    ``top_k`` masks per (part?, column) by (n desc, mask asc NULLS
    FIRST), fully deterministic so the bounded result is
    oracle-portable; ``n_rows`` / ``n_masks`` are the UNCAPPED totals
    so truncation is visible (rank ≤ top_k but n_masks says how many
    existed). NULL values keep their group (mask NULL) — correlated
    missingness is visible without cross-referencing B2.

    Plan: ONE scan (row-local melt + row-local regex translation,
    whole-stage codegen) + ONE map-combined (part?, column, mask)
    hash-agg — the exchange carries distinct MASKS, which is the
    point: masks collapse value populations to format populations
    (an id column has 10^12 values and a handful of masks). Same
    ≤~10^6-distinct-groups contract as ``categorical_profile`` for
    pathological inputs (random-case text where every value is its
    own mask); totals ride window sums over the aggregated relation
    and the cap is a per-group row_number — all metadata-scale."""
    keys = [part_col] if part_col else []
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            mask_col(F.col(c), squeeze=squeeze).alias("mask"),
        )
        for c in cols
    ]
    counts = (
        df.select(*[F.col(k) for k in keys], F.explode(F.array(*structs)).alias("mv"))
        .select(*keys, "mv.column", "mv.mask")
        .groupBy(*keys, "column", "mask")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grp = Window.partitionBy(*keys, "column")
    rk = Window.partitionBy(*keys, "column").orderBy(
        F.desc("n"), F.asc_nulls_first("mask")
    )
    return (
        counts.withColumn("n_rows", F.sum("n").over(grp))
        .withColumn("n_masks", F.count(F.lit(1)).over(grp))
        .withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= top_k)
        .select(
            *keys,
            "column",
            "mask",
            "n",
            "n_rows",
            "n_masks",
            F.round(F.col("n") / F.col("n_rows"), 9).alias("frac"),
            "rank",
        )
    )


def first_digit_col(x: Column) -> Column:
    """First significant digit of a positive finite numeric value —
    ``floor(x / 10^floor(log10 x))`` with the log rounded to 9
    decimals BEFORE the floor so a 1-ulp cross-engine libm difference
    at an exact power of 10 (log10(1000) → 2.999…96 vs 3.0) can never
    shift the exponent, and the quotient clamped to [1, 9] so a value
    within 5e-10 relative of a power of 10 from below (round-up puts
    it at quotient 0.999…) degrades to the SAME digit in every engine
    instead of an out-of-range 0. NULL for non-positive / NULL input
    (Benford's law is a statement about positive magnitudes)."""
    xd = x.cast("double")
    e = F.floor(F.round(F.log10(xd), 9))
    d = F.floor(xd / F.pow(F.lit(10.0), e.cast("double")))
    return F.when(
        xd.isNotNull() & (xd > 0) & ~F.isnan(xd) & (xd != float("inf")),
        F.greatest(F.lit(1), F.least(F.lit(9), d)).cast("int"),
    )


def benford_profile(
    df: DataFrame,
    cols: tuple[str, ...] | list[str],
    part_col: str | None = None,
) -> DataFrame:
    """Benford first-significant-digit profile — the numeric-sanity
    screen (Nigrini's digit test; deequ's Compliance family) for
    magnitude-like columns spanning several decades (file sizes, byte
    lengths, token counts, prices): organically generated magnitudes
    follow P(d) = log10(1 + 1/d), while fabricated, clipped, defaulted
    or unit-mangled feeds visibly don't — a producer silently filling
    a size column with a constant or re-scaling units moves this
    profile run over run even when min/max/null-rate all still pass.
    A diagnostic profile, not a gate: columns that are NOT naturally
    Benford (sequential ids, uniform prices) simply report their own
    stable digit distribution, and DRIFT in it is the signal.

    → (part?, column, digit ∈ 1..9, n, n_eligible, frac, benford,
       dev) — grid-filled: every (part?, column) group emits ALL nine
    digits (n = 0 where absent) so run-over-run frames align
    row-for-row and a digit vanishing entirely is a visible 0, not a
    missing row. ``n_eligible`` counts positive finite values (NULL /
    zero / negative / NaN / Inf rows are excluded from the law, not
    from ``frac``'s denominator drama — marginal nullness is B2's
    business); ``frac`` = n / n_eligible, ``benford`` = the expected
    log10(1 + 1/digit), ``dev`` = |frac − benford|, all rounded to 9
    so a libm ulp can't split engines. An all-ineligible group keeps
    its nine rows with n_eligible = 0 and NULL frac/dev (try_divide —
    undefined, never a silent 0).

    Plan: ONE scan (row-local struct melt + row-local digit
    extraction) + ONE map-combined (part?, column, digit) hash-agg —
    the exchange carries ≤ parts × |cols| × 10 groups regardless of
    input size; the digit spine joins are key-sized (metadata-scale).
    Summary: :func:`benford_mad`."""
    keys = [part_col] if part_col else []
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("double").alias("x"))
        for c in cols
    ]
    melted = df.select(
        *[F.col(k) for k in keys], F.explode(F.array(*structs)).alias("mv")
    ).select(*keys, "mv.column", first_digit_col(F.col("mv.x")).alias("digit"))
    counts = melted.groupBy(*keys, "column", "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy(*keys, "column").agg(
        F.sum(F.when(F.col("digit").isNotNull(), F.col("n")).otherwise(F.lit(0))).alias(
            "n_eligible"
        )
    )
    spine = totals.crossJoin(
        df.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    )
    filled = spine.join(counts, [*keys, "column", "digit"], "left").select(
        *keys,
        "column",
        "digit",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "n_eligible",
    )
    frac = F.try_divide(F.col("n"), F.col("n_eligible"))
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return filled.select(
        *keys,
        "column",
        "digit",
        "n",
        "n_eligible",
        F.round(frac, 9).alias("frac"),
        F.round(benford, 9).alias("benford"),
        F.round(F.abs(frac - benford), 9).alias("dev"),
    )


def benford_mad(profile: DataFrame) -> DataFrame:
    """Mean absolute deviation summary over a :func:`benford_profile`
    frame — Nigrini's MAD conformity statistic, one row per
    (part?, column): mad = mean over the nine digits of
    |frac − benford| (NULL when the group had no eligible values).
    Nigrini's published cutoffs for reference (first-digit test):
    ≤0.006 close conformity, ≤0.012 acceptable, ≤0.015 marginal,
    >0.015 nonconformity — but for validation the actionable use is
    |Δmad| across runs/snapshots, which needs no conformity at all.
    Metadata-scale: aggregates the ≤ parts × |cols| × 9-row profile."""
    keys = [c for c in profile.columns if c not in (
        "column", "digit", "n", "n_eligible", "frac", "benford", "dev"
    )]
    return profile.groupBy(*keys, "column").agg(
        F.max("n_eligible").alias("n_eligible"),
        F.round(F.avg("dev"), 9).alias("mad"),
    )


def benford_shift(
    raw: DataFrame,
    curated: DataFrame,
    cols: tuple[str, ...] | list[str],
    part_col: str = "part",
) -> DataFrame:
    """Cross-snapshot first-digit drift: |mad_raw − mad_cur| per
    (partition × column) — :func:`correlation_shift`'s magnitude twin
    and the ACTIONABLE form of the Benford family (conformity to the
    law needs a Benford-like column; a CHANGE in the digit
    distribution's MAD indicts the producer on any magnitude column).
    Join is between two parts×cols-sized MAD frames — metadata-scale
    at any corpus size; full outer, so a side whose MAD became
    UNDEFINED (a column went all-zero/negative/null) surfaces as a
    NULL shift instead of vanishing — that collapse is exactly the
    regression this hunts."""
    a = benford_mad(benford_profile(raw, cols, part_col)).select(
        part_col,
        "column",
        F.col("n_eligible").alias("n_raw"),
        F.col("mad").alias("mad_raw"),
    )
    b = benford_mad(benford_profile(curated, cols, part_col)).select(
        part_col,
        "column",
        F.col("n_eligible").alias("n_cur"),
        F.col("mad").alias("mad_cur"),
    )
    return a.join(b, [part_col, "column"], "full_outer").select(
        part_col, "column", "n_raw", "n_cur", "mad_raw", "mad_cur",
        F.round(F.abs(F.col("mad_raw") - F.col("mad_cur")), 9).alias("mad_shift"),
    )


def numeric_correlation(
    df: DataFrame,
    pairs: list[tuple[str, str]] | tuple[tuple[str, str], ...],
    part_col: str = "part",
) -> DataFrame:
    """Per-partition Pearson correlation for numeric column PAIRS —
    the structural-invariant profile (deequ's Correlation analyzer
    re-expressed): a transform bug that rescales one column, swaps
    two columns, or decouples fields that move together shifts the
    correlation even when every per-column stat still PASSes.

    → (part, pair, n_pairs, corr) long format, one row per
    (partition × pair); ``n_pairs`` counts PAIRWISE-COMPLETE rows
    (both sides non-null — the population the correlation is over).

    Built from ``covar_samp`` / ``stddev_samp`` over pairwise-complete
    values rather than ``F.corr``: Spark 4's ANSI mode makes ``corr``
    THROW Division-by-zero on a zero-variance group, while
    ``try_divide`` degrades to NULL — the same answer DuckDB's
    ``corr`` gives (verified: single-row and constant-column groups
    → NULL in both engines). The moment accumulators are Spark's
    numerically-stable central-moment updates, not raw Σxy sums —
    at 10^12 rows a naive nΣxy−ΣxΣy formula loses the 6 decimals the
    contract compares.

    Plan: ONE fused hash-agg per partition (all pairs' moments in the
    same pass — zero extra scans per pair), melted to long format
    AFTER the reduction, so the exchange carries parts × 1 rows."""
    aggs: list[Column] = []
    for x, y in pairs:
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        xs = F.when(both, F.col(x).cast("double"))
        ys = F.when(both, F.col(y).cast("double"))
        tag = f"{x}__{y}"
        aggs += [
            F.count(F.when(both, F.lit(1))).alias(f"n__{tag}"),
            F.round(
                F.try_divide(
                    F.covar_samp(xs, ys),
                    F.stddev_samp(xs) * F.stddev_samp(ys),
                ),
                6,
            ).alias(f"c__{tag}"),
        ]
    wide = df.groupBy(F.col(part_col).alias("part")).agg(*aggs)
    melted = F.array(
        *[
            F.struct(
                F.lit(f"{x}~{y}").alias("pair"),
                F.col(f"n__{x}__{y}").alias("n_pairs"),
                F.col(f"c__{x}__{y}").alias("corr"),
            )
            for x, y in pairs
        ]
    )
    return wide.select("part", F.explode(melted).alias("m")).select(
        "part", "m.pair", "m.n_pairs", "m.corr"
    )


def mutual_information(
    df: DataFrame, x: str, y: str, part_col: str = "part"
) -> DataFrame:
    """Per-partition mutual information between two categorical
    columns — the dependence twin of :func:`numeric_correlation`
    (deequ's MutualInformation analyzer re-expressed): Pearson sees
    only linear numeric coupling; MI catches ANY dependence between
    enum-like columns (a router that started sending one language to
    one source, an event type that became hour-of-day-locked), which
    per-column entropy profiles are blind to by construction.

    → (part, n_rows, mi, h_x, h_y, mi_norm), one row per partition:

    - ``mi``      — I(X;Y) in bits over rows where BOTH sides are
      non-null (the population a dependence statement is about),
      Σ p(x,y)·log2(p(x,y)/(p(x)p(y))); clamped at 0 before rounding
      (mathematically ≥ 0; floating summation can land at −1e−17 and
      the clamp keeps the −0.0/0.0 split from ever reaching a
      cross-engine compare).
    - ``h_x``/``h_y`` — marginal Shannon entropies of the same
      population (the ceilings MI lives under: MI ≤ min(H(X),H(Y))).
    - ``mi_norm`` — MI / min(H(X), H(Y)) ∈ [0,1]; NULL (try_divide)
      when a side is constant — a 1.0 means one column DETERMINES the
      other (a disguised duplicate column), undefined is NOT_READY
      territory, not a silent 0.

    Plan: ONE scan + ONE (part, x, y) hash-agg with map-side combine
    — the only data-sized shuffle; marginals come from window sums
    over the JOINT-COUNT relation (each joint row's x-marginal term
    −p·log2(cx/n) sums to H(X) exactly because Σ_y c = cx), so
    everything after the first agg is metadata-scale. Exact, like
    categorical_profile, and under the same contract: the distinct
    (x, y) pair set per part must fit a shuffle partition (≤ ~10^6);
    high-cardinality columns belong to the sketch paths."""
    j = (
        df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .groupBy(
            F.col(part_col).alias("part"),
            F.col(x).cast("string").alias("x"),
            F.col(y).cast("string").alias("y"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    by_part = Window.partitionBy("part")
    cx = F.sum("c").over(Window.partitionBy("part", "x"))
    cy = F.sum("c").over(Window.partitionBy("part", "y"))
    n = F.sum("c").over(by_part)
    p = F.col("c") / F.col("n")
    scored = (
        j.withColumn("cx", cx)
        .withColumn("cy", cy)
        .withColumn("n", n)
        .select(
            "part",
            "n",
            (p * F.log2(F.col("c") * F.col("n") / (F.col("cx") * F.col("cy")))).alias("mi_term"),
            (-p * F.log2(F.col("cx") / F.col("n"))).alias("hx_term"),
            (-p * F.log2(F.col("cy") / F.col("n"))).alias("hy_term"),
        )
    )
    zero = F.lit(0.0)
    mi_raw = F.greatest(zero, F.sum("mi_term"))
    hx_raw = F.greatest(zero, F.sum("hx_term"))
    hy_raw = F.greatest(zero, F.sum("hy_term"))
    return scored.groupBy("part").agg(
        F.max("n").cast("long").alias("n_rows"),
        F.round(mi_raw, 6).alias("mi"),
        F.round(hx_raw, 6).alias("h_x"),
        F.round(hy_raw, 6).alias("h_y"),
        F.round(F.try_divide(mi_raw, F.least(hx_raw, hy_raw)), 6).alias("mi_norm"),
    )


class CorrelationBound(AggConstraint):
    """Fusable per-partition structural-invariant constraint: the
    Pearson correlation of ``(x, y)`` must stay inside ``[lo, hi]``
    in every partition — the declared-bounds form of
    :func:`numeric_correlation` (e.g. ``corr(w, h)`` of an image
    table holds a known range; a resize bug or column swap leaves it
    while every per-column stat still passes).

    Rides the suite's single stats aggregation: the moment aggregates
    run over pairwise-complete values, the verdict from their
    ANSI-safe ``try_divide`` ratio. NOT_READY when the correlation is
    undefined (degenerate or near-empty group) — an undefined
    invariant is a part to look at, not a pass."""

    def __init__(self, x: str, y: str, lo: float = -1.0, hi: float = 1.0):
        self.x, self.y, self.lo, self.hi = x, y, float(lo), float(hi)
        self.name = f"correlation.{x}~{y}"
        self._tag = f"cb__{x}__{y}"

    def agg_exprs(self) -> list[Column]:
        both = F.col(self.x).isNotNull() & F.col(self.y).isNotNull()
        xs = F.when(both, F.col(self.x).cast("double"))
        ys = F.when(both, F.col(self.y).cast("double"))
        return [
            F.round(
                F.try_divide(
                    F.covar_samp(xs, ys), F.stddev_samp(xs) * F.stddev_samp(ys)
                ),
                6,
            ).alias(self._tag)
        ]

    def verdict_col(self) -> Column:
        from bigdime_spark.schema import FAIL, NOT_READY, PASS

        c = F.col(self._tag)
        return (
            F.when(c.isNull(), F.lit(NOT_READY))
            .when((c >= self.lo) & (c <= self.hi), F.lit(PASS))
            .otherwise(F.lit(FAIL))
        )

    def observed_col(self) -> Column:
        return F.col(self._tag).cast("string")

    def expected_col(self) -> Column:
        return F.lit(f"corr in [{self.lo}, {self.hi}]")


def correlation_shift(
    raw: DataFrame,
    curated: DataFrame,
    pairs: list[tuple[str, str]] | tuple[tuple[str, str], ...],
    part_col: str = "part",
) -> DataFrame:
    """Cross-snapshot correlation drift: |corr_raw − corr_cur| per
    (partition × pair). The join is between two parts×pairs-sized
    profile frames — metadata-scale at any corpus size. A NULL on
    either side (degenerate group) yields a NULL shift, surfaced
    rather than dropped (full outer join): a pair that WAS correlated
    and became constant is exactly the regression this hunts."""
    a = numeric_correlation(raw, pairs, part_col).withColumnsRenamed(
        {"n_pairs": "n_raw", "corr": "corr_raw"}
    )
    b = numeric_correlation(curated, pairs, part_col).withColumnsRenamed(
        {"n_pairs": "n_cur", "corr": "corr_cur"}
    )
    joined = a.join(b, ["part", "pair"], "full_outer")
    return joined.select(
        "part", "pair", "n_raw", "n_cur", "corr_raw", "corr_cur",
        F.round(F.abs(F.col("corr_raw") - F.col("corr_cur")), 6).alias("corr_shift"),
    )


def mutual_info_shift(
    raw: DataFrame,
    curated: DataFrame,
    x: str,
    y: str,
    part_col: str = "part",
) -> DataFrame:
    """Cross-snapshot dependence drift: |mi_norm_raw − mi_norm_cur|
    per partition — :func:`correlation_shift`'s categorical twin. The
    normalized form is the comparable one (raw MI moves with marginal
    entropy even when the coupling didn't change). Join is between two
    parts-sized profile frames — metadata-scale; full outer, so a side
    whose MI became UNDEFINED (a column collapsed to a constant)
    surfaces as a NULL shift instead of vanishing — that collapse is
    exactly the regression this hunts."""
    a = mutual_information(raw, x, y, part_col).select(
        "part",
        F.col("n_rows").alias("n_raw"),
        F.col("mi_norm").alias("mi_norm_raw"),
    )
    b = mutual_information(curated, x, y, part_col).select(
        "part",
        F.col("n_rows").alias("n_cur"),
        F.col("mi_norm").alias("mi_norm_cur"),
    )
    return a.join(b, "part", "full_outer").select(
        "part", "n_raw", "n_cur", "mi_norm_raw", "mi_norm_cur",
        F.round(F.abs(F.col("mi_norm_raw") - F.col("mi_norm_cur")), 6).alias("mi_shift"),
    )


class MutualInfoBound(TableConstraint):
    """Suite-integrated declared-bounds form of
    :func:`mutual_information` — :class:`CorrelationBound`'s
    categorical twin, as a TableConstraint (MI needs its own
    (part, x, y) aggregation; it cannot ride the fused stats pass).

    Verdict family ``mutual_info.<x>~<y>``: per-part normalized MI
    must stay in ``[lo, hi]``. ``hi`` guards against a column pair
    COLLAPSING into dependence (one column starts determining the
    other — a disguised duplicate / routing bug); ``lo`` guards
    invariants that are SUPPOSED to be coupled. NOT_READY when
    mi_norm is undefined (a side went constant) — an undefined
    invariant is a part to look at, not a pass.

    Partial-verdicts convention (same as DriftCheck): only parts
    present in the profile emit rows; a part with zero
    pairwise-complete (x, y) rows gets PASS from the suite's shared
    grid join — pair with not_null constraints on x/y when absence
    itself must fail."""

    partial_verdicts = True

    def __init__(self, x: str, y: str, lo: float = 0.0, hi: float = 1.0):
        self.x, self.y = x, y
        self.lo, self.hi = float(lo), float(hi)
        self.name = f"mutual_info.{x}~{y}"

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx):
        from bigdime_spark.schema import FAIL, NOT_READY, PASS

        prof = mutual_information(ctx.raw, self.x, self.y)
        m = F.col("mi_norm")
        found = prof.select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.when(m.isNull(), F.lit(NOT_READY))
            .when((m >= self.lo) & (m <= self.hi), F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(F.lit("mi_norm="), m.cast("string")).alias("observed"),
            F.lit(f"mi_norm in [{self.lo}, {self.hi}]").alias("expected"),
        )
        return found, None


class DistinctnessBound(TableConstraint):
    """Suite-integrated declared-bounds form of
    :func:`distinct_value_profile` — deequ's
    hasUniqueness/hasDistinctness as a TableConstraint (the ratios
    need their own (part, column, value) aggregation; they cannot
    ride the fused stats pass, same boundary as
    :class:`MutualInfoBound`).

    Verdict family ``distinctness.<col>``: the chosen ratio
    (``metric`` ∈ {distinctness, uniqueness, unique_value_ratio})
    must stay in ``[lo, hi]`` per part. ``lo`` guards near-key
    columns against duplicate leakage (image_id distinctness sliding
    below 1.0 = a replayed producer batch B16 will also catch, but
    THIS form quantifies partial degradation on columns that are
    merely near-unique, not declared keys); ``hi`` guards columns
    that are SUPPOSED to repeat (a lang column at uniqueness 1.0
    means the tagger started emitting garbage). NOT_READY when the
    ratio is undefined (zero non-null values in the part)."""

    partial_verdicts = True

    _METRICS = ("distinctness", "uniqueness", "unique_value_ratio")

    def __init__(
        self,
        column: str,
        lo: float = 0.0,
        hi: float = 1.0,
        metric: str = "distinctness",
    ):
        if metric not in self._METRICS:
            raise ValueError(
                f"metric={metric!r} unsupported: one of {self._METRICS}"
            )
        self.column = column
        self.lo, self.hi = float(lo), float(hi)
        self.metric = metric
        self.name = f"distinctness.{column}"

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx):
        from bigdime_spark.schema import FAIL, NOT_READY, PASS

        prof = distinct_value_profile(ctx.raw, (self.column,))
        m = F.col(self.metric)
        found = prof.select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.when(m.isNull(), F.lit(NOT_READY))
            .when((m >= self.lo) & (m <= self.hi), F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(F.lit(f"{self.metric}="), m.cast("string")).alias("observed"),
            F.lit(f"{self.metric} in [{self.lo}, {self.hi}]").alias("expected"),
        )
        return found, None


class CategoricalBound(TableConstraint):
    """Suite-integrated declared-bounds form of
    :func:`categorical_profile` — deequ's hasEntropy /
    hasHistogramValues family as a TableConstraint (the exact value
    distribution needs its own (part, column, value) aggregation;
    same boundary as :class:`DistinctnessBound`).

    Verdict family ``categorical_<metric>.<col>`` with ``metric`` ∈
    {entropy, top_frac, n_distinct}, bound to ``[lo, hi]`` per part:

    - ``entropy`` lo-bound catches mode collapse (every image suddenly
      'raw' — the categorical analogue of a stuck phash bit) as a
      DECLARED gate, before the cross-run drift machinery needs two
      snapshots to see it; the hi-bound catches value-set explosions.
    - ``top_frac`` hi-bound is the operationally blunter twin ("no
      single fmt may exceed 80% of a part").
    - ``n_distinct`` bounds the value-set size itself.

    NOT_READY when the part has zero non-null values (the profile
    emits no row; the suite's partial-verdict grid fills the gap)."""

    partial_verdicts = True

    _METRICS = ("entropy", "top_frac", "n_distinct")

    def __init__(
        self,
        column: str,
        metric: str = "entropy",
        lo: float = 0.0,
        hi: float | None = None,
    ):
        if metric not in self._METRICS:
            raise ValueError(
                f"metric={metric!r} unsupported: one of {self._METRICS}"
            )
        self.column = column
        self.metric = metric
        self.lo = float(lo)
        self.hi = float("inf") if hi is None else float(hi)
        if self.hi < self.lo:
            raise ValueError(
                f"categorical bound: hi {self.hi} < lo {self.lo}"
            )
        self.name = f"categorical_{metric}.{column}"

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx):
        from bigdime_spark.schema import FAIL, NOT_READY, PASS

        # several bounds on one column (entropy + top_frac +
        # n_distinct is the normal trio) share ONE profile scan: the
        # single profile row already carries all three metrics, so the
        # first bound builds + persists it and the siblings reuse it
        # (released with the run via the suite's persisted registry)
        cache = ctx.extras.setdefault("categorical_bound_profiles", {})
        prof = cache.get(self.column)
        if prof is None:
            prof = categorical_profile(ctx.raw, (self.column,))
            if ctx.parts is not None:
                # an all-NULL part emits no profile row (NULLs are
                # excluded from the value distribution); that part is
                # NOT_READY, not the grid-fill PASS a missing row
                # would become
                prof = ctx.parts.select("part").join(prof, "part", "left")
            registry = ctx.extras.get("persisted")
            if registry is not None:
                prof = prof.persist()
                registry.append(prof)
            cache[self.column] = prof
        m = F.col(self.metric).cast("double")
        hi_txt = "inf" if self.hi == float("inf") else str(self.hi)
        found = prof.select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.when(m.isNull(), F.lit(NOT_READY))
            .when((m >= self.lo) & (m <= self.hi), F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(
                F.lit(f"{self.metric}="), F.round(m, 6).cast("string")
            ).alias("observed"),
            F.lit(f"{self.metric} in [{self.lo}, {hi_txt}]").alias("expected"),
        )
        return found, None


class BenfordBound(TableConstraint):
    """Suite-integrated declared-bounds form of :func:`benford_mad` —
    a TableConstraint (the digit distribution needs its own
    (part, column, digit) aggregation; it cannot ride the fused stats
    pass, same boundary as :class:`MutualInfoBound`).

    Verdict family ``benford.<col>``: the per-part Nigrini MAD of the
    first-digit distribution must stay ≤ ``max_mad``. Declare it on
    magnitude columns KNOWN to be Benford-like (byte sizes across a
    varied corpus, durations, token counts) with a cutoff-scale bound
    (0.015 = Nigrini's nonconformity line), or on any numeric column
    with a loose bound as a pure fabrication tripwire — a producer
    filling the column with constants or re-scaling units slams MAD
    toward its ~0.17 single-digit ceiling long before 0.05.

    NOT_READY when MAD is undefined (no eligible values) OR the part
    has fewer than ``min_eligible`` positive finite values — MAD over
    a handful of rows is sampling noise, not evidence, and Nigrini's
    cutoffs assume large n; an under-supplied part is a part to look
    at, not a pass or a spurious fail.

    Partial-verdicts convention (same as DriftCheck): parts absent
    from the profile get PASS from the suite's shared grid join —
    pair with not_null constraints when absence itself must fail."""

    partial_verdicts = True

    def __init__(
        self, column: str, max_mad: float = 0.015, min_eligible: int = 100
    ):
        if not max_mad > 0:
            raise ValueError(f"max_mad must be > 0, got {max_mad}")
        if min_eligible < 1:
            raise ValueError(f"min_eligible must be >= 1, got {min_eligible}")
        self.column = column
        self.max_mad = float(max_mad)
        self.min_eligible = int(min_eligible)
        self.name = f"benford.{column}"

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx):
        from bigdime_spark.schema import FAIL, NOT_READY, PASS

        prof = benford_mad(
            benford_profile(ctx.raw, (self.column,), part_col="part")
        )
        m = F.col("mad")
        found = prof.select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.when(
                m.isNull() | (F.col("n_eligible") < self.min_eligible),
                F.lit(NOT_READY),
            )
            .when(m <= self.max_mad, F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(
                F.lit("mad="),
                F.coalesce(m.cast("string"), F.lit("undefined")),
                F.lit(" n_eligible="),
                F.col("n_eligible").cast("string"),
            ).alias("observed"),
            F.lit(
                f"benford mad <= {self.max_mad} "
                f"(n_eligible >= {self.min_eligible})"
            ).alias("expected"),
        )
        return found, None


def default_image_stats() -> StatsProfile:
    """Stats over the BASELINE.json:15 schema — non-binary columns only
    (the stats scan must never read `bytes` pages — SURVEY B0b)."""
    return StatsProfile(
        columns=[
            ColumnProfile("image_id", stringlike=True, distinct=True),
            # histograms match DEFAULT_DRIFT_COLUMNS so every run's
            # stats output is cross-run-drift-ready (drift_from_stats)
            ColumnProfile("w", numeric=True, quantiles=(0.25, 0.5, 0.75), histogram=(0.0, 256.0, 32)),
            ColumnProfile("h", numeric=True, quantiles=(0.25, 0.5, 0.75), histogram=(0.0, 256.0, 32)),
            ColumnProfile("fmt", stringlike=True, distinct=True),
            ColumnProfile("caption", stringlike=True),
            ColumnProfile("phash", numeric=False, distinct=True, mode=True, histogram=(-9.3e18, 9.3e18, 64)),
        ]
    )
