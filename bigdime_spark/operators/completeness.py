"""Completeness / structural-integrity validators (SURVEY C40–C41 + B30).

Three checks a 10^12-row ingest feed needs that per-column stats miss
by construction:

- :func:`null_pattern_profile` — CORRELATED missingness discovery.
  B2's null rates are marginal: they cannot distinguish "w is null on
  2% of rows and caption is null on 2% of rows, independently" from
  "the same 2% of rows lost BOTH" (one producer dropping a whole
  struct). The joint null-mask distribution separates them, and a new
  mask combination appearing between runs is a producer change worth
  a verdict even when every marginal rate still passes.
- :func:`sequence_continuity` / :class:`SequenceContinuity` — dense-id
  continuity. RecordCount (B12) validates totals against a manifest;
  continuity validates the id SPACE: for a feed whose ids are minted
  densely (Kafka offsets, batch sequence numbers, autoincrement keys),
  gaps = dropped batches and dups = replayed batches, visible without
  any manifest at all.
- :func:`fd_violations` / :class:`FunctionalDependency` — declared
  functional dependencies (deequ's ``hasUniqueValueRatio`` family).
  "image_id determines phash", "sku determines brand": a determinant
  mapping to >1 dependent value is a splice/join bug upstream that no
  per-column stat can see (both columns profile clean).

Scale posture: every plan here is one or two hash aggregations whose
FIRST level reduces raw rows to distinct key tuples — the raw table is
scanned once and shuffled at most once on a high-cardinality key; all
downstream relations are key-sized, not row-sized. No UDFs, no windows
over row-scale frames, no unbounded collections (fd violation samples
are top-k via TakeOrderedAndProject).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdime_spark.operators.base import SuiteContext, TableConstraint, violation_rows
from bigdime_spark.schema import FAIL, NOT_READY, PASS


# ------------------------------------------------------------------ C40

def null_pattern_col(cols: list[str] | tuple[str, ...]) -> Column:
    """The row's null-mask as a readable csv of the null column names
    (in the caller's column order), ``'none'`` when fully populated.

    ``concat_ws`` skips NULL arguments in both Spark and DuckDB, which
    is what makes the pattern value-exact across engines."""
    flags = [F.when(F.col(c).isNull(), F.lit(c)) for c in cols]
    csv = F.concat_ws(",", *flags)
    return F.when(csv == "", F.lit("none")).otherwise(csv)


def null_pattern_profile(
    df: DataFrame,
    cols: list[str] | tuple[str, ...],
    part_col: str | None = None,
) -> DataFrame:
    """Joint null-mask distribution over ``cols``.

    → (part?, pattern, n_rows, frac) where ``pattern`` is the csv of
    null column names ('none' = fully populated) and ``frac`` is the
    pattern's share of its partition (round 6).

    Plan: ONE scan + ONE hash aggregation on (part, pattern) — the
    group count is at most parts × 2^len(cols), so map-side partials
    collapse the exchange to a few rows per task regardless of input
    size. ``frac`` comes from a window over the already-aggregated
    pattern relation (metadata-scale)."""
    from pyspark.sql import Window

    keys = ([part_col] if part_col else []) + ["pattern"]
    counts = (
        df.select(
            *([F.col(part_col)] if part_col else []),
            null_pattern_col(cols).alias("pattern"),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    w = Window.partitionBy(*([part_col] if part_col else []))
    return counts.withColumn(
        "frac",
        F.round(F.col("n_rows") / F.sum("n_rows").over(w), 6),
    )


# ------------------------------------------------------------------ B30

def _require_integral(df: DataFrame, id_col: str, op: str) -> None:
    """Gap arithmetic is defined on integers; a string/date column
    must be a clean ValueError (the CLI's exit-2 contract), not an
    AnalysisException traceback out of try_subtract."""
    from pyspark.sql import types as T

    f = next((fld for fld in df.schema.fields if fld.name == id_col), None)
    if f is None:
        raise ValueError(f"{op}: no column {id_col!r}")
    if not isinstance(
        f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"{op}: id column {id_col!r} must be an "
            f"integral type, got {f.dataType.simpleString()}"
        )


def sequence_continuity(
    df: DataFrame, id_col: str, part_col: str | None = "part"
) -> DataFrame:
    """Dense-id continuity profile: per partition (or whole-table when
    ``part_col=None``), how far the id column is from a gapless,
    duplicate-free integer sequence.

    → (part?, n_rows, n_null, n_distinct, min_id, max_id, gaps, dups)
    with gaps = (max−min+1) − n_distinct and dups = n_rows − n_distinct
    (both over NON-NULL ids; NULL ids are counted separately in
    ``n_null`` — they are the not-null validator's business, but an
    all-null part must surface as undefined, not as a clean zero, so
    min/max/gaps/dups are NULL there).

    Plan: level-1 groupBy(part, id) collapses raw rows to distinct ids
    (ONE row-scale shuffle, map-combined); level-2 reduces the id-sized
    relation per part. No countDistinct — the two-level form keeps the
    fused-agg-style Expand rewrite out of the plan entirely."""
    _require_integral(df, id_col, "sequence_continuity")
    keys = ([part_col] if part_col else []) + ["_sc_id"]
    l1 = (
        df.select(
            *([F.col(part_col)] if part_col else []),
            F.col(id_col).alias("_sc_id"),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_sc_n"))
    )
    nn = F.col("_sc_id").isNotNull()
    out = l1.groupBy(*([part_col] if part_col else [])).agg(
        F.sum(F.when(nn, F.col("_sc_n")).otherwise(F.lit(0))).alias("n_rows"),
        F.sum(F.when(~nn, F.col("_sc_n")).otherwise(F.lit(0))).alias("n_null"),
        F.count_if(nn).alias("n_distinct"),
        F.min(F.when(nn, F.col("_sc_id"))).alias("min_id"),
        F.max(F.when(nn, F.col("_sc_id"))).alias("max_id"),
    )
    # try_-arithmetic: a hash-like id column (phash) spans ±2^63, so
    # max−min+1 overflows int64 under ANSI — NULL gaps WITH non-zero
    # n_distinct means "span overflowed int64", which is as far from a
    # dense sequence as it gets (the suite constraint FAILs it loudly
    # rather than crashing the run or silently wrapping).
    span = F.try_add(F.try_subtract(F.col("max_id"), F.col("min_id")), F.lit(1))
    return out.select(
        *([part_col] if part_col else []),
        "n_rows",
        "n_null",
        "n_distinct",
        "min_id",
        "max_id",
        F.when(
            F.col("n_distinct") > 0, F.try_subtract(span, F.col("n_distinct"))
        ).alias("gaps"),
        F.when(F.col("n_distinct") > 0, F.col("n_rows") - F.col("n_distinct")).alias(
            "dups"
        ),
    )


class SequenceContinuity(TableConstraint):
    """Suite form of :func:`sequence_continuity` over the raw snapshot:
    verdict family ``sequence_continuity.<col>`` FAILs a partition
    whose non-null ids have more than ``max_gaps`` holes or any
    duplicates; a part with no non-null ids at all is NOT_READY (an
    undefined sequence is a part to look at, not a pass).

    Needs its own keyed aggregation (exact distinct), so it cannot
    ride the fused stats pass — same disposition as keyed uniqueness, whose
    per-key copy counts it deliberately does NOT duplicate: uniqueness
    attributes individual duplicate keys; continuity reads the id
    space as a whole (gaps have no row to point at).

    Partial-verdicts convention (DriftCheck's): emits rows only for
    parts present in the profile; parts absent from raw get PASS from
    the suite's shared grid join."""

    def __init__(self, id_col: str = "image_seq", max_gaps: int = 0):
        if int(max_gaps) < 0:
            # gaps >= 0 always: a negative budget would FAIL even a
            # perfect gapless sequence — reject it at declaration time
            raise ValueError(
                f"sequence_continuity: max_gaps must be >= 0, got {max_gaps}"
            )
        self.id_col = id_col
        self.max_gaps = int(max_gaps)
        self.name = f"sequence_continuity.{id_col}"

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, DataFrame | None]:
        prof = sequence_continuity(ctx.raw, self.id_col, part_col="part")
        # NULL gaps with data present = int64 span overflow (a hash-
        # like id space): the when(ok, ...) branch evaluates NULL, so
        # the verdict falls through to FAIL — correct, and the
        # observed string says "overflow" instead of a silent number
        ok = (F.col("gaps") <= self.max_gaps) & (F.col("dups") == 0)
        gaps_s = (
            F.when(F.col("gaps").isNotNull(), F.col("gaps").cast("string"))
            .when(F.col("n_distinct") > 0, F.lit("overflow"))
            .otherwise(F.lit("undefined"))
        )
        verdicts = prof.select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.when(F.col("n_distinct") == 0, F.lit(NOT_READY))
            .when(ok, F.lit(PASS))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(
                F.lit("gaps="),
                gaps_s,
                F.lit(",dups="),
                F.coalesce(F.col("dups").cast("string"), F.lit("undefined")),
            ).alias("observed"),
            F.lit(f"gaps<={self.max_gaps},dups=0").alias("expected"),
        )
        return verdicts, None


def gap_ranges(
    df: DataFrame,
    id_col: str,
    *,
    part_col: str | None = "part",
    max_ranges: int = 100,
) -> DataFrame:
    """The WHICH-keys companion to :func:`sequence_continuity`'s
    HOW-MANY count: contiguous missing-id ranges per partition →
    (part?, gap_start, gap_end, gap_len), at most ``max_ranges`` rows
    per partition — the FIRST holes by ascending start, a
    deterministic sample (hole starts are unique within a partition
    by construction). Truncation is never silent: the profile's exact
    ``gaps`` total is the authoritative count; this is the diagnostic
    you run on the partitions it flags.

    Plan: project (part, id) → distinct (two-phase hash agg collapses
    duplicate ids map-side, so the windowed relation is one row per
    id, not per input row) → ``lead(id)`` per partition (the one
    in-partition sort a range listing inherently needs — never a
    global sort: the window is partitioned) → filter jumps > 1 →
    row_number cap.

    Overflow posture matches the profile: a hole whose WIDTH exceeds
    int64 (hash-like ids spanning ±2^63) is emitted with NULL
    ``gap_len`` rather than dropped or wrapped — the same
    loud-not-silent rule as the profile's NULL ``gaps``."""
    from pyspark.sql.window import Window

    if max_ranges < 1:
        raise ValueError(f"gap_ranges: max_ranges must be >= 1, got {max_ranges}")
    # reuse the profile's integral-type gate: range arithmetic on a
    # string/date id must be a clean ValueError, not an ANSI crash
    _require_integral(df, id_col, "gap_ranges")
    keys = [part_col] if part_col else []
    ids = (
        df.select(*[F.col(c) for c in keys], F.col(id_col).alias("_id"))
        .filter(F.col("_id").isNotNull())
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy("_id") if keys else (
        Window.orderBy("_id")
    )
    diff = F.try_subtract(F.col("_next"), F.col("_id"))
    holes = (
        ids.select(*keys, "_id", F.lead("_id").over(w).alias("_next"))
        # NULL diff with a non-null successor = width overflow: keep it
        .filter(
            F.col("_next").isNotNull() & (diff.isNull() | (diff > 1))
        )
        .select(
            *keys,
            (F.col("_id") + 1).alias("gap_start"),
            (F.col("_next") - 1).alias("gap_end"),
            F.try_subtract(diff, F.lit(1)).alias("gap_len"),
        )
    )
    wr = (
        Window.partitionBy(*keys).orderBy("gap_start")
        if keys
        else Window.orderBy("gap_start")
    )
    return (
        holes.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= max_ranges)
        .drop("_rn")
    )


# ------------------------------------------------------------------ C41

def fd_violations(
    df: DataFrame,
    det_col: str,
    dep_col: str,
    top_k: int = 100,
) -> DataFrame:
    """Functional-dependency violation scan: determinant values that
    map to MORE than one distinct dependent value (rows where either
    side is NULL are excluded — marginal nullness is B2/B15's
    business, not a dependency violation).

    → top ``top_k`` violators as (det, n_dep, n_rows), ordered by
    (n_dep desc, n_rows desc, det asc) — fully deterministic, so the
    bounded result is oracle-portable.

    Plan: level-1 groupBy(det, dep) collapses raw rows to distinct
    pairs (the ONLY row-scale shuffle, map-combined); level-2 reduces
    the pair-sized relation per det; the cap is a
    TakeOrderedAndProject, never a global sort materialization."""
    l1 = (
        df.where(F.col(det_col).isNotNull() & F.col(dep_col).isNotNull())
        .groupBy(F.col(det_col).alias("det"), F.col(dep_col).alias("_dep"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per_det = l1.groupBy("det").agg(
        F.count(F.lit(1)).alias("n_dep"), F.sum("_n").alias("n_rows")
    )
    return (
        per_det.filter(F.col("n_dep") > 1)
        .orderBy(F.desc("n_dep"), F.desc("n_rows"), F.asc("det"))
        .limit(top_k)
    )


class FunctionalDependency(TableConstraint):
    """Suite form: verdict family ``fd.<det>-><dep>`` FAILs every
    partition containing rows of a globally-violating determinant
    (the dependency is a TABLE property — a det split across two
    partitions with two dep values fails both partitions, each with
    its own row counts in ``observed``).

    Violations are a BOUNDED deterministic sample of the worst
    determinants (dedup's row_number-cap discipline): one violation
    row per sampled det, attributed to the part holding its most rows
    (ties → lowest part), detail carrying the distinct-value fan-out.

    Plan: the raw table is scanned once and shuffled once on
    (det, part, dep) — everything after is key-sized. The violating-det
    relation joins back AQE-planned (it can be large when the feed is
    badly broken; a broadcast hint would gamble on health)."""

    def __init__(self, det_col: str, dep_col: str, max_violations: int = 100):
        self.det_col = det_col
        self.dep_col = dep_col
        self.max_violations = int(max_violations)
        self.name = f"fd.{det_col}->{dep_col}"

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, DataFrame | None]:
        raw = ctx.raw
        l0 = (
            raw.where(F.col(self.det_col).isNotNull() & F.col(self.dep_col).isNotNull())
            .groupBy(
                F.col(self.det_col).alias("det"),
                F.col("part").alias("part"),
                F.col(self.dep_col).alias("_dep"),
            )
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        bad = (
            l0.groupBy("det")
            .agg(F.count_distinct("_dep").alias("n_dep"))
            .filter(F.col("n_dep") > 1)
        )
        hits = l0.join(bad, "det")
        per_part = hits.groupBy("part").agg(
            F.sum("_n").alias("bad_rows"),
            F.count_distinct("det").alias("bad_dets"),
        )
        verdicts = per_part.select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.lit(FAIL).alias("verdict"),
            F.concat(
                F.lit("violating_dets="),
                F.col("bad_dets").cast("string"),
                F.lit(",rows="),
                F.col("bad_rows").cast("string"),
            ).alias("observed"),
            F.lit(f"{self.det_col} determines {self.dep_col}").alias("expected"),
        )
        # bounded violation sample: worst dets first, one row per det,
        # attributed to its heaviest part (deterministic tie-break)
        from pyspark.sql import Window

        per_det_part = hits.groupBy("det", "n_dep", "part").agg(
            F.sum("_n").alias("_rows")
        )
        rk = F.row_number().over(
            Window.partitionBy("det").orderBy(F.desc("_rows"), F.asc("part"))
        )
        sample = (
            per_det_part.withColumn("_rk", rk)
            .filter(F.col("_rk") == 1)
            .orderBy(F.desc("n_dep"), F.asc("det"))
            .limit(self.max_violations)
        )
        violations = violation_rows(
            sample.select(
                "part",
                F.col("det").cast("string").alias("image_id"),
                F.concat(
                    F.lit(f"{self.det_col} maps to "),
                    F.col("n_dep").cast("string"),
                    F.lit(f" distinct {self.dep_col} values"),
                ).alias("_detail"),
            ),
            self.name,
            self.dep_col,
            F.col("_detail"),
            snapshot="raw",
        )
        return verdicts, violations
