"""Data-layout validation: zone-map overlap / clustering depth.

Reference parity: ``/root/reference`` is empty (SURVEY §0); the metric
follows public warehouse practice (Snowflake's clustering depth,
ClickHouse/Delta OPTIMIZE diagnostics): for each partition's
``[min, max]`` range of a column, HOW MANY partitions' ranges overlap
it. Depth 1 everywhere = perfectly clustered — a point/range predicate
prunes to one partition via parquet zone maps / Iceberg manifests;
depth ≈ n_parts = the column is scattered and every query scans every
partition regardless of its filter. At 10^12 rows this single number
decides whether B0c-style partition pruning works at all, which makes
it a VALIDATION concern: a producer that silently stops sorting by
``image_id`` degrades every downstream keyed read without failing one
row-level check.

Scale shape — metadata-scale end to end:

* The input is a RANGES frame (part, mn, mx): parts-sized, either
  aggregated per part in one scan (``zone_ranges``) or read back from
  the suite's PERSISTED stats (``zone_overlap_from_stats`` — the
  ``stat__<col>__min/max`` columns every run already writes, ZERO
  rescan of the data).
* Depth is two distributed searchsorteds, never an all-pairs range
  join (10^5 parts would mean 10^10 comparisons) and never a global
  single-partition window: ``depth_i = #(mn_j <= mx_i) − #(mx_j <
  mn_i)`` — the subtracted set is contained in the first because
  every range has ``mn <= mx``, so the identity counts exactly the
  overlapping ranges. Each count uses the shard_pack prefix-sum
  pattern: union values+queries, bucket by a contiguous value range,
  per-bucket totals collected (buckets-sized), exclusive offsets
  broadcast back, within-bucket running count via a window
  PARTITIONED BY bucket.

NULL handling: a part with no non-null values has a NULL range — it
keeps its output row with NULL depth (undefined, never a silent 0 or
a dropped part); half-null ranges, inverted ranges (mn > mx) and NaN
endpoints are refused loudly — they mean the stats frame is corrupt,
not that depth is zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import TableConstraint, local_frame
from bigdime_spark.schema import FAIL, NOT_READY


def _rank_counts(
    values: DataFrame, queries: DataFrame, *, inclusive: bool, n_buckets: int
) -> DataFrame:
    """Distributed searchsorted: for each queries row (qid, q), the
    number of values rows with ``v <= q`` (inclusive) / ``v < q``
    (strict). Ties are decided by a sort key that places value rows
    before equal query rows iff inclusive. Bucketing projects to
    double (monotone, so bucket ORDER is always consistent); the
    within-bucket window orders by the ORIGINAL type, so int64 values
    past 2^53 (where adjacent longs collapse to one double) still
    rank exactly. → (qid, n)."""
    qid_type = queries.schema["qid"].dataType
    val_tb, qry_tb = (0, 1) if inclusive else (1, 0)
    u = (
        values.select(
            F.col("v").alias("val"),
            F.lit(1).alias("is_val"),
            F.lit(val_tb).alias("tb"),
            F.lit(None).cast(qid_type).alias("qid"),
        )
        .unionByName(
            queries.select(
                F.col("q").alias("val"),
                F.lit(0).alias("is_val"),
                F.lit(qry_tb).alias("tb"),
                "qid",
            )
        )
        .withColumn("_vald", F.col("val").cast("double"))
    )
    lo_hi = u.agg(F.min("_vald").alias("lo"), F.max("_vald").alias("hi")).collect()[0]
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    if lo is None:
        return queries.select("qid", F.lit(0).cast("long").alias("n")).limit(0)
    span = hi - lo
    if span == 0:
        bucket = F.lit(0).cast("long")
    else:
        bucket = F.least(
            F.floor((F.col("_vald") - F.lit(lo)) / F.lit(span) * F.lit(n_buckets)),
            F.lit(n_buckets - 1),
        ).cast("long")
    b = u.withColumn("_bucket", bucket)
    totals = {
        int(r["_bucket"]): int(r["nv"])
        for r in b.groupBy("_bucket").agg(F.sum("is_val").alias("nv")).collect()
    }
    offsets, acc = [], 0
    for i in range(n_buckets):
        offsets.append((i, acc))
        acc += totals.get(i, 0)
    off = local_frame(values.sparkSession, offsets, "_bucket bigint, _offset bigint")
    w = (
        Window.partitionBy("_bucket")
        .orderBy("val", "tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(F.broadcast(off), "_bucket")
        .withColumn("_cum", F.col("_offset") + F.sum("is_val").over(w))
        .filter(F.col("is_val") == 0)
        .select("qid", F.col("_cum").cast("long").alias("n"))
    )


def zone_ranges(
    df: DataFrame, col: str, *, part_col: str = "part"
) -> DataFrame:
    """Per-part [min, max] of ``col`` in one scan → (part, mn, mx).
    The direct-scan feeder for zone_overlap_profile; prefer
    zone_overlap_from_stats when a suite run already persisted the
    ranges."""
    return df.groupBy(F.col(part_col).alias("part")).agg(
        F.min(col).alias("mn"), F.max(col).alias("mx")
    )


def zone_overlap_profile(
    ranges: DataFrame,
    *,
    part_col: str = "part",
    min_col: str = "mn",
    max_col: str = "mx",
    n_buckets: int = 64,
) -> DataFrame:
    """Clustering depth per partition from a (part, mn, mx) ranges
    frame: ``overlap_depth`` = number of partitions (self included)
    whose range intersects this partition's; ``overlap_fraction`` =
    depth / n_parts. 1/n_parts everywhere = perfectly clustered;
    → 1.0 = the column is scattered and zone-map pruning is dead.

    → (part, mn, mx, n_parts, overlap_depth, overlap_fraction); a
    NULL-range part keeps its row with NULL depth/fraction."""
    r = ranges.select(
        F.col(part_col).alias("part"),
        F.col(min_col).alias("mn"),
        F.col(max_col).alias("mx"),
    )
    # r6 optimization (guide §5 caching-when-reused): this parts-sized
    # frame feeds FIVE driver-side collects (the guard below + lo_hi
    # and bucket totals inside each of the two _rank_counts calls) and
    # three references in the final plan. Un-persisted, every one of
    # them recomputed the caller's feeder aggregation (for the contract
    # query: two groupBys over orders — measured ~8 redundant jobs,
    # ~4-5 s of the query's wall). The cache is partition-COUNT-sized
    # metadata (one row per part), never data-sized, so it is safe at
    # any corpus scale; callers release it with the session's normal
    # clearCache/unpersist discipline.
    r = r.persist()
    g = r.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("part").alias("n_distinct"),
        F.count_if(F.col("mn").isNotNull() & F.col("mx").isNotNull()).alias("n_ranged"),
        F.count_if(F.col("mn").isNull() != F.col("mx").isNull()).alias("n_half"),
        F.count_if(F.col("mn") > F.col("mx")).alias("n_inverted"),
        F.count_if(
            F.isnan(F.col("mn").cast("double")) | F.isnan(F.col("mx").cast("double"))
        ).alias("n_nan"),
    ).collect()[0]
    if g["n_rows"] == 0:
        return r.select(
            "part",
            "mn",
            "mx",
            F.lit(0).cast("long").alias("n_parts"),
            F.lit(None).cast("long").alias("overlap_depth"),
            F.lit(None).cast("double").alias("overlap_fraction"),
        ).limit(0)
    if g["n_distinct"] != g["n_rows"]:
        raise ValueError(
            "zone_overlap_profile: duplicate part rows "
            f"({g['n_rows']} rows, {g['n_distinct']} distinct parts) — "
            "a ranges frame must hold ONE row per part; aggregate or "
            "filter to a single run first"
        )
    if g["n_half"]:
        raise ValueError(
            f"zone_overlap_profile: {g['n_half']} part(s) with exactly one "
            "of (mn, mx) NULL — a min/max stats pair is either both "
            "present or both NULL; the frame is corrupt"
        )
    if g["n_inverted"]:
        raise ValueError(
            f"zone_overlap_profile: {g['n_inverted']} part(s) with mn > mx "
            "— not a valid min/max range"
        )
    if g["n_nan"]:
        raise ValueError(
            f"zone_overlap_profile: {g['n_nan']} part(s) with a NaN range "
            "endpoint — NaN is unordered, so overlap depth is undefined; "
            "the stats frame is corrupt (a min/max over a float column "
            "that contained NaN)"
        )
    n_parts = int(g["n_ranged"])
    valid = r.filter(F.col("mn").isNotNull())
    mins = valid.select(F.col("mn").alias("v"))
    maxes = valid.select(F.col("mx").alias("v"))
    le = _rank_counts(  # #(mn_j <= mx_i)
        mins,
        valid.select(F.col("part").alias("qid"), F.col("mx").alias("q")),
        inclusive=True,
        n_buckets=n_buckets,
    ).select(F.col("qid").alias("part"), F.col("n").alias("_le"))
    lt = _rank_counts(  # #(mx_j < mn_i)
        maxes,
        valid.select(F.col("part").alias("qid"), F.col("mn").alias("q")),
        inclusive=False,
        n_buckets=n_buckets,
    ).select(F.col("qid").alias("part"), F.col("n").alias("_lt"))
    depth = (F.col("_le") - F.col("_lt")).cast("long")
    return (
        r.join(le, "part", "left")
        .join(lt, "part", "left")
        .select(
            "part",
            "mn",
            "mx",
            F.lit(n_parts).cast("long").alias("n_parts"),
            depth.alias("overlap_depth"),
            F.round(depth.cast("double") / F.lit(n_parts), 6).alias(
                "overlap_fraction"
            ),
        )
    )


def zone_overlap_from_stats(
    stats: DataFrame, col: str, *, part_col: str = "part", n_buckets: int = 64
) -> DataFrame:
    """Clustering depth for ``col`` from a PERSISTED suite stats frame
    (the ``stat__<col>__min`` / ``stat__<col>__max`` columns every
    stats pass writes) — zone-map health with ZERO rescan of the data
    the stats describe, the layout twin of drift_from_stats /
    rollup_distinct / quantiles_from_stats."""
    mn, mx = f"stat__{col}__min", f"stat__{col}__max"
    missing = [c for c in (mn, mx) if c not in stats.columns]
    if missing:
        raise ValueError(
            f"zone_overlap_from_stats: stats frame has no {missing} — "
            f"'{col}' was not profiled as a numeric column"
        )
    return zone_overlap_profile(
        stats.select(
            F.col(part_col).alias("part"),
            F.col(mn).alias("mn"),
            F.col(mx).alias("mx"),
        ),
        n_buckets=n_buckets,
    )


class ZoneClustering(TableConstraint):
    """Suite integration (partial_verdicts): FAIL partitions whose
    [min, max] range of ``column`` overlaps more than ``max_fraction``
    of all partitions' ranges — the layout-health gate, computed from
    the suite's ALREADY-CACHED fused stats frame (``ctx.extras
    ["fused_stats"]`` carries ``stat__<col>__min/max``), so it adds
    two metadata-scale searchsorteds and ZERO data scans to the run.

    A clustered table keeps every part near 1/n_parts; a producer that
    stops sorting by the column pushes fractions toward 1.0 and those
    parts FAIL. NULL-range parts (no non-null values) surface as
    NOT_READY — a part whose range is unknowable is exactly the part
    to look at. Parts inside the bound are omitted; the suite's shared
    grid join fills PASS."""

    def __init__(self, column: str, max_fraction: float = 0.5):
        if not 0 < max_fraction <= 1:
            raise ValueError(
                f"zone_clustering: max_fraction must be in (0, 1], got {max_fraction}"
            )
        self.column = column
        self.max_fraction = max_fraction
        self.name = f"zone_clustering.{column}"

    def run(self, ctx) -> tuple[DataFrame, None]:
        prof = zone_overlap_from_stats(ctx.extras["fused_stats"], self.column)
        found = prof.filter(
            F.col("overlap_fraction").isNull()
            | (F.col("overlap_fraction") > self.max_fraction)
        ).select(
            "part",
            F.lit(self.name).alias("constraint"),
            F.when(F.col("overlap_fraction").isNull(), F.lit(NOT_READY))
            .otherwise(F.lit(FAIL))
            .alias("verdict"),
            F.concat(
                F.lit("depth="),
                F.coalesce(F.col("overlap_depth").cast("string"), F.lit("null")),
                F.lit("/"),
                F.col("n_parts").cast("string"),
                F.lit(" range=["),
                F.coalesce(F.col("mn").cast("string"), F.lit("null")),
                F.lit(", "),
                F.coalesce(F.col("mx").cast("string"), F.lit("null")),
                F.lit("]"),
            ).alias("observed"),
            F.lit(f"overlap_fraction<={self.max_fraction}").alias("expected"),
        )
        return found, None

    @property
    def partial_verdicts(self) -> bool:
        return True

    def verdict_names(self) -> list[str]:
        return [self.name]
