"""Deterministic sampling, domain-mix planning, and token-budget shard
packing — the curation/selection stage of a training-data pipeline.

Reference parity: ``/root/reference`` is empty (SURVEY §0); the
semantics follow SURVEY.md §2.C and public corpus-curation practice
(Gopher / The Pile / RefinedWeb data-mix methodology: per-domain
sampling rates derived from target mixture weights, then deterministic
hash-based row selection so a re-run — or a resumed run — selects the
IDENTICAL subset with no stored sample state).

Design for 10^12 rows:

* Selection is a pure column predicate on an md5-derived 40-bit
  integer — no RAND() (non-reproducible across retries/resumes), no
  ``df.sample`` (per-partition RNG, changes under repartitioning).
  The predicate is scan-local: zero shuffles, survives partition
  pruning, and the SAME rows are kept no matter how the input is
  split. md5 (not xxhash64) keeps every query in this module
  value-exact against the DuckDB oracle.
* The mix plan (per-domain sampling thresholds) is a domains-sized
  aggregate joined back with an explicit broadcast — the corpus never
  shuffles to be sampled.
* Shard packing is a distributed exclusive prefix sum: bucket by a
  contiguous range of the ordering key, one slim per-bucket total
  aggregate (buckets-sized collect), exclusive bucket offsets
  broadcast back, within-bucket running sum via a partitioned window.
  ONE shuffle of a two-column frame; no global single-partition
  window, no driver-side row loop. Assignments are provably invariant
  to ``n_buckets`` (prefix sums compose), which the property tests
  assert.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import local_frame

#: 40-bit sample space: first 10 hex chars of md5 (matches the
#: checksum operator's oracle-portable width — fits a signed 64-bit
#: integer with headroom, and DuckDB can rebuild it digit-by-digit).
SAMPLE_HEX_CHARS = 10
SAMPLE_SPACE = 16 ** SAMPLE_HEX_CHARS  # 2^40


def sample_hash(key: Column, seed: str) -> Column:
    """Uniform 40-bit integer in [0, 2^40) from (key, seed).

    ``md5(key ':' seed)`` truncated to 10 hex chars — deterministic,
    uniform, independent across seeds, and bit-identical in DuckDB
    (``contract.SQL_SAMPLE_*`` rebuilds it with the strpos digit
    expansion used by the checksum oracle).
    """
    rep = F.concat_ws(":", key.cast("string"), F.lit(seed))
    return F.conv(F.substring(F.md5(rep), 1, SAMPLE_HEX_CHARS), 16, 10).cast("long")


def threshold_for_rate(rate: float) -> int:
    """Integer keep-threshold for a sampling rate in [0, 1]:
    keep row iff ``sample_hash < threshold``."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"sampling rate must be in [0, 1], got {rate}")
    return min(SAMPLE_SPACE, int(rate * SAMPLE_SPACE))


def uniform_sample(
    df: DataFrame, key: str, rate: float, seed: str, keep_hash: bool = False
) -> DataFrame:
    """Deterministic uniform sample: keep ~``rate`` of rows, selected
    by hash(key, seed) — identical subset on re-run, resume, or any
    repartitioning of the input. ``key`` must be unique per row (a
    duplicated key is kept/dropped as a block).

    Pure filter — pushed to the scan, zero shuffles at any scale.
    """
    h = sample_hash(F.col(key), seed)
    out = df.withColumn("_sample_h", h).filter(
        F.col("_sample_h") < F.lit(threshold_for_rate(rate))
    )
    return out if keep_hash else out.drop("_sample_h")


def weighted_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    seed: str,
    rate: float = 1.0,
    keep_hash: bool = False,
) -> DataFrame:
    """Deterministic WEIGHTED sample: each row's keep probability is
    ``clamp(weight, 0, 1) * rate`` — the quality-weighted selection a
    curation pipeline runs after scoring (sample high-quality
    documents at a higher rate instead of gating on a hard threshold;
    DCLM/FineWeb-style soft filtering). Selection is the same pure
    md5-hash predicate as :func:`uniform_sample` — keep iff
    ``hash(key, seed) < floor(clamp(weight) * rate * 2^40)`` — so the
    subset is identical on re-run, resume, or any repartitioning, and
    the whole decision is scan-local: zero shuffles at any scale.
    With a constant weight of 1.0 this degrades to ``uniform_sample``
    exactly (same hash, same threshold arithmetic).

    NULL and NaN weights EXCLUDE the row (an undefined preference is
    never silently kept — the caller's scorer abstained, so must the
    sampler); weights outside [0, 1] are clamped, so a raw score
    column can be passed without pre-normalization.

    ``keep_hash=True`` retains ``_sample_h`` (the 40-bit hash) and
    ``_sample_thr`` (the per-row integer threshold) for auditability —
    the contract oracle replays both digit-by-digit.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"sampling rate must be in [0, 1], got {rate}")
    w = F.col(weight_col).cast("double")
    # NaN ranks above every double in both Spark and DuckDB orderings,
    # so least(greatest(NaN, 0), 1) would silently become 1.0 — map it
    # to NULL first (excluded), never a max-rate keep
    w = F.when(F.isnan(w), F.lit(None).cast("double")).otherwise(w)
    clamped = F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0))
    thr = F.floor(clamped * F.lit(float(rate)) * F.lit(SAMPLE_SPACE)).cast("long")
    out = (
        df.withColumn("_sample_h", sample_hash(F.col(key), seed))
        .withColumn("_sample_thr", thr)
        .filter(F.col("_sample_h") < F.col("_sample_thr"))
    )
    return out if keep_hash else out.drop("_sample_h", "_sample_thr")


def normalized_weights(weights: Mapping[str, float]) -> dict[str, float]:
    """Normalize mixture weights to proportions summing to 1."""
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {k: w for k, w in weights.items() if w < 0}
    if bad:
        raise ValueError(f"negative mixture weights: {bad}")
    tot = float(sum(weights.values()))
    if tot <= 0:
        raise ValueError("mixture weights must sum to a positive value")
    return {k: w / tot for k, w in weights.items()}


def mix_plan(
    df: DataFrame,
    domain_col: str,
    weights: Mapping[str, float],
    target_rows: int,
) -> DataFrame:
    """Per-domain sampling plan for a target mixture.

    Returns one row per domain named in ``weights``:
    ``(domain, n_rows, quota, threshold)`` where ``quota`` is the
    domain's integer share of ``target_rows`` under the normalized
    weights and ``threshold`` the 40-bit keep-threshold
    ``floor(min(quota / n_rows, 1) * 2^40)``. Domains in the data but
    absent from ``weights`` get no row (rate 0 — excluded); domains in
    ``weights`` but absent from the data get ``n_rows = 0`` and
    ``threshold = 0`` so under-supply is visible, not silent.

    One domains-sized aggregate over the corpus; the result is a
    broadcast-sized frame at any data scale.
    """
    if target_rows < 0:
        raise ValueError(f"target_rows must be >= 0, got {target_rows}")
    norm = normalized_weights(weights)
    spark = df.sparkSession
    quotas = local_frame(
        spark,
        [(d, int(target_rows * p)) for d, p in sorted(norm.items())],
        f"{domain_col} string, quota bigint",
    )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_rows"))
    # counts is domains-sized; broadcast it so the quotas⋈counts join
    # never sorts/shuffles (left outer → only the right side can build)
    return (
        quotas.join(F.broadcast(counts), domain_col, "left")
        .select(
            domain_col,
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
            "quota",
            F.when(F.coalesce("n_rows", F.lit(0)) == 0, F.lit(0))
            .otherwise(
                F.floor(
                    F.least(F.col("quota") / F.col("n_rows"), F.lit(1.0))
                    * F.lit(SAMPLE_SPACE)
                )
            )
            .cast("long")
            .alias("threshold"),
        )
    )


def stratified_sample(
    df: DataFrame,
    domain_col: str,
    key: str,
    weights: Mapping[str, float],
    target_rows: int,
    seed: str,
    keep_hash: bool = False,
) -> DataFrame:
    """Deterministic stratified sample hitting a target domain mixture.

    Each domain keeps ``~min(quota_d, n_d)`` rows selected by
    hash(key, seed) against the per-domain threshold from
    :func:`mix_plan`. The plan is joined back with an explicit
    ``broadcast`` — the corpus side never shuffles; the only exchange
    in the whole job is the domains-sized count aggregate.
    """
    plan = mix_plan(df, domain_col, weights, target_rows)
    h = sample_hash(F.col(key), seed)
    out = (
        df.withColumn("_sample_h", h)
        .join(F.broadcast(plan.select(domain_col, "threshold")), domain_col)
        .filter(F.col("_sample_h") < F.col("threshold"))
        .drop("threshold")
    )
    return out if keep_hash else out.drop("_sample_h")


def shard_pack(
    df: DataFrame,
    key: str,
    tokens: Column,
    budget: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Assign rows to training shards of ~``budget`` tokens each.

    Rows are laid out in ascending ``key`` order (a unique numeric
    column); a row whose exclusive prefix-sum of ``tokens`` is ``s``
    lands in ``shard_id = floor(s / budget)`` — greedy offset packing:
    every shard except the last holds ``budget ± max_row_tokens``
    tokens, assignments are total-order deterministic and independent
    of input partitioning.

    Distributed prefix sum, no global window:

    1. bucket = contiguous range of ``key`` (min/max from one scalar
       aggregate), so bucket order == key order;
    2. per-bucket token totals — a buckets-sized aggregate collected
       to the driver (bounded by ``n_buckets``, not by data);
    3. exclusive bucket offsets broadcast back; within-bucket running
       sum via a window PARTITIONED BY bucket (never a single global
       partition).

    The slim (key, tokens, bucket) frame shuffles once for the
    window; ``shard_id`` is invariant to ``n_buckets`` because prefix
    sums compose across the bucket cut.

    Returns ``(key, n_tokens, shard_id)``; join back on ``key`` for
    the full rows (or re-derive columns upstream — the frame is kept
    slim so the shuffle ships two integers per row at 10^12 rows).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")

    slim = df.select(F.col(key).alias(key), tokens.cast("long").alias("n_tokens"))
    lo_hi = slim.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if lo_hi["n"] == 0:
        return slim.withColumn("shard_id", F.lit(0).cast("long")).limit(0)
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
    span = hi - lo + 1

    bucketed = slim.withColumn(
        "_bucket",
        ((F.col(key).cast("long") - F.lit(lo)) * F.lit(n_buckets) / F.lit(span))
        .cast("long"),
    )
    totals = {
        int(r["_bucket"]): int(r["tok"])
        for r in bucketed.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }
    offsets, acc = [], 0
    for b in range(n_buckets):
        offsets.append((b, acc))
        acc += totals.get(b, 0)
    spark = df.sparkSession
    off = local_frame(spark, offsets, "_bucket bigint, _offset bigint")

    w = Window.partitionBy("_bucket").orderBy(key)
    cum_excl = (
        F.col("_offset") + F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        bucketed.join(F.broadcast(off), "_bucket")
        .select(
            key,
            "n_tokens",
            F.floor(cum_excl / F.lit(budget)).cast("long").alias("shard_id"),
        )
    )
