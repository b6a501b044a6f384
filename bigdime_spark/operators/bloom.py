"""Mergeable Bloom-filter membership sketch — shuffle-free key
screening for referential checks at corpus scale.

Reference parity: ``/root/reference`` is empty (SURVEY §0); semantics
follow SURVEY.md §2 B17 (referential) plus the standard Bloom filter
construction (Bloom 1970) that modern engines inject as runtime join
filters (Spark's ``spark.sql.optimizer.runtime.bloomFilter.enabled``).
This module makes the sketch EXPLICIT so it can be persisted next to
the per-partition stats a validation run already writes — the same
zero-rescan discipline as the HLL roll-up (B6) and cross-run drift
(C18): a later run screens 10^12 probe rows against last night's
curated snapshot by reading a few-MB sketch, never rescanning the
snapshot itself.

Semantics (one-sided error, the classic guarantee):

* a key that IS in the build set always probes as ``maybe_member``
  (no false negatives) — so ``NOT member`` rows are DEFINITE
  non-members: provable orphans with zero work on the build side;
* a key NOT in the build set probes positive with probability
  ~ (1 - e^(-k·n/m))^k — the false-positive rate callers size
  ``m_bits`` for (~10 bits/key → ~1%).

Design for 10^12 probe rows:

* The sketch is a DataFrame of ``(lane, bits)`` int rows — 32 bits
  of bitmap per lane (32, not 64, so ``1 << bit`` never touches the
  sign bit: Spark and the DuckDB oracle agree on every lane value
  without two's-complement edge cases). m_bits = 2^23 → 256 K lanes
  ≈ 2 MB: persistable, broadcastable, and mergeable across parts /
  snapshots with a plain ``bit_or`` (set union = bitmap OR).
* Build is ONE aggregation: k positions per key (md5-portable 40-bit
  hashes, same discipline as sampling/checksum) exploded and
  ``bit_or``-folded per lane. Partial aggregation collapses each task
  to ≤ n_lanes rows before the exchange — the shuffle carries
  tasks × lanes rows, never the corpus.
* Probe is SCAN-LOCAL: k broadcast left-joins on the lane id (the
  probe side never exchanges — asserted by plan tests) and a pure
  column predicate over the k fetched lanes. No groupBy, no window,
  no per-row Python.
* At 10^12 BUILD keys a single 1%-FPR bloom is ~1.2 TB — not
  broadcastable; the honest scale posture is dimension-sized build
  sets (≤ ~10^8–10^9 keys → 125 MB–1.2 GB) screening arbitrarily
  large probe sides, or per-partition sketches unioned only across
  the parts a probe actually touches (partition pruning keeps the
  working set broadcast-sized).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 40-bit hash per (key, hash-index) — first 10 hex chars of md5,
#: the repo-wide oracle-portable width (DuckDB rebuilds it digit by
#: digit). 2^40 >> any practical m_bits, so the mod bias is nil.
BLOOM_HEX_CHARS = 10

#: bitmap bits per lane row. 32 (not 64) keeps every ``1 << bit``
#: strictly positive in a signed 64-bit long — Spark and DuckDB
#: agree on lane values with no sign-extension caveats.
LANE_BITS = 32


def bloom_hash(key: Column, i: int, seed: str) -> Column:
    """Uniform 40-bit integer for (key, hash-index i, seed).

    ``md5(key ':' i ':' seed)`` truncated to 10 hex chars — the k
    hash functions of the filter are one md5 family indexed by i.
    Deterministic across retries/resumes and replayable in DuckDB.
    """
    rep = F.concat_ws(
        ":", key.cast("string"), F.lit(str(int(i))), F.lit(seed)
    )
    return F.conv(F.substring(F.md5(rep), 1, BLOOM_HEX_CHARS), 16, 10).cast(
        "long"
    )


def _positions(key: Column, k: int, m_bits: int, seed: str) -> list[Column]:
    return [bloom_hash(key, i, seed) % m_bits for i in range(k)]


def build_bloom(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: str = "bloom",
) -> DataFrame:
    """Fold a key column into a Bloom bitmap → (lane:int, bits:long).

    ONE aggregation: the k bit positions per row explode to (lane,
    1 << bit) pairs and ``bit_or`` per lane; map-side partials cap
    the exchange at tasks × n_lanes rows. Lanes with no bits set are
    absent (probe treats missing lanes as 0). NULL keys set no bits
    (SQL membership of NULL is not a meaningful question; the
    not-null validator owns that).

    The result is mergeable: union two sketches of the same
    (m_bits, k, seed) spec with ``groupBy(lane).agg(bit_or(bits))``
    — bitmap OR is exactly set union, the same roll-up contract as
    the B6 HLL sketches.
    """
    if m_bits % LANE_BITS != 0:
        raise ValueError(f"m_bits={m_bits} must be a multiple of {LANE_BITS}")
    if k < 1:
        raise ValueError(f"k={k}: need at least one hash function")
    key = F.col(key_col)
    pos = F.explode(F.array(*_positions(key, k, m_bits, seed))).alias("pos")
    return (
        df.filter(key.isNotNull())
        .select(pos)
        .groupBy((F.col("pos") / LANE_BITS).cast("int").alias("lane"))
        .agg(
            F.bit_or(
                F.expr(f"shiftleft(1L, int(pos % {LANE_BITS}))")
            ).alias("bits")
        )
    )


def probe_bloom(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: str = "bloom",
    flag_col: str = "bloom_member",
) -> DataFrame:
    """Annotate ``df`` with ``flag_col``: could this key be in the
    build set? SCAN-LOCAL on the probe side — k broadcast left-joins
    on the lane id plus a pure column predicate; the probe side never
    exchanges (plan-asserted in tests). NULL keys probe as NULL.

    (m_bits, k, seed) MUST match the build call — the sketch frame
    carries no spec of its own, exactly like the persisted histogram
    arrays before their __hist_spec column; callers own the pairing.
    """
    key = F.col(key_col)
    out = df
    checks: list[Column] = []
    for i, pos in enumerate(_positions(key, k, m_bits, seed)):
        lane_c, bits_c = f"_bl_lane{i}", f"_bl_bits{i}"
        out = out.withColumn(lane_c, (pos / LANE_BITS).cast("int")).withColumn(
            f"_bl_bit{i}", (pos % LANE_BITS).cast("int")
        )
        lanes = bloom.select(
            F.col("lane").alias(lane_c), F.col("bits").alias(bits_c)
        )
        out = out.join(F.broadcast(lanes), lane_c, "left")
        checks.append(
            F.expr(
                f"(shiftright(coalesce({bits_c}, 0L), _bl_bit{i}) & 1) = 1"
            )
        )
    member = checks[0]
    for c in checks[1:]:
        member = member & c
    member = F.when(key.isNull(), F.lit(None).cast("boolean")).otherwise(member)
    drop = [c for c in out.columns if c.startswith("_bl_")]
    return out.withColumn(flag_col, member).drop(*drop)


class BloomReferential:
    """Suite-integrated referential SCREEN (B17's sketch form): both
    raw↔curated directions via Bloom membership instead of the keyed
    pass's full join.

    Scale contract vs the exact check: ZERO join shuffles — each side
    is folded once into a few-MB bitmap (map-side partials, exchange
    carries tasks × lanes rows) and the other side probes scan-locally
    through broadcast lane joins. Every reported violation is a
    DEFINITE orphan (the filter has no false negatives), so the
    per-part counts are LOWER bounds: a FAIL is always real, a PASS
    means "no provable orphans at this false-positive rate", which is
    exactly the screening trade a 10^12-row nightly run buys with
    ``referential_mode='bloom'``. The exact mode stays the
    adjudicating tool for parts the screen flags.
    """

    # TableConstraint protocol (duck-typed to avoid a circular import
    # with operators.base at module load; the suite only calls these)
    name = "referential_bloom"

    def __init__(
        self,
        key: str = "image_id",
        m_bits: int = 1 << 23,
        k: int = 5,
        seed: str = "refbloom",
    ):
        self.key, self.m_bits, self.k, self.seed = key, m_bits, k, seed

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx):
        from bigdime_spark.operators.base import violation_rows
        from bigdime_spark.schema import FAIL

        raw_keys = ctx.raw.select(self.key, "part")
        cur_keys = ctx.curated.select(self.key, "part")
        bloom_c = build_bloom(cur_keys, self.key, self.m_bits, self.k, self.seed)
        bloom_r = build_bloom(raw_keys, self.key, self.m_bits, self.k, self.seed)
        lost = bloom_definite_misses(
            raw_keys, bloom_c, self.key, self.m_bits, self.k, self.seed
        )
        spurious = bloom_definite_misses(
            cur_keys, bloom_r, self.key, self.m_bits, self.k, self.seed
        )
        v_lost = violation_rows(
            lost,
            self.name,
            self.key,
            F.lit("orphan_raw: key provably missing from curated (bloom)"),
            "raw",
            image_id_col=self.key,
        )
        v_spur = violation_rows(
            spurious,
            self.name,
            self.key,
            F.lit("spurious_curated: key provably missing from raw (bloom)"),
            "curated",
            image_id_col=self.key,
        )
        violations = v_lost.unionByName(v_spur)
        failed_parts = (
            violations.groupBy("part")
            .agg(F.count(F.lit(1)).alias("orphans"))
            .select(
                "part",
                F.lit(self.name).alias("constraint"),
                F.lit(FAIL).alias("verdict"),
                F.concat(
                    F.lit("definite_orphans="), F.col("orphans").cast("string")
                ).alias("observed"),
                F.lit("definite_orphans=0 (lower bound; bloom screen)").alias(
                    "expected"
                ),
            )
        )
        return failed_parts, violations


def bloom_definite_misses(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    seed: str = "bloom",
) -> DataFrame:
    """Rows of ``df`` whose key is PROVABLY absent from the build set
    (bloom misses — the no-false-negative direction). Zero shuffle of
    ``df``; the count is a LOWER bound on true orphans (false
    positives hide some), which is the screening contract: a healthy
    pipeline expects 0, and any definite miss is a hard violation
    that needed no anti-join to find.
    """
    probed = probe_bloom(df, bloom, key_col, m_bits, k, seed, "_bl_member")
    return probed.filter(~F.col("_bl_member")).drop("_bl_member")
