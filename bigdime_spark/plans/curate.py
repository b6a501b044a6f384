"""End-to-end corpus curation: filter → dedup → sample → shard.

The composition a training-data pipeline runs before a corpus ships,
built entirely from this engine's operators (SURVEY §2.C):

1. row-local quality gates — token floor (C11), duplicate-line
   ceiling (Gopher repetition, C11b), language allow-list (C13),
   PII rejection (C22);
2. exact dedup — one row per content hash, min-id keeper (C1);
3. near-dup drop — MinHash-LSH pairs → connected components →
   min-id keeper per cluster (C2 + C20);
3b. boilerplate gate — drop docs mostly built from corpus-repeated
   n-grams (hot-gram scan, C34);
4. mixture sampling — deterministic stratified (or uniform) hash
   sample (C23);
5. shard packing — token-budget shard ids (C24).

Scale posture: the row-local gates are ONE scan-local predicate (all
stage-drop accounting comes from a single fused ``count_if``
aggregate — no per-stage rescans of the raw input). Each surviving
frame is a ``localCheckpoint`` snapshot, a plan LEAF: the stage count
that materializes it reads a one-node ``LogicalRDD``, and the next
stage's plan starts from that leaf instead of embedding every earlier
stage. A chain of persisted frames would instead carry the whole
pipeline in every later plan, once per reference, for the driver to
re-plan and re-explain on each action. A snapshot is released
explicitly (``release_frame``) as soon as the next one has
materialized, so at most one is live at a time; a failed stage
releases it too. The tradeoff is the one
``containment_pairs`` documents: lineage is truncated, so an executor
loss costs the job. The near-dup stage reads its MinHash signatures
once and its verified pairs once: ``minhash_lsh_dedup`` persists the
signatures for its own call and returns the pairs persisted, and
``drop_near_dups`` hands back its losers snapshot; containment is
eager the same way. All are released here once their stage has
materialized. Dedup/sampling stages reuse the bounded operators
(banded joins, broadcast plans) — nothing here is all-pairs or
driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdime_spark.functions.text import (
    pii_metrics,
    predicted_lang,
    repetition_metrics,
    ws_token_count,
)
from bigdime_spark.operators.base import release_frame
from bigdime_spark.operators.dedup import (
    containment_pairs,
    drop_contained,
    drop_exact_dups,
    drop_near_dups,
    minhash_lsh_dedup,
)
from bigdime_spark.operators.sampling import (
    shard_pack,
    stratified_sample,
    uniform_sample,
)


@dataclass(frozen=True)
class CurateConfig:
    """Pipeline switches; every stage is optional and off by default."""

    id_col: str = "doc_id"
    text_col: str = "text"
    domain_col: str = "source"
    # stage 1: row-local gates
    min_tokens: int | None = None
    max_dup_line_frac: float | None = None
    langs: tuple[str, ...] | None = None
    drop_pii: bool = False
    # stage 2/3: dedup
    exact_dedup: bool = False
    minhash_dedup: bool = False
    minhash_threshold: float = 0.5
    minhash_ngram: int = 3
    # stage 3a: asymmetric containment dedup — drops docs whose shingle
    # set sits (near-)entirely inside another doc's (the excerpt, the
    # boilerplate-wrapped copy: containment 1.0 at a Jaccard far below
    # any minhash threshold, so stage 3 cannot see it). Runs AFTER
    # minhash so symmetric near-dups are already collapsed.
    containment_dedup: bool = False
    containment_threshold: float = 0.8
    # stage 3b: boilerplate gate — drop docs whose hot_fraction (share
    # of their n-grams repeated across ≥ hot_gram_min_docs docs,
    # operators/decontam.duplicated_gram_scan) exceeds this. Runs
    # AFTER dedup so one viral doc's surviving keeper doesn't count
    # its removed copies toward gram heat.
    max_hot_fraction: float | None = None
    hot_gram_n: int = 8
    hot_gram_min_docs: int = 2
    # stage 3c: exact-substring coverage gate (Lee et al. 2022 drop
    # criterion) — drop docs whose dup_fraction (share of TOKENS
    # inside maximal cross-doc repeated spans, operators/decontam.
    # span_coverage) exceeds this. Sharper than 3b's hot_fraction:
    # positional and UNCAPPED (every ≥ span_min_docs gram counts, not
    # just the top-k hottest), so a doc stitched from many mildly-
    # repeated spans is caught. Runs after dedup for the same
    # keeper-heat reason as 3b.
    max_span_coverage: float | None = None
    span_n: int = 8
    span_min_docs: int = 2
    # stage 4: sampling — exactly one mode: domain mixture, uniform
    # rate, or quality-weighted rate (per-row keep probability =
    # quality_score(text) × rate — the C50 soft filter using the C12
    # score; scan-local, no stored state)
    mix_weights: dict[str, float] | None = None
    target_rows: int | None = None
    sample_rate: float | None = None
    quality_weighted_rate: float | None = None
    seed: str = "curate"
    # stage 5: shard packing
    shard_budget: int | None = None
    shard_buckets: int = 64

    def __post_init__(self) -> None:
        modes = [
            m
            for m in (self.mix_weights, self.sample_rate, self.quality_weighted_rate)
            if m is not None
        ]
        if len(modes) > 1:
            raise ValueError(
                "mix_weights, sample_rate and quality_weighted_rate are "
                "mutually exclusive"
            )
        if self.mix_weights is not None and self.target_rows is None:
            raise ValueError("mix_weights requires target_rows")


@dataclass
class CurateResult:
    """Curated frame + per-stage row accounting.

    ``curated`` is the last stage's ``localCheckpoint`` snapshot: a
    materialized plan leaf that is read, not recomputed. ``counts``
    maps stage → rows SURVIVING that stage (monotone non-increasing),
    plus ``drop_*`` entries for each row-local gate (how many the gate
    would reject on its own — overlaps allowed, so they need not sum
    to the filtered total)."""

    curated: DataFrame
    counts: dict[str, int] = field(default_factory=dict)

    def release(self) -> None:
        """Drop the curated snapshot's blocks (``unpersist()`` is a
        no-op on a checkpoint); ``curated`` is unreadable after."""
        release_frame(self.curated)


def _gate_predicates(cfg: CurateConfig) -> dict[str, Column]:
    """Named row-local gates; a row must pass ALL of them."""
    text = F.col(cfg.text_col)
    preds: dict[str, Column] = {}
    if cfg.min_tokens is not None:
        preds["min_tokens"] = ws_token_count(text) >= cfg.min_tokens
    if cfg.max_dup_line_frac is not None:
        rep = repetition_metrics(text)
        preds["dup_line_frac"] = rep["dup_line_frac"] <= cfg.max_dup_line_frac
    if cfg.langs is not None:
        preds["lang"] = predicted_lang(text).isin(*cfg.langs)
    if cfg.drop_pii:
        preds["pii"] = ~pii_metrics(text)["has_pii"]
    return preds


def curate(df: DataFrame, cfg: CurateConfig) -> CurateResult:
    """Run the configured pipeline; see module docstring for stages.

    The returned ``curated`` frame is a materialized snapshot (callers
    read or write it more than once — call :meth:`CurateResult.release`
    when done).
    """
    counts: dict[str, int] = {}
    preds = _gate_predicates(cfg)

    # ONE fused pass over the raw input: total, per-gate solo drops,
    # and the all-gates survivor count — no per-gate rescans.
    agg_cols = [F.count(F.lit(1)).alias("n_input")]
    keep_all = F.lit(True)
    for name, p in preds.items():
        agg_cols.append(F.count_if(~F.coalesce(p, F.lit(False))).alias(f"drop_{name}"))
        keep_all = keep_all & F.coalesce(p, F.lit(False))
    row = df.agg(*agg_cols).collect()[0]
    counts["input"] = int(row["n_input"])
    for name in preds:
        counts[f"drop_{name}"] = int(row[f"drop_{name}"])

    prev: DataFrame | None = None

    def _advance(nxt: DataFrame, stage: str) -> DataFrame:
        nonlocal prev
        # lazy: the stage count is the one pass that fills the snapshot
        # (eager=True would add a job per stage); after it, every
        # partition is in the snapshot's blocks
        nxt = nxt.localCheckpoint(eager=False)
        try:
            counts[stage] = nxt.count()  # materializes nxt before the release
        except BaseException:
            release_frame(nxt)
            raise
        if prev is not None:
            release_frame(prev)
        prev = nxt
        return nxt

    try:
        cur = _advance(df.filter(keep_all) if preds else df, "after_gates")

        if cfg.exact_dedup:
            cur = _advance(
                drop_exact_dups(cur, [cfg.text_col], cfg.id_col), "after_exact_dedup"
            )

        if cfg.minhash_dedup:
            pairs = minhash_lsh_dedup(
                cur,
                cfg.id_col,
                cfg.text_col,
                ngram=cfg.minhash_ngram,
                threshold=cfg.minhash_threshold,
            )
            losers: list[DataFrame] = []
            try:
                cur = _advance(
                    drop_near_dups(cur, cfg.id_col, pairs, snapshots=losers),
                    "after_neardup",
                )
            finally:
                pairs.unpersist()  # persisted by minhash_lsh_dedup
                for snap in losers:
                    release_frame(snap)

        if cfg.containment_dedup:
            cpairs = containment_pairs(
                cur,
                cfg.id_col,
                cfg.text_col,
                ngram=cfg.minhash_ngram,
                threshold=cfg.containment_threshold,
            )
            try:
                cur = _advance(
                    drop_contained(cur, cfg.id_col, cpairs), "after_containment"
                )
            finally:
                cpairs.unpersist()  # persisted by containment_pairs

        if cfg.max_hot_fraction is not None:
            from bigdime_spark.operators.decontam import duplicated_gram_scan

            flagged = duplicated_gram_scan(
                cur,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                n=cfg.hot_gram_n,
                min_docs=cfg.hot_gram_min_docs,
            ).filter(F.col("hot_fraction") > cfg.max_hot_fraction)
            # flagged is boilerplate-only (report-sized); AQE broadcasts
            # the anti-join, so the corpus side stays shuffle-free.
            cur = _advance(
                cur.join(flagged.select(cfg.id_col), cfg.id_col, "left_anti"),
                "after_boilerplate",
            )

        if cfg.max_span_coverage is not None:
            from bigdime_spark.operators.decontam import span_coverage

            # hash_grams: the production 8-byte-key shuffle — coverage is a
            # threshold gate, so a 2^-64 over-flag cannot flip a keep into
            # a drop unless the doc already sat on the boundary.
            dropped = span_coverage(
                cur,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                n=cfg.span_n,
                min_docs=cfg.span_min_docs,
                hash_grams=True,
            ).filter(F.col("dup_fraction") > cfg.max_span_coverage)
            # dropped is boilerplate-heavy docs only; AQE broadcasts the
            # anti-join when it is small, co-keyed join otherwise.
            cur = _advance(
                cur.join(dropped.select(cfg.id_col), cfg.id_col, "left_anti"),
                "after_span_coverage",
            )

        if cfg.mix_weights is not None:
            cur = _advance(
                stratified_sample(
                    cur,
                    cfg.domain_col,
                    cfg.id_col,
                    cfg.mix_weights,
                    cfg.target_rows,
                    cfg.seed,
                ),
                "after_sample",
            )
        elif cfg.sample_rate is not None:
            cur = _advance(
                uniform_sample(cur, cfg.id_col, cfg.sample_rate, cfg.seed),
                "after_sample",
            )
        elif cfg.quality_weighted_rate is not None:
            from bigdime_spark.functions.text import quality_metrics
            from bigdime_spark.operators.sampling import weighted_sample

            # per-row keep probability = quality_score × rate: higher-
            # quality docs survive at a higher rate instead of a hard
            # score gate. The score is a row-local Column — the decision
            # stays one scan-local predicate, zero shuffles.
            wgt = quality_metrics(F.col(cfg.text_col))["quality_score"]
            cur = _advance(
                weighted_sample(
                    cur.withColumn("_q_wgt", wgt),
                    cfg.id_col,
                    "_q_wgt",
                    cfg.seed,
                    rate=cfg.quality_weighted_rate,
                ).drop("_q_wgt"),
                "after_sample",
            )

        if cfg.shard_budget is not None:
            shards = shard_pack(
                cur,
                cfg.id_col,
                ws_token_count(F.col(cfg.text_col)),
                cfg.shard_budget,
                n_buckets=cfg.shard_buckets,
            ).select(cfg.id_col, "shard_id")
            # slim (id, shard_id) frame joins back; at mixture-sized outputs
            # it broadcasts, at corpus-sized outputs it is a co-keyed join
            cur = _advance(cur.join(shards, cfg.id_col), "after_shards")
    except BaseException:
        if prev is not None:
            release_frame(prev)
        raise

    for stage in (
        "after_shards", "after_sample", "after_span_coverage",
        "after_boilerplate",
        "after_containment", "after_neardup", "after_exact_dedup",
    ):
        if stage in counts:
            counts["output"] = counts[stage]
            break
    else:
        counts["output"] = counts["after_gates"]
    return CurateResult(curated=cur, counts=counts)
