"""Within-corpus caption↔image CONSISTENCY profiles (SURVEY C62) and
caption quality gates (C75, C76).

Cross-snapshot caption byte-equality (SURVEY B21) is not here: it
rides the keyed pass (``operators/keyed.KeyedSnapshotPass``), which
compares each key's raw and curated captions with exact UTF-8
byte-equality, null-safely, from the same shuffle as uniqueness and
referential.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import AggConstraint
from bigdime_spark.schema import FAIL


# ---------------------------------- caption↔image consistency (C62)


def conflicting_caption_groups(
    df: DataFrame,
    phash_col: str = "phash",
    caption_col: str = "caption",
    id_col: str = "image_id",
    max_ids: int = 10,
) -> DataFrame:
    """LABEL-NOISE detector: copies of one image (identical perceptual
    hash — byte dups and re-encodes land on the same phash) carrying
    MORE THAN ONE caption. In a training corpus that is conflicting
    supervision: the model sees the same pixels labeled two ways. The
    within-corpus twin of B21 (which needs a second snapshot; this
    needs only the table itself).

    → one row per conflicted image: (phash, n_rows, n_captions,
    sample_ids) with n_rows > 1 and n_captions > 1. A NULL caption
    among labeled copies COUNTS as a conflicting label (one copy lost
    its annotation — that is noise, not absence); rows with NULL phash
    are excluded (no image identity to conflict on). ``sample_ids`` is
    the bounded deterministic sample of the ``max_ids`` smallest
    member ids (the C1 dup-group convention); counts stay exact.

    For NEAR-dup conflict (hamming ≤ k rather than equality), feed
    ``dedup.hamming_pairs_on_column`` output through
    ``dedup.near_dup_clusters`` and group captions by component — this
    operator stays the exact-phash fast path (one hash agg, one
    exchange).

    Plan: filter → per-phash window for the bounded sample → ONE hash
    aggregation; everything rides a single hash(phash) exchange."""
    base = df.filter(F.col(phash_col).isNotNull()).select(
        F.col(phash_col).alias("phash"),
        F.col(caption_col).alias("_cap"),
        F.col(id_col).alias("_id"),
    )
    w = Window.partitionBy("phash").orderBy("_id")
    n_captions = F.count_distinct("_cap") + F.max(
        F.when(F.col("_cap").isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            n_captions.alias("n_captions"),
            F.sort_array(
                F.collect_list(F.when(F.col("_rn") <= max_ids, F.col("_id")))
            ).alias("sample_ids"),
        )
        .filter((F.col("n_rows") > 1) & (F.col("n_captions") > 1))
    )


def stock_caption_groups(
    df: DataFrame,
    caption_col: str = "caption",
    phash_col: str = "phash",
    min_images: int = 10,
) -> DataFrame:
    """STOCK-CAPTION detector: one caption attached to ``min_images``
    or more DISTINCT images ("a photo", SEO boilerplate, scraper
    placeholder text). The mirror image of
    :func:`conflicting_caption_groups` — there one image has many
    labels; here one label covers many images, which teaches a
    caption model nothing and weights the phrase absurdly. n_images
    counts distinct phashes so exact re-uploads of one image do not
    inflate a caption into "stock".

    → (caption, n_rows, n_images) with n_images ≥ ``min_images``;
    NULL captions and NULL phashes are excluded (absence is
    not_null's finding, not stockness). Plan: ONE hash aggregation on
    caption — report-sized output at any corpus size."""
    if min_images < 2:
        raise ValueError(f"min_images must be >= 2, got {min_images}")
    return (
        df.filter(
            F.col(caption_col).isNotNull() & F.col(phash_col).isNotNull()
        )
        .groupBy(F.col(caption_col).alias("caption"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(phash_col)).alias("n_images"),
        )
        .filter(F.col("n_images") >= min_images)
    )


class CaptionQualityBound(AggConstraint):
    """Declared caption TEXT-quality gate (SURVEY C75): the per-part
    MEAN of a functions/text.quality_metrics feature over non-null
    captions must stay inside [lo, hi]. The text-quality machinery
    (C12) existed for the documents table; this wires it to the image
    table's caption column as a first-class VALIDATION gate — "mean
    caption quality_score >= 0.3", "mean n_tokens in [3, 64]" — the
    label-side curation contract of an image+caption corpus (a
    producer swapping real captions for SEO soup or raw OCR digits
    moves these means long before any schema or null check notices).

    Metrics (per-row definitions in functions/text.quality_metrics):
    n_tokens, avg_word_len, stopword_ratio, punct_ratio, digit_ratio,
    quality_score.

    Scale posture: FUSES into the suite's single stats aggregation —
    one F.avg of a pure column expression per distinct (column,
    metric) pair (shared alias: a lo-bound and a hi-bound on the same
    metric share one aggregate buffer), whole-stage codegen, zero
    extra scans. Part-level verdicts only (like Compliance: inside a
    mean there is no meaningful row violation). NOT_READY when the
    part has no non-null caption (avg over nothing is NULL).
    """

    METRICS = (
        "n_tokens",
        "avg_word_len",
        "stopword_ratio",
        "punct_ratio",
        "digit_ratio",
        "quality_score",
    )

    def __init__(
        self,
        metric: str = "quality_score",
        lo: float | None = None,
        hi: float | None = None,
        column: str = "caption",
    ):
        import math

        if metric not in self.METRICS:
            raise ValueError(
                f"caption quality metric={metric!r} unsupported: one of "
                f"{self.METRICS}"
            )
        if lo is None and hi is None:
            raise ValueError("caption quality bound needs lo, hi, or both")
        for side, v in (("lo", lo), ("hi", hi)):
            if v is not None and not math.isfinite(v):
                raise ValueError(
                    f"caption quality {side} must be finite (omit the side "
                    f"for an open bound), got {v!r}"
                )
        self.metric = metric
        self.lo = float("-inf") if lo is None else float(lo)
        self.hi = float("inf") if hi is None else float(hi)
        if self.hi < self.lo:
            raise ValueError(f"caption quality bound: hi {self.hi} < lo {self.lo}")
        self.column = column
        self.name = f"caption_quality_{metric}.{column}"
        self._avg = f"cq__{column}__{metric}"

    def shared_agg_exprs(self) -> dict[str, Column]:
        from bigdime_spark.functions.text import quality_metrics

        m = quality_metrics(F.col(self.column))[self.metric].cast("double")
        # a NULL caption must not contribute: quality_score's
        # greatest/least scaffolding SKIPS the NULL intermediates and
        # would score a missing caption 1.0 (nulls belong to not_null)
        return {self._avg: F.avg(F.when(F.col(self.column).isNotNull(), m))}

    def agg_exprs(self) -> list[Column]:
        return []

    def _m(self) -> Column:
        return F.col(self._avg)

    def verdict_col(self) -> Column:
        from bigdime_spark.schema import NOT_READY, PASS

        return (
            F.when(self._m().isNull(), F.lit(NOT_READY))
            .when((self._m() >= self.lo) & (self._m() <= self.hi), F.lit(PASS))
            .otherwise(F.lit(FAIL))
        )

    def observed_col(self) -> Column:
        return F.concat(
            F.lit(f"mean_{self.metric}="),
            F.coalesce(F.round(self._m(), 6).cast("string"), F.lit("null")),
        )

    def expected_col(self) -> Column:
        lo_txt = "-inf" if self.lo == float("-inf") else str(self.lo)
        hi_txt = "inf" if self.hi == float("inf") else str(self.hi)
        return F.lit(f"mean_{self.metric} in [{lo_txt}, {hi_txt}]")


class CaptionLangShareBound(AggConstraint):
    """Declared caption LANGUAGE-mix gate (SURVEY C76; the C13 langid
    heuristic as a fused validation gate): the per-part fraction of
    non-null captions whose predicted language (functions/text.
    predicted_lang — marker-token argmax, 'und' when nothing matches)
    equals ``lang`` must stay inside [lo, hi]. The corpus contract of
    a monolingual caption pipeline: "≥ 90% of captions read as en"
    pages when a scraper starts pulling the wrong locale — long
    before any schema/null/quality-mean check notices; a hi-bound on
    'und' caps the gibberish share the same way.

    Scale posture: ONE count_if over a pure column expression riding
    the fused stats aggregation (shared per-(column) non-null counter
    deduped across bounds), whole-stage codegen, zero extra scans.
    Part-level verdicts only; NOT_READY when the part has no non-null
    caption (a share over nothing is not a PASS).
    """

    def __init__(
        self,
        lang: str,
        lo: float | None = None,
        hi: float | None = None,
        column: str = "caption",
    ):
        from bigdime_spark.functions.text import LANG_MARKERS

        known = tuple(LANG_MARKERS) + ("und",)
        if lang not in known:
            raise ValueError(
                f"caption lang share: lang={lang!r} unsupported (one of {known})"
            )
        if lo is None and hi is None:
            raise ValueError("caption lang share bound needs lo, hi, or both")
        for side, v in (("lo", lo), ("hi", hi)):
            if v is not None and not 0.0 <= v <= 1.0:
                raise ValueError(
                    f"caption lang share {side} must be in [0, 1], got {v!r}"
                )
        self.lang = lang
        self.lo = 0.0 if lo is None else float(lo)
        self.hi = 1.0 if hi is None else float(hi)
        if self.hi < self.lo:
            raise ValueError(
                f"caption lang share bound: hi {self.hi} < lo {self.lo}"
            )
        self.column = column
        self.name = f"caption_lang_{lang}.{column}"
        self._k = f"cl__{column}__{lang}"
        self._n = f"cl__{column}__n"

    def shared_agg_exprs(self) -> dict[str, Column]:
        from bigdime_spark.functions.text import predicted_lang

        c = F.col(self.column)
        return {
            self._k: F.count_if(c.isNotNull() & (predicted_lang(c) == self.lang)),
            self._n: F.count_if(c.isNotNull()),
        }

    def agg_exprs(self) -> list[Column]:
        return []

    def _share(self) -> Column:
        return F.try_divide(F.col(self._k), F.col(self._n))

    def verdict_col(self) -> Column:
        from bigdime_spark.schema import NOT_READY, PASS

        s = self._share()
        return (
            F.when(s.isNull(), F.lit(NOT_READY))
            .when((s >= self.lo) & (s <= self.hi), F.lit(PASS))
            .otherwise(F.lit(FAIL))
        )

    def observed_col(self) -> Column:
        return F.concat(
            F.lit(f"share_{self.lang}="),
            F.coalesce(F.round(self._share(), 6).cast("string"), F.lit("null")),
        )

    def expected_col(self) -> Column:
        return F.lit(f"share_{self.lang} in [{self.lo}, {self.hi}]")
