"""spark-submit entrypoint (SURVEY §3.2 entry point 1; BASELINE.json:14
"run via spark-submit --py-files on a multi-executor cluster").

Usage (cluster):
    spark-submit --py-files bigdime_spark.zip -m bigdime_spark.cli run \
        --raw <table-or-dir> --curated <table-or-dir> --manifest <dir> \
        --out <dir> --lineage <dir> --run-id r1

    python -m bigdime_spark.cli synth --rows 10000 --parts 16 --out /tmp/fx
    python -m bigdime_spark.cli run --raw /tmp/fx/raw --curated /tmp/fx/curated \
        --manifest /tmp/fx/manifest --out /tmp/out --lineage /tmp/out/lineage

Prints ONE summary JSON line on stdout; all tables land as parquet
(Iceberg when the runtime jar is present — sources/tables.py seam).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys
import time

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bigdime_spark.session import get_spark

# looked up at call time (tables.read_table), so a caller that wraps
# the module's functions (perfbench --trace 1) sees every read and write
from bigdime_spark.sources import tables


def _bound(flag: str, text: str) -> tuple[float | None, float | None]:
    """LO~HI, either side empty = open."""
    sides = text.split("~")
    if len(sides) != 2:
        raise ValueError(f"{flag}: bound must be LO~HI, got {text!r}")
    try:
        return tuple(float(v) if v else None for v in sides)
    except ValueError as exc:
        raise ValueError(f"{flag}: {exc}")


def _grouped_bound_entry(token: str) -> dict:
    """TARGET:GROUP:METRIC:LO~HI[:MINSUP] → a `grouped_bounds` config
    entry (its keys are GroupedBound's arguments)."""
    sides = token.split(":")
    if len(sides) not in (4, 5) or not all(sides[:3]):
        raise ValueError(
            "--grouped-bound: expected "
            f"TARGET:GROUP:METRIC:LO~HI[:MINSUP], got {token!r}"
        )
    lo, hi = _bound("--grouped-bound", sides[3])
    try:
        min_support = int(sides[4]) if len(sides) == 5 else 1
    except ValueError as exc:
        raise ValueError(f"--grouped-bound: {exc}")
    return {"target": sides[0], "group_by": sides[1], "metric": sides[2],
            "lo": lo, "hi": hi, "min_support": min_support}


def _parse_grouped_bound(token: str):
    """`stream --grouped-bound` token → GroupedBound."""
    from bigdime_spark.operators.grouped import GroupedBound

    entry = _grouped_bound_entry(token)
    try:
        return GroupedBound(**entry)
    except ValueError as exc:
        raise ValueError(f"--grouped-bound: {exc}")


def _name_bound_entry(flag: str, key: str, token: str) -> dict:
    """NAME:LO~HI (either side empty = open) → {key: NAME, lo, hi} —
    a `caption_quality_bounds` / `caption_lang_bounds` entry."""
    sides = token.split(":")
    if len(sides) != 2 or not sides[0] or "~" not in sides[1]:
        raise ValueError(f"{flag}: expected NAME:LO~HI, got {token!r}")
    lo, hi = _bound(flag, sides[1])
    return {key: sides[0], "lo": lo, "hi": hi}


def _seq_continuity_entries(value: str, args) -> dict:
    sides = value.split(":")
    if len(sides) > 2 or not sides[0]:
        raise ValueError(
            f"--seq-continuity: expected COL or COL:MAX_GAPS, got {value!r}"
        )
    entry = {"id_col": sides[0]}
    if len(sides) == 2:
        try:
            entry["max_gaps"] = int(sides[1])
        except ValueError as exc:
            raise ValueError(f"--seq-continuity: {exc}")
    return {"sequence_continuity": [entry]}


def _fd_entries(value: str, args) -> dict:
    entries = []
    for token in _cols(value):
        sides = token.split(":")
        if len(sides) != 2 or not all(sides):
            raise ValueError(f"--fd: expected DET:DEP, got {token!r}")
        entries.append({"det": sides[0], "dep": sides[1]})
    return {"functional_dependencies": entries}


def _quality_mean_range(value: str, args) -> dict:
    lo, hi = _bound("--quality-mean-range", value)
    if lo is None or hi is None:
        raise ValueError(f"--quality-mean-range: expected LO~HI, got {value!r}")
    return {"decode_quality_mean_lo": lo, "decode_quality_mean_hi": hi}


def _cols(value: str) -> list[str]:
    return [c.strip() for c in value.split(",") if c.strip()]


#: `run`'s suite-SHAPE flags → the config document (plans/config.py
#: keys and sections) each stands for: a key name when the flag's
#: value passes through unchanged, else a function (value, args) →
#: entries. A flag at its argparse default adds nothing; `--config`
#: refuses any flag moved off its default.
_SHAPE_FLAGS = {
    "--decode": "check_decode",
    "--decode-seed": "decode_seed",
    "--decode-sample": "decode_sample_rate",
    "--decode-sample-by": "decode_sample_stratify",
    "--decode-sample-min": "decode_sample_min_n",
    "--decode-max-bad-rate": lambda v, a: {"decode_rate_gate": [v, a.decode_rate_z]},
    # the gate's confidence, read by --decode-max-bad-rate above
    "--decode-rate-z": lambda v, a: {},
    "--pixel-drift": "decode_pixel_drift",
    "--quality-min-std": "decode_quality_min_std",
    "--quality-mean-range": _quality_mean_range,
    "--quality-max-flagged": "decode_quality_max_flagged",
    "--phash-dedup": "check_phash_dedup",
    "--phash-k": "phash_k",
    "--profile-outliers": "check_profile_outliers",
    "--bit-balance": "check_bit_balance",
    "--payload-conformance": "check_payload_conformance",
    "--seq-continuity": _seq_continuity_entries,
    "--fd": _fd_entries,
    "--grouped-bound": lambda v, a: {
        "grouped_bounds": [_grouped_bound_entry(t) for t in v]
    },
    "--caption-quality": lambda v, a: {
        "caption_quality_bounds": [
            _name_bound_entry("--caption-quality", "metric", t) for t in v
        ]
    },
    "--caption-lang": lambda v, a: {
        "caption_lang_bounds": [
            _name_bound_entry("--caption-lang", "lang", t) for t in v
        ]
    },
    "--referential-bloom": lambda v, a: {"referential_mode": "bloom"},
    "--cat-drift": lambda v, a: {"categorical_drift_cols": _cols(v)},
    "--mask-drift": lambda v, a: {"mask_drift_cols": _cols(v)},
    "--zone-clustering": lambda v, a: {"zone_clustering_cols": _cols(v)},
    "--zone-max-overlap": "zone_max_overlap",
    "--content-diff": "check_content",
    "--content-cols": lambda v, a: {"content_cols": _cols(v)},
    "--topk-violations": "topk_violations",
}

#: the not-null columns a `run` without --config checks
_FLAG_NOT_NULL = ["image_id", "caption", "w", "h", "fmt"]


def _flag_value(args, flag: str):
    return getattr(args, flag[2:].replace("-", "_"))


def _moved_shape_flags(args) -> list[str]:
    """The shape flags ``args`` holds at other than their defaults."""
    defaults = _build_parser().parse_args(["run", "--raw", "", "--out", ""])
    return [
        f for f in _SHAPE_FLAGS
        if _flag_value(args, f) != _flag_value(defaults, f)
    ]


def _suite_config_from_flags(args) -> dict:
    """The config document `run`'s shape flags stand for."""
    cfg: dict = {"not_null": list(_FLAG_NOT_NULL)}
    for flag in _moved_shape_flags(args):
        spec, value = _SHAPE_FLAGS[flag], _flag_value(args, flag)
        cfg.update({spec: value} if isinstance(spec, str) else spec(value, args))
    return cfg


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="bigdime_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="write a deterministic raw/curated/manifest fixture")
    s.add_argument("--rows", type=int, default=10_000)
    s.add_argument("--parts", type=int, default=16)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--out", required=True)
    s.add_argument("--drift-parts", type=str, default="", help="comma-separated part indexes with shifted w/h")
    s.add_argument(
        "--phash-near-pairs",
        type=int,
        default=0,
        help="plant N near-duplicate phash pairs (hamming distance 1); "
        "pair j links img-{2j} and img-{2j+1}, which land in "
        "consecutive partitions",
    )

    r = sub.add_parser("run", help="run the validation suite")
    r.add_argument(
        "--config",
        default=None,
        help="declarative suite config (JSON; keys = ValidationSuite "
        "fields plus the constraint sections listed in the "
        "plans/config.py docstring). It starts from the suite defaults "
        "(not_null: image_id only; a flag run checks five columns). "
        "The config is authoritative for suite SHAPE: combining it "
        "with a shape flag (--decode, --phash-dedup, ...) is an error; "
        "input/runtime flags (--raw, --parts, --lineage, ...) still "
        "apply",
    )
    r.add_argument("--raw", required=True, help="raw snapshot (Iceberg table id or parquet dir)")
    r.add_argument("--curated", default=None)
    r.add_argument("--manifest", default=None)
    r.add_argument("--out", required=True, help="output dir for verdicts/violations/stats")
    r.add_argument("--lineage", default=None, help="lineage table dir (enables resume)")
    r.add_argument("--run-id", default=None)
    r.add_argument("--no-resume", action="store_true")
    r.add_argument(
        "--kmv-keys",
        default=None,
        help="comma-separated key columns to stamp per-part KMV "
        "distinct sketches for (written run_id-stamped to <out>/kmv; "
        "feed an accumulated union to `history --kmv` for cross-run "
        "key churn)",
    )
    r.add_argument("--kmv-k", type=int, default=256)
    r.add_argument(
        "--slice-dims",
        default=None,
        help="comma-separated categorical columns to triage violations "
        "by (operators/slices.violation_slices, C69): writes per-value "
        "(n, n_viol, viol_rate, global_rate, lift) run_id-stamped to "
        "<out>/slices and puts the highest-lift segment in the summary "
        "as slice_top — 'violations concentrate in fmt=webp at 11x'. "
        "A triage OUTPUT like --kmv-keys, not suite shape, so it "
        "composes with --config. At 10^12-row scale pair it with "
        "--topk-violations: the violating-id set is broadcast back "
        "onto the corpus",
    )
    r.add_argument(
        "--slice-pairs",
        action="store_true",
        help="also emit dimension-PAIR slices (dim 'a×b') for "
        "--slice-dims",
    )
    r.add_argument(
        "--slice-min-support",
        type=int,
        default=1,
        help="prune slices with fewer rows than this (default 1)",
    )
    r.add_argument(
        "--parts",
        default=None,
        help="comma-separated partition values: validate ONLY these "
        "(the quarantine → fix → re-validate loop); the IN-filter on "
        "the partition column prunes whole files at the scan",
    )
    r.add_argument("--decode", action="store_true", help="enable the pixel-decode pass")
    r.add_argument("--decode-seed", type=int, default=None)
    r.add_argument(
        "--decode-sample",
        type=float,
        default=1.0,
        help="decode a deterministic hash-selected fraction of images "
        "(0 < rate <= 1; the 10^12-row posture for the Python decode "
        "pass — below 1.0 the checksum reads the payload itself "
        "instead of riding the sampled decode scan)",
    )
    r.add_argument(
        "--caption-quality",
        action="append",
        default=None,
        metavar="METRIC:LO~HI",
        help="declared caption TEXT-quality gate (C75, repeatable): "
        "the per-part MEAN of a text-quality metric "
        "(n_tokens|avg_word_len|stopword_ratio|punct_ratio|"
        "digit_ratio|quality_score) over non-null captions must stay "
        "inside LO~HI (either side may be empty). Rides the fused "
        "stats scan — zero extra passes. e.g. quality_score:0.3~ or "
        "n_tokens:3~64",
    )
    r.add_argument(
        "--caption-lang",
        action="append",
        default=None,
        metavar="LANG:LO~HI",
        help="declared caption LANGUAGE-mix gate (C76, repeatable): "
        "the per-part share of non-null captions whose predicted "
        "language (marker-token heuristic; en|de|fr|es|und) equals "
        "LANG must stay inside LO~HI. Rides the fused stats scan. "
        "e.g. en:0.9~ (monolingual contract) or und:~0.05 (cap the "
        "gibberish share)",
    )
    r.add_argument(
        "--grouped-bound",
        action="append",
        default=None,
        metavar="TARGET:GROUP:METRIC:LO~HI[:MINSUP]",
        help="per-GROUP metric gate (C72, repeatable): every GROUP "
        "value segment of the part must keep METRIC "
        "(null_rate|mean|min|max|n|n_distinct) of TARGET inside "
        "LO~HI (either side may be empty). Catches the segment "
        "failure a part-level metric dilutes — 'caption null-rate "
        "0.8%% overall, 41%% for fmt=webp'. e.g. "
        "caption:fmt:null_rate:~0.05",
    )
    r.add_argument(
        "--decode-sample-by",
        default=None,
        metavar="COL",
        help="STRATIFIED decode sampling (C77): boost each "
        "(part, COL) stratum's keep-rate so it gets at least "
        "~--decode-sample-min sampled rows — a rare fmt that is "
        "0.01%% of the corpus keeps decode coverage a uniform "
        "--decode-sample would never give it. With "
        "--decode-max-bad-rate, certification becomes per stratum "
        "(worst stratum named in the verdict). Requires "
        "--decode-sample < 1",
    )
    r.add_argument(
        "--decode-sample-min",
        type=int,
        default=0,
        help="per-stratum minimum expected sample size for "
        "--decode-sample-by (pick it from the Wilson planning bound: "
        "min_n_to_certify(max_rate) — e.g. 385 for 1%% at 95%%)",
    )
    r.add_argument(
        "--decode-max-bad-rate",
        type=float,
        default=None,
        help="statistically certify the SAMPLED decode (C71): per-part "
        "decode_rate verdict from the Wilson interval on (k bad, n "
        "sampled) — PASS certifies the part's POPULATION bad-decode "
        "rate <= this bound at the --decode-rate-z confidence, FAIL "
        "certifies it above, NOT_READY = sample too small to say "
        "(raise --decode-sample). Requires --decode; must be in (0, 1)",
    )
    r.add_argument(
        "--decode-rate-z",
        type=float,
        default=1.96,
        help="z score for the --decode-max-bad-rate interval "
        "(default 1.96 = two-sided 95%%)",
    )
    r.add_argument(
        "--pixel-drift",
        action="store_true",
        help="image-SPACE drift riding the decode pass: pooled "
        "channel-value histograms of the decoded pixels, scored "
        "raw-vs-curated as drift_ks.pixels / drift_psi.pixels "
        "(requires --decode and --curated; zero extra scans)",
    )
    r.add_argument(
        "--quality-min-std",
        type=float,
        default=None,
        help="image-quality gate riding the decode pass: flag images "
        "whose pixel std is below this (flat/constant images); a part "
        "FAILs image_quality when flagged count > --quality-max-flagged",
    )
    r.add_argument(
        "--quality-mean-range",
        default=None,
        help="LO~HI pixel-mean bounds for the image-quality gate "
        "(dark/bright detection); requires --decode",
    )
    r.add_argument(
        "--quality-max-flagged",
        type=int,
        default=0,
        help="flagged images a part may hold before image_quality "
        "FAILs (default 0)",
    )
    r.add_argument(
        "--phash-dedup",
        action="store_true",
        help="enable the perceptual-hash near-duplicate constraint "
        "(pigeonhole band join over the phash column)",
    )
    r.add_argument(
        "--phash-k",
        type=int,
        default=2,
        help="max hamming distance for --phash-dedup (default 2)",
    )
    r.add_argument(
        "--profile-outliers",
        action="store_true",
        help="enable per-part anomaly scoring (robust median/MAD z "
        "over the fused stats — zero extra scans); flagged parts FAIL "
        "profile_outlier.<metric>",
    )
    r.add_argument(
        "--bit-balance",
        action="store_true",
        help="enable the phash degeneracy detector (per-bit set "
        "fractions ride the fused stats agg — zero extra scans); a "
        "partition with stuck bits FAILs bit_balance_phash",
    )
    r.add_argument(
        "--payload-conformance",
        action="store_true",
        help="structural payload check: declared fmt vs byte length / "
        "container magic, pure JVM expressions (fuses into the "
        "checksum's full-payload scan — zero extra scans); the cheap "
        "decode-off precursor to --decode",
    )
    r.add_argument(
        "--seq-continuity",
        type=str,
        default="",
        help="dense-id continuity check: COL or COL:MAX_GAPS — per "
        "part, gaps = dropped batches and dups = replays, no manifest "
        "needed (verdict family sequence_continuity.<col>)",
    )
    r.add_argument(
        "--fd",
        type=str,
        default="",
        help="comma-separated functional dependencies DET:DEP — a "
        "determinant mapping to >1 dependent value FAILs every part "
        "holding its rows (verdict family fd.<det>-><dep>)",
    )
    r.add_argument(
        "--referential-bloom",
        action="store_true",
        help="replace the exact referential join with the Bloom "
        "membership SCREEN (operators/bloom.BloomReferential): zero "
        "join shuffles, definite-orphan lower bounds — FAILs are "
        "always real; adjudicate flagged parts with an exact re-run",
    )
    r.add_argument(
        "--cat-drift",
        type=str,
        default="",
        help="comma-separated categorical columns to drift-test with "
        "exact value counts (verdict family drift_cat.<col>), e.g. fmt",
    )
    r.add_argument(
        "--mask-drift",
        type=str,
        default="",
        help="comma-separated high-cardinality id/code columns to "
        "drift-test over format MASKS (verdict family "
        "drift_mask.<col>): a producer switching id schemes moves the "
        "mask population even when every value is unique on both sides",
    )
    r.add_argument(
        "--zone-clustering",
        type=str,
        default="",
        help="comma-separated numeric columns to layout-gate (verdict "
        "family zone_clustering.<col>): parts whose [min,max] range "
        "overlaps more than --zone-max-overlap of all parts' ranges "
        "FAIL — zero extra scans (reads the fused stats' min/max)",
    )
    r.add_argument(
        "--zone-max-overlap",
        type=float,
        default=0.5,
        help="max allowed overlap_fraction for --zone-clustering parts",
    )
    r.add_argument(
        "--content-diff",
        action="store_true",
        help="full-row content diff raw vs curated: xxhash64 digest of "
        "--content-cols rides the keyed pass (zero extra shuffles); "
        "parts with changed rows FAIL content_equality",
    )
    r.add_argument(
        "--content-cols",
        type=str,
        default="w,h,fmt,phash",
        help="columns folded into the content digest (payload bytes "
        "excluded by default: checksum owns payload integrity)",
    )
    r.add_argument("--topk-violations", type=int, default=None)
    r.add_argument(
        "--no-quarantine",
        action="store_true",
        help="skip writing <out>/quarantine on failure (reference "
        "semantics: FAILED units are quarantined by default)",
    )

    rep = sub.add_parser("report", help="summarize a run's output dir (no Spark — DuckDB)")
    rep.add_argument("--out", required=True, help="dir holding verdicts/ violations/ [lineage/]")
    rep.add_argument("--top", type=int, default=10)

    ru = sub.add_parser(
        "rollup",
        help="table-level / cross-run distinct estimates from the "
        "persisted per-partition HLL sketches — no data rescan (B6)",
    )
    ru.add_argument("--stats", nargs="+", required=True, help="one or more stats output dirs")
    ru.add_argument(
        "--ratios",
        action="store_true",
        help="also emit approximate distinctness (sketch distinct / "
        "non-null rows) per column — table-level when one stats dir, "
        "requires exactly one dir (cross-RUN sketch unions double-"
        "count the denominator)",
    )
    ru.add_argument(
        "--zone-overlap",
        metavar="COL",
        default=None,
        help="also emit the zone-map clustering depth for COL from the "
        "persisted per-part stat__COL__min/max ranges — how many parts' "
        "ranges overlap each part's (1 = perfectly clustered, n_parts = "
        "scattered, pruning dead); requires exactly one stats dir",
    )

    dd = sub.add_parser(
        "dedup",
        help="near-duplicate image detection over an int64 perceptual-"
        "hash column: pigeonhole band join at hamming <= k, then "
        "connected-components clustering (transitive closure)",
    )
    dd.add_argument("--input", required=True, help="table dir with the id + phash columns")
    dd.add_argument("--out", required=True, help="writes <out>/pairs and <out>/clusters")
    dd.add_argument("--id-col", default="image_id")
    dd.add_argument("--phash-col", default="phash")
    dd.add_argument("--k", type=int, default=2, help="max hamming distance")
    dd.add_argument("--bits", type=int, default=64)
    dd.add_argument(
        "--max-bucket",
        type=int,
        default=100_000,
        help="drop degenerate band buckets wider than this (boilerplate valve)",
    )
    dd.add_argument(
        "--max-iter",
        type=int,
        default=25,
        help="connected-components iteration cap (raise for a "
        "legitimately long-diameter pair graph)",
    )
    dd.add_argument(
        "--cc-algo",
        choices=("label", "star"),
        default="label",
        help="components strategy: label = min-label propagation "
        "(O(diameter) rounds — banding candidates are shallow by "
        "design), star = large-star/small-star contraction "
        "(O(log^2 n) rounds regardless of diameter — for pair graphs "
        "that legitimately chain)",
    )

    an = sub.add_parser(
        "ann",
        help="approximate-nearest-neighbor top-k over an embedding "
        "column: ivf (trained coarse quantizer, the production "
        "default), hyperplane (banded LSH + multi-probe), sq (int8 "
        "scalar quantization: 4x smaller corpus scan + exact "
        "re-rank), pq (product quantization: m-byte codes + ADC "
        "lookup scoring + exact re-rank), ivfpq (both levers: IVF "
        "prunes which cells are scanned, PQ shrinks what is scanned "
        "inside them), or brute (exact, small query sets)",
    )
    an.add_argument("--input", required=True, help="table dir with id + embedding columns")
    an.add_argument("--out", required=True, help="writes <out>/topk")
    an.add_argument("--id-col", default="vec_id")
    an.add_argument("--vec-col", default="embedding")
    an.add_argument(
        "--queries",
        required=True,
        help="comma-separated query ids (matched as strings against "
        "--id-col); the query VECTORS come from the input table",
    )
    an.add_argument("--k", type=int, default=5)
    an.add_argument(
        "--mode",
        choices=("ivf", "hyperplane", "brute", "sq", "pq", "ivfpq"),
        default="ivf",
    )
    an.add_argument("--train-k", type=int, default=64, help="ivf: number of centroids to train")
    an.add_argument("--train-iters", type=int, default=4, help="ivf: Lloyd's iterations")
    an.add_argument("--nprobe", type=int, default=4, help="ivf: cells probed per query")
    an.add_argument("--nbits", type=int, default=16, help="hyperplane: signature bits")
    an.add_argument("--bands", type=int, default=4, help="hyperplane: band tables")
    an.add_argument("--multiprobe", type=int, default=1, help="hyperplane: probe radius (0-2)")
    an.add_argument(
        "--refine",
        type=int,
        default=4,
        help="sq/pq: exact-rerank candidate multiple — the quantized "
        "approx stage keeps k*refine per query (default 4)",
    )
    an.add_argument(
        "--pq-m", type=int, default=8,
        help="pq: subspace count (dim must divide evenly)",
    )
    an.add_argument(
        "--pq-codes", type=int, default=16,
        help="pq: codewords per subspace (2-256)",
    )
    an.add_argument(
        "--pq-iters", type=int, default=2,
        help="pq: Lloyd's refinement iterations over the seed codebooks",
    )
    an.add_argument("--seed", type=int, default=42)
    an.add_argument(
        "--recall",
        action="store_true",
        help="also report macro-averaged recall@k vs a brute-force "
        "pass over the same queries (adds one full corpus scan) — "
        "the (train_k, nprobe) / (nbits, multiprobe) tuning readout",
    )
    an.add_argument(
        "--integrity",
        action="store_true",
        help="pre-flight the embedding table first (NULL/NaN/Inf/zero "
        "vectors, mixed dims, norm range — one scan); abort with exit "
        "2 on any defect instead of silently computing cosines over "
        "poisoned vectors",
    )

    st = sub.add_parser(
        "stream",
        help="incremental validation of a directory-shaped stream "
        "(Trigger.AvailableNow drain; re-runs resume from the "
        "checkpoint and re-validate nothing)",
    )
    st.add_argument("--source", required=True, help="streaming source dir (parquet appends)")
    st.add_argument("--out", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument(
        "--run-id",
        default=None,
        help="stamped on the <out>/grouped history frame (C73) so many "
        "stream drains union into the `trend` shape; auto-generated "
        "when omitted",
    )
    st.add_argument("--manifest", default=None)
    st.add_argument("--decode", action="store_true")
    st.add_argument(
        "--key-uniqueness",
        action="store_true",
        help="also run the CROSS-micro-batch key-uniqueness operator "
        "(bounded per-distinct-key state; duplicates spanning batches)",
    )
    st.add_argument(
        "--uniqueness-ttl-sec",
        type=float,
        default=None,
        help="evict idle key state after this many seconds; duplicates "
        "spaced further apart escape detection",
    )
    st.add_argument(
        "--histograms",
        action="store_true",
        help="also accumulate per-partition drift histograms across "
        "micro-batches (bounded per-part state) and write a "
        "drift-ready stats table to <out>/stats — feed it straight "
        "to the `drift` subcommand, zero rescan of the stream",
    )
    st.add_argument(
        "--grouped-bound",
        default=None,
        metavar="TARGET:GROUP:METRIC:LO~HI[:MINSUP]",
        help="streaming grouped metric gate (C74): accumulate bounded "
        "per-(part, group) metrics across micro-batches, evaluate the "
        "same GroupedBound verdict fold the batch run uses, and write "
        "the collapsed profile to <out>/grouped in the C73 "
        "trend-ready shape. Metrics: null_rate|mean|min|max|n "
        "(n_distinct needs unbounded state — batch only)",
    )
    st.add_argument("--max-files-per-trigger", type=int, default=None)

    dr = sub.add_parser(
        "drift",
        help="cross-run KS/PSI drift from two runs' persisted stats "
        "histograms — no rescan of either snapshot (B18/B19 over B9 arrays)",
    )
    dr.add_argument("--stats-a", required=True, help="baseline run's stats dir")
    dr.add_argument("--stats-b", required=True, help="candidate run's stats dir")
    dr.add_argument(
        "--table-level",
        action="store_true",
        help="roll the per-part bucket arrays up to ONE whole-table "
        "KS/PSI per column (fixed-bin counts are additive across "
        "parts) instead of per-part scores",
    )
    dr.add_argument(
        "--buckets-out",
        default=None,
        help="also write the bucket-level contribution frame "
        "(operators/drift.drift_contributions_from_stats, C70) to "
        "this dir — WHICH value ranges drive each score, with rank "
        "— and put each failing (part, column)'s worst bucket in "
        "the JSON scores as bucket_top. Still zero rescans: the "
        "triage reads the same persisted arrays. Incompatible with "
        "--table-level (bounds come from the per-part spec rows)",
    )

    ed = sub.add_parser(
        "edrift",
        help="embedding-space drift between two snapshots: KS/PSI/W1/JS "
        "per seeded Gaussian projection (Cramer-Wold 1-D battery)",
    )
    ed.add_argument("--raw", required=True, help="baseline table dir (vec col)")
    ed.add_argument("--curated", required=True, help="candidate table dir")
    ed.add_argument("--vec-col", default="embedding")
    ed.add_argument("--dim", type=int, required=True, help="embedding dimension")
    ed.add_argument("--nproj", type=int, default=8)
    ed.add_argument("--nbins", type=int, default=32)
    ed.add_argument("--seed", type=int, default=42)

    ol = sub.add_parser(
        "outliers",
        help="per-part anomaly detection over a run's persisted stats "
        "table: robust (median/MAD) modified z-score per metric, "
        "flagging parts whose profile deviates from their siblings — "
        "no rescan of the data the stats describe",
    )
    ol.add_argument("--stats", required=True, help="a run's stats dir")
    ol.add_argument(
        "--metrics",
        default=None,
        help="comma-separated metric columns (default: every numeric "
        "scalar stat__ column)",
    )
    ol.add_argument(
        "--threshold",
        type=float,
        default=3.5,
        help="|modified z| cutoff (Iglewicz-Hoaglin recommend 3.5)",
    )
    ol.add_argument("--out", default=None, help="optionally write full scores here")

    pr = sub.add_parser(
        "profile",
        help="per-part structural profiles over a table: categorical "
        "columns (exact distinct/entropy/mode), Pearson correlation "
        "pairs, and mutual-information pairs — each ONE scan + ONE "
        "map-combined hash-agg; use these run-over-run to catch "
        "dependence shifts every per-column stat misses",
    )
    pr.add_argument("--input", required=True, help="table dir (parquet)")
    pr.add_argument("--part-col", default="part")
    pr.add_argument(
        "--categorical",
        default="",
        help="comma-separated low-cardinality columns, e.g. fmt,lang",
    )
    pr.add_argument(
        "--corr",
        default="",
        help="comma-separated numeric pairs x~y, e.g. w~h",
    )
    pr.add_argument(
        "--mi",
        default="",
        help="comma-separated categorical pairs x~y for mutual "
        "information, e.g. lang~source",
    )
    pr.add_argument(
        "--infer-types",
        default="",
        help="comma-separated stringly-typed columns to type-infer "
        "(narrowest try_cast class: boolean > bigint > double > date "
        "> timestamp > string)",
    )
    pr.add_argument(
        "--null-patterns",
        default="",
        help="comma-separated columns for the JOINT null-mask "
        "distribution (correlated missingness marginal null rates "
        "cannot see)",
    )
    pr.add_argument(
        "--distinctness",
        default="",
        help="comma-separated columns for exact distinctness / "
        "uniqueness / unique-value-ratio profiles (deequ's "
        "hasUniqueness family; exact-value-set contract like "
        "--categorical)",
    )
    pr.add_argument(
        "--masks",
        default="",
        help="comma-separated stringly-typed columns for the "
        "format-mask profile (value shapes like Aaaaa#999999999; "
        "catches a producer switching id/code schemes that type "
        "inference, null rates and lengths cannot see)",
    )
    pr.add_argument(
        "--benford",
        default="",
        help="comma-separated magnitude columns for the first-digit "
        "Benford profile + per-part MAD summary (fabricated / "
        "clipped / unit-rescaled feeds move it while min/max/null "
        "rates still pass)",
    )
    pr.add_argument(
        "--out",
        default=None,
        help="write full profile frames here (categorical/ "
        "correlation/ mutual_info/ type_inference/ null_patterns/ "
        "distinctness/ benford/ benford_mad/); without it stdout carries at "
        "most 20 rows per profile (bounded diagnostic, not the data "
        "path)",
    )

    sg = sub.add_parser(
        "suggest",
        help="profile a table and suggest a ready-to-run suite config "
        "(deequ ConstraintSuggestion): not_null / compliance / unique "
        "/ non-negative / isin / type-conformance rules, each with "
        "evidence; review, prune, then feed to run --config",
    )
    sg.add_argument("--input", required=True, help="table dir (parquet)")
    sg.add_argument(
        "--columns",
        default=None,
        help="comma-separated columns to profile (default: every "
        "non-binary, non-nested column)",
    )
    sg.add_argument(
        "--max-values",
        type=int,
        default=10,
        help="suggest an isin domain check when a string column has "
        "at most this many distinct values (default 10)",
    )
    sg.add_argument(
        "--tol-null",
        type=float,
        default=0.05,
        help="suggest a compliance bound (not not_null) when the "
        "null rate is in (0, TOL] (default 0.05)",
    )
    sg.add_argument(
        "--min-support",
        type=int,
        default=10,
        help="isin needs rows >= MIN_SUPPORT * distinct values (a "
        "genuine categorical, not a small table of free text; "
        "default 10)",
    )
    sg.add_argument(
        "--out", default=None, help="also write the config JSON here"
    )

    pl = sub.add_parser(
        "plan",
        help="incremental-run planner: diff two per-part metric "
        "snapshots (stats/lineage/checksum frames from two runs) and "
        "print the parts an incremental validation must cover — "
        "added + changed parts feed `run --parts`, removed parts are "
        "surfaced; zero rescans of the data the metrics describe",
    )
    pl.add_argument("--prev", required=True, help="previous run's per-part frame")
    pl.add_argument("--cur", required=True, help="current run's per-part frame")
    pl.add_argument("--part-col", default="part")
    pl.add_argument(
        "--compare-cols",
        default=None,
        help="comma-separated metric columns (default: all shared columns)",
    )

    hi = sub.add_parser(
        "history",
        help="cross-run verdict history / flakiness profile over an "
        "accumulated verdicts table (run_id-stamped rows from many "
        "runs): stable/regressed/recovered/flaky per (part, "
        "constraint); exit 1 when anything regressed or flaky",
    )
    hi.add_argument(
        "--verdicts",
        default=None,
        help="dir/glob of run_id-stamped verdicts parquet (union of "
        "many runs' <out>/verdicts)",
    )
    hi.add_argument(
        "--schemas",
        default=None,
        help="dir/glob of run_id-stamped schema fingerprints (union "
        "of many runs' <out>/schema): cross-run SCHEMA evolution — "
        "columns dropped / retyped / flapping fail (exit 1), added / "
        "reordered are reported; mutually exclusive with --verdicts",
    )
    hi.add_argument(
        "--kmv",
        default=None,
        help="dir/glob of run_id-stamped KMV sketch frames (union of "
        "many runs' <out>/kmv): latest-vs-previous key churn per "
        "(column, part) — new/lost key estimates at sketch cost; "
        "mutually exclusive with --verdicts/--schemas",
    )
    hi.add_argument(
        "--max-lost-frac",
        type=float,
        default=None,
        help="with --kmv: exit 1 when any part's lost_est exceeds "
        "this fraction of its previous distinct estimate",
    )
    hi.add_argument(
        "--max-rows",
        type=int,
        default=20,
        help="worst rows printed (flaky first, then regressed; "
        "counts are always exact)",
    )

    fl = sub.add_parser(
        "files",
        help="physical file-layout profile / small-files detector: "
        "files-per-partition, sizes, zero-row commit artifacts (one "
        "driver FS listing + one zero-column scan)",
    )
    fl.add_argument("--input", required=True, help="parquet table dir")
    fl.add_argument("--part-col", default=None, help="hive partition column")
    fl.add_argument(
        "--small-file-mb",
        type=float,
        default=32.0,
        help="files under this are 'small' (default 32 MB)",
    )
    fl.add_argument(
        "--max-small-frac",
        type=float,
        default=None,
        help="exit 1 when any partition's small-file fraction exceeds "
        "this (omit = report only)",
    )
    fl.add_argument(
        "--plan-compaction",
        action="store_true",
        help="also emit the compaction plan: partitions holding more "
        "files than their bytes justify at --target-file-mb",
    )
    fl.add_argument(
        "--target-file-mb",
        type=float,
        default=256.0,
        help="target file size for --plan-compaction (default 256 MB)",
    )

    tr = sub.add_parser(
        "trend",
        help="run-over-run metric anomaly detection over an "
        "accumulated run_id-stamped stats history (union of many "
        "runs' <out>/stats): latest vs previous relative change per "
        "(part, metric); exit 1 on any ANOMALY",
    )
    tr.add_argument(
        "--history",
        required=True,
        help="dir/glob of run_id-stamped stats parquet",
    )
    tr.add_argument(
        "--metrics",
        default=None,
        help="comma-separated metric columns (default: every numeric "
        "scalar stat__ column)",
    )
    tr.add_argument(
        "--max-rel-change",
        type=float,
        default=0.5,
        help="flag |latest-prev|/|prev| above this (default 0.5)",
    )
    tr.add_argument(
        "--zscore",
        type=float,
        default=None,
        metavar="THRESHOLD",
        help="score the latest run against the median/MAD of ALL "
        "prior runs (robust modified z) instead of the one-step "
        "relative change — catches slow per-run drifts the step gate "
        "misses; flag |z| above THRESHOLD (3.5 = Iglewicz-Hoaglin)",
    )
    tr.add_argument(
        "--min-history",
        type=int,
        default=3,
        help="non-null prior runs required before --zscore/--ewma "
        "scores a (part, metric); fewer -> NOT_READY (default 3)",
    )
    tr.add_argument(
        "--ewma",
        type=float,
        default=None,
        metavar="ALPHA",
        help="score the latest run against the exponentially-weighted "
        "moving mean/stddev of prior runs (decay ALPHA in (0,1); "
        "recent runs dominate the baseline, so a drifting-but-healthy "
        "metric stops crying wolf after a level shift); flag |z| "
        "above --ewma-threshold; mutually exclusive with --zscore",
    )
    tr.add_argument(
        "--ewma-threshold",
        type=float,
        default=3.0,
        help="|z| cutoff for --ewma (default 3.0)",
    )
    tr.add_argument(
        "--hw",
        type=int,
        default=None,
        metavar="SEASON",
        help="score the latest run against an additive Holt-Winters "
        "one-step forecast with this season length (level + trend + "
        "per-phase seasonals; the strategy for metrics with a real "
        "period, which every non-seasonal baseline flags at their "
        "healthy peaks); needs >= 2*SEASON gap-free prior runs; flag "
        "|z| above --hw-threshold; mutually exclusive with "
        "--zscore/--ewma",
    )
    tr.add_argument(
        "--hw-threshold",
        type=float,
        default=3.0,
        help="|z| cutoff for --hw (default 3.0)",
    )
    tr.add_argument(
        "--cusum",
        type=float,
        default=None,
        metavar="H_SIGMA",
        help="CUSUM change-point chart: fix the first --cusum-baseline "
        "runs as the reference (mu, sigma), then accumulate every "
        "later run's deviation beyond the --cusum-k allowance; flag "
        "when the running sum exceeds H_SIGMA sigmas — catches the "
        "small persistent drift every per-run gate misses; mutually "
        "exclusive with --zscore/--ewma/--hw",
    )
    tr.add_argument(
        "--cusum-k",
        type=float,
        default=0.5,
        help="per-run allowance in sigmas discarded before the sum "
        "accumulates (default 0.5)",
    )
    tr.add_argument(
        "--cusum-baseline",
        type=int,
        default=3,
        help="non-null leading runs fixed as the CUSUM reference "
        "window (default 3, minimum 2)",
    )

    cu = sub.add_parser(
        "curate",
        help="end-to-end corpus curation: row-local quality/lang/PII "
        "gates → exact + MinHash near-dup dedup → deterministic "
        "mixture sampling → token-budget shard packing; writes "
        "<out>/curated and prints per-stage counts",
    )
    cu.add_argument("--input", required=True, help="documents-shaped table dir")
    cu.add_argument("--out", required=True, help="writes <out>/curated")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--domain-col", default="source")
    cu.add_argument("--min-tokens", type=int, default=None)
    cu.add_argument(
        "--max-dup-line-frac",
        type=float,
        default=None,
        help="drop docs whose duplicate-line fraction exceeds this",
    )
    cu.add_argument("--langs", default=None, help="comma-separated language allow-list")
    cu.add_argument("--drop-pii", action="store_true")
    cu.add_argument("--exact-dedup", action="store_true")
    cu.add_argument("--minhash-dedup", action="store_true")
    cu.add_argument("--minhash-threshold", type=float, default=0.5)
    cu.add_argument(
        "--containment-dedup",
        action="store_true",
        help="also drop docs whose shingle set sits (near-)entirely "
        "inside another doc's — the excerpt / boilerplate-wrapped "
        "copy minhash cannot see (containment 1.0 at ~0 Jaccard)",
    )
    cu.add_argument(
        "--containment-threshold",
        type=float,
        default=0.8,
        help="directed |A-intersect-B|/|A| at or above this drops A "
        "(default 0.8)",
    )
    cu.add_argument(
        "--max-hot-fraction",
        type=float,
        default=None,
        help="boilerplate gate: drop docs whose fraction of corpus-"
        "repeated n-grams exceeds this (hot-gram scan after dedup)",
    )
    cu.add_argument("--hot-gram-n", type=int, default=8)
    cu.add_argument("--hot-gram-min-docs", type=int, default=2)
    cu.add_argument(
        "--max-span-coverage",
        type=float,
        default=None,
        help="exact-substring gate: drop docs whose fraction of "
        "tokens inside cross-doc repeated spans exceeds this "
        "(positional, uncapped — the Lee et al. drop criterion)",
    )
    cu.add_argument("--span-n", type=int, default=8)
    cu.add_argument("--span-min-docs", type=int, default=2)
    cu.add_argument(
        "--mix",
        default=None,
        help="domain mixture weights, e.g. src0=4,src1=2,src2=1 "
        "(requires --target-rows; domains not listed are excluded)",
    )
    cu.add_argument("--target-rows", type=int, default=None)
    cu.add_argument("--sample-rate", type=float, default=None)
    cu.add_argument(
        "--quality-weighted-rate",
        type=float,
        default=None,
        help="quality-weighted sampling: per-row keep probability = "
        "quality_score(text) * RATE (soft filter; mutually exclusive "
        "with --mix and --sample-rate)",
    )
    cu.add_argument("--seed", default="curate")
    cu.add_argument("--shard-budget", type=int, default=None)

    dc = sub.add_parser(
        "decontam",
        help="benchmark decontamination: flag (and optionally drop) "
        "corpus docs sharing word n-grams with a held-out eval set — "
        "benchmark grams broadcast, the corpus side never shuffles",
    )
    dc.add_argument("--input", required=True, help="corpus table dir (id + text)")
    dc.add_argument("--bench", required=True, help="benchmark table dir (text)")
    dc.add_argument("--out", required=True, help="writes <out>/flagged (+/clean)")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--bench-text-col", default=None)
    dc.add_argument("--n", type=int, default=8, help="word n-gram length")
    dc.add_argument("--min-hits", type=int, default=1)
    dc.add_argument(
        "--drop",
        action="store_true",
        help="also write the decontaminated corpus to <out>/clean",
    )
    for name, parser in sub.choices.items():
        # report reads its parquet with DuckDB; synth's tiny fixture
        # runs wherever the launcher (or the local default) puts it
        if name not in ("report", "synth"):
            parser.add_argument(
                "--master",
                default=None,
                help="Spark master URL (default: spark-submit's --master, "
                "else local[$SPARK_GRAFT_CPUS] or local[*])",
            )
    return p


def _collapse_streaming_sink(stats):
    """An append-mode streaming stats sink (stream --histograms) holds
    one row per (part, micro-batch); scoring or drifting it raw would
    hit the one-row-per-part refusal. The ``rows_total`` column is the
    streamed-sink signature — collapse to the current state per part
    (latest_histograms) when present; batch stats frames pass through
    untouched."""
    if "rows_total" in stats.columns:
        from bigdime_spark.streaming.stateful import latest_histograms

        return latest_histograms(stats)
    return stats


def _committed_sink_files(sink_dir: str) -> list[str]:
    """COMMITTED parquet files of a streaming sink, per its
    _spark_metadata log — a stopped TTL-mode drain can leave an
    uncommitted batch's files on disk, and counting those would report
    phantom rows a Spark read of the sink correctly filters out. Falls
    back to a plain glob when no metadata log exists (not a streaming
    sink)."""
    import glob as _glob
    import os as _os

    meta = f"{sink_dir}/_spark_metadata"
    if not _os.path.isdir(meta):
        return sorted(_glob.glob(f"{sink_dir}/*.parquet"))
    committed: list[str] = []
    for log in sorted(_glob.glob(f"{meta}/*")):
        if _os.path.basename(log).endswith(".crc"):
            continue
        with open(log) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                path = entry.get("path", "")
                if path.startswith("file:"):
                    path = path[len("file:"):]
                if path and entry.get("action", "add") == "add":
                    committed.append(path)
    # .compact files replay earlier entries — dedupe before handing
    # the list to read_parquet or rows would double-count
    return sorted({p for p in committed if _os.path.exists(p)})


@contextlib.contextmanager
def _cached(frame):
    """Yield the persisted ``frame``; unpersist it when the block exits,
    by return or by error, so no cached frame outlives its command."""
    try:
        yield frame
    finally:
        frame.unpersist()


def _pick(row, *cols) -> dict:
    """``row``'s ``cols``, in that order, for a JSON summary."""
    return {c: row[c] for c in cols}


def _value_counts(frame, col: str) -> dict:
    """Rows per ``col`` value of a small frame (statuses, verdicts)."""
    return {
        r[col]: r["n"]
        for r in frame.groupBy(col).agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _round6(v):
    return None if v is None else round(v, 6)


def _ks_psi(r, psi_fail: float) -> dict:
    """The KS/PSI fields of a drift score row."""
    return {
        "ks_d": _round6(r["ks_d"]),
        "ks_exceeds": (
            None
            if r["ks_d"] is None or r["ks_threshold"] is None
            else bool(r["ks_d"] > r["ks_threshold"])
        ),
        "psi": _round6(r["psi"]),
        "psi_fail": None if r["psi"] is None else bool(r["psi"] >= psi_fail),
    }


def _pairs(spec: str, flag: str) -> list[tuple[str, str]]:
    out = []
    for token in _cols(spec):
        sides = token.split("~")
        if len(sides) != 2 or not sides[0] or not sides[1]:
            raise ValueError(f"{flag}: expected x~y, got {token!r}")
        out.append((sides[0], sides[1]))
    return out


def _cmd_report(args) -> int:
    import duckdb

    con = duckdb.connect()
    verdicts = f"{args.out}/verdicts/*.parquet"
    summary = {
        "verdict_counts": dict(
            con.execute(
                f"SELECT verdict, count(*) FROM read_parquet('{verdicts}') GROUP BY 1 ORDER BY 1"
            ).fetchall()
        ),
        "failed": [
            {"part": p, "constraint": c, "observed": o, "expected": e}
            for p, c, o, e in con.execute(
                f"SELECT part, \"constraint\", observed, expected FROM read_parquet('{verdicts}') "
                f"WHERE verdict = 'FAIL' ORDER BY part, \"constraint\" LIMIT {args.top}"
            ).fetchall()
        ],
    }
    try:
        summary["violations_by_constraint"] = dict(
            con.execute(
                f"SELECT \"constraint\", count(*) FROM read_parquet('{args.out}/violations/*.parquet') GROUP BY 1 ORDER BY 2 DESC"
            ).fetchall()
        )
    except Exception:
        summary["violations_by_constraint"] = {}
    try:
        committed = _committed_sink_files(f"{args.out}/dup_keys")
        if committed:
            summary["stream_dup_keys"] = con.execute(
                "SELECT count(DISTINCT image_id) FROM read_parquet(?)",
                [committed],
            ).fetchone()[0]
    except Exception:
        pass  # not a stream output dir / no duplicates ever emitted
    try:
        summary["lineage"] = [
            {"part": p, "status": st, "rows_scanned": rs, "violations": v}
            for p, st, rs, v in con.execute(
                f"SELECT part, status, rows_scanned, violations FROM read_parquet('{args.out}/lineage/*.parquet') ORDER BY part LIMIT {args.top}"
            ).fetchall()
        ]
    except Exception:
        pass
    try:
        # C69 slice triage when the run was asked for it: the
        # highest-lift segments, the "where the fix starts" readout
        summary["top_slices"] = [
            {"dim": d, "value": v, "n_viol": nv, "lift": lf}
            for d, v, nv, lf in con.execute(
                f"SELECT dim, value, n_viol, lift "
                f"FROM read_parquet('{args.out}/slices/*.parquet') "
                f"WHERE lift IS NOT NULL "
                f"ORDER BY lift DESC, n_viol DESC, dim, value LIMIT {args.top}"
            ).fetchall()
        ]
    except Exception:
        pass  # run did not use --slice-dims
    try:
        summary["quarantined_parts"] = [
            r[0]
            for r in con.execute(
                f"SELECT DISTINCT part FROM read_parquet('{args.out}/quarantine/*.parquet') ORDER BY 1"
            ).fetchall()
        ]
    except Exception:
        pass  # clean run / quarantine disabled
    print(json.dumps({"cmd": "report", **summary}))
    return 0


def _cmd_rollup(args) -> int:
    from bigdime_spark.operators.stats import rollup_distinct

    if args.ratios and len(args.stats) != 1:
        raise ValueError(
            "--ratios needs exactly one stats dir — unioning runs of the "
            "SAME table would double-count the row/null denominators "
            "against a deduplicating sketch union"
        )
    if args.zone_overlap and len(args.stats) != 1:
        raise ValueError(
            "--zone-overlap needs exactly one stats dir — ranges are a "
            "property of one run's layout"
        )
    spark = get_spark(master=args.master)
    frames = [spark.read.parquet(d) for d in args.stats]
    summary = {"cmd": "rollup", "sources": args.stats}
    # --zone-overlap alone needs only min/max columns: don't gate it
    # on HLL sketches, and don't pay the distinct rollup for it
    if args.ratios or not args.zone_overlap:
        missing = [
            d for d, f in zip(args.stats, frames)
            if not any(c.endswith("__hll") for c in f.columns)
        ]
        if missing:
            raise ValueError(
                "no __hll sketch columns in: " + ", ".join(missing)
                + " (was the profile run with distinct=True columns?)"
            )
        rows = rollup_distinct(frames).collect()
        if not rows:
            raise ValueError("stats dirs contain no rows")
        summary["distincts"] = {k: int(v) for k, v in rows[0].asDict().items()}
    if args.ratios:
        from bigdime_spark.operators.stats import distinctness_from_stats

        ratios = distinctness_from_stats(frames[0], table_level=True).collect()
        summary["ratios"] = {
            r["column"]: {
                "n_nonnull": int(r["n_nonnull"]),
                "distinct_est": float(r["distinct_est"]),
                "distinctness_est": _round6(r["distinctness_est"]),
            }
            for r in ratios
        }
    if args.zone_overlap:
        from bigdime_spark.operators.layout import zone_overlap_from_stats

        # parts-sized collect: bounded by partition count, same
        # contract as the rollup/ratios collects above
        prof = zone_overlap_from_stats(frames[0], args.zone_overlap).collect()
        ranged = [r for r in prof if r["overlap_depth"] is not None]
        worst = sorted(
            ranged, key=lambda r: (-r["overlap_depth"], str(r["part"]))
        )[:20]
        summary["zone_overlap"] = {
            "column": args.zone_overlap,
            "n_parts": len(prof),
            "n_ranged": len(ranged),
            "max_depth": max(
                (int(r["overlap_depth"]) for r in ranged), default=None
            ),
            "mean_fraction": (
                round(sum(r["overlap_fraction"] for r in ranged) / len(ranged), 6)
                if ranged
                else None
            ),
            "worst": [
                {
                    "part": str(r["part"]),
                    "depth": int(r["overlap_depth"]),
                    "fraction": r["overlap_fraction"],
                }
                for r in worst
            ],
        }
    print(json.dumps(summary))
    return 0


def _cmd_drift(args) -> int:
    from bigdime_spark.operators.drift import PSI_FAIL, drift_from_stats

    if args.buckets_out and args.table_level:
        raise ValueError(
            "--buckets-out is per-part triage — it cannot combine with "
            "--table-level"
        )
    spark = get_spark(master=args.master)
    stats_a = _collapse_streaming_sink(spark.read.parquet(args.stats_a))
    stats_b = _collapse_streaming_sink(spark.read.parquet(args.stats_b))
    scores = drift_from_stats(stats_a, stats_b, table_level=args.table_level)
    bucket_top: dict[tuple, dict] = {}
    if args.buckets_out:
        from bigdime_spark.operators.drift import (
            drift_contributions_from_stats,
            top_drift_buckets,
        )

        contrib = drift_contributions_from_stats(stats_a, stats_b)
        ranked = top_drift_buckets(contrib, k=1_000_000)
        tables.write_table(ranked, args.buckets_out, partition_by=None)
        # worst bucket per (part, column): bounded parts×columns.
        # A (part, column) present in only ONE frame has NULL
        # shares/gaps (n or m is 0) — surface null, don't crash
        for r in ranked.filter(F.col("rank") == 1).collect():
            bucket_top[(r["part"], r["column"])] = {
                "bucket": r["bucket"],
                "lo": r["lo"],
                "hi": r["hi"],
                "share_r": _round6(r["share_r"]),
                "share_c": _round6(r["share_c"]),
                "psi_term": _round6(r["psi_term"]),
            }
    rows = [
        {
            "part": r["part"],
            "column": r["column"],
            **_ks_psi(r, PSI_FAIL),
            **(
                {"bucket_top": bucket_top.get((r["part"], r["column"]))}
                if args.buckets_out
                else {}
            ),
        }
        for r in scores.collect()  # tiny: parts × columns rows
    ]
    print(json.dumps({"cmd": "drift", "a": args.stats_a, "b": args.stats_b,
                      "scores": rows}))
    # same exit contract as edrift/outliers/history: 1 when any
    # score crosses its gate, so the nightly wrapper can page
    return 1 if any(r["ks_exceeds"] or r["psi_fail"] for r in rows) else 0


def _cmd_edrift(args) -> int:
    from bigdime_spark.operators.drift import PSI_FAIL, embedding_drift

    spark = get_spark(master=args.master)
    raw = spark.read.parquet(args.raw).withColumn("part", F.lit("*"))
    cur = spark.read.parquet(args.curated).withColumn("part", F.lit("*"))
    scores = embedding_drift(
        raw, cur, vec_col=args.vec_col, dim=args.dim,
        nproj=args.nproj, nbins=args.nbins, seed=args.seed,
    )
    rows = [
        {
            "proj": r["column"],
            **_ks_psi(r, PSI_FAIL),
            "w1": _round6(r["w1"]),
            "js": _round6(r["js"]),
        }
        for r in scores.collect()  # tiny: nproj rows
    ]
    drifted = any(x["ks_exceeds"] or x["psi_fail"] for x in rows)
    print(json.dumps({"cmd": "edrift", "raw": args.raw, "curated": args.curated,
                      "scores": rows, "drifted": drifted}))
    return 1 if drifted else 0


def _cmd_profile(args) -> int:
    from functools import reduce

    from bigdime_spark.operators.stats import (
        categorical_profile,
        mutual_information,
        numeric_correlation,
    )

    cats = _cols(args.categorical)
    corr_pairs = _pairs(args.corr, "--corr")
    mi_pairs = _pairs(args.mi, "--mi")
    infer_cols = _cols(args.infer_types)
    np_cols = _cols(args.null_patterns)
    dv_cols = _cols(args.distinctness)
    bf_cols = _cols(args.benford)
    mask_cols = _cols(args.masks)
    if not (cats or corr_pairs or mi_pairs or infer_cols or np_cols
            or dv_cols or bf_cols or mask_cols):
        raise ValueError(
            "nothing to profile: pass --categorical, --corr, --mi, "
            "--infer-types, --null-patterns, --distinctness, "
            "--benford, or --masks"
        )

    spark = get_spark(master=args.master)
    summary: dict[str, object] = {"cmd": "profile", "input": args.input}
    frames: dict[str, object] = {}
    try:  # analysis is eager — a missing column raises at build time
        df = tables.read_table(spark, args.input)
        if cats:
            frames["categorical"] = categorical_profile(
                df, tuple(cats), part_col=args.part_col
            )
        if corr_pairs:
            frames["correlation"] = numeric_correlation(
                df, corr_pairs, part_col=args.part_col
            )
        if mi_pairs:
            # one scan per pair (each has its own joint-count shape);
            # tag rows so several pairs union into one frame
            mis = [
                mutual_information(df, x, y, part_col=args.part_col)
                .withColumn("pair", F.lit(f"{x}~{y}"))
                for x, y in mi_pairs
            ]
            frames["mutual_info"] = reduce(lambda a, b: a.unionByName(b), mis)
        if infer_cols:
            from bigdime_spark.operators.stats import type_inference_profile

            frames["type_inference"] = type_inference_profile(
                df, tuple(infer_cols), part_col=args.part_col
            )
        if np_cols:
            from bigdime_spark.operators.completeness import (
                null_pattern_profile,
            )

            frames["null_patterns"] = null_pattern_profile(
                df, tuple(np_cols), part_col=args.part_col
            )
        if dv_cols:
            from bigdime_spark.operators.stats import distinct_value_profile

            frames["distinctness"] = distinct_value_profile(
                df, tuple(dv_cols), part_col=args.part_col
            )
        if bf_cols:
            from bigdime_spark.operators.stats import (
                benford_mad,
                benford_profile,
            )

            # persist: benford_mad, the write and the count below all
            # reuse one scan of the input instead of re-melting it
            bf = benford_profile(
                df, tuple(bf_cols), part_col=args.part_col
            ).persist()
            frames["benford"] = bf
            frames["benford_mad"] = benford_mad(bf)
        if mask_cols:
            from bigdime_spark.operators.stats import mask_profile

            frames["masks"] = mask_profile(
                df, tuple(mask_cols), part_col=args.part_col
            )

        for name, frame in frames.items():
            if args.out:
                tables.write_table(frame, f"{args.out}/{name}", partition_by=None)
                # count the WRITTEN parquet (footer metadata, no
                # recompute) instead of re-running the profile plan
                n = spark.read.parquet(f"{args.out}/{name}").count()
                summary[name] = {"rows": n, "out": f"{args.out}/{name}"}
            else:
                rows = frame.limit(21).collect()
                summary[name] = {
                    "rows_shown": min(len(rows), 20),
                    "truncated": len(rows) > 20,
                    "sample": [r.asDict() for r in rows[:20]],
                }
    finally:
        for frame in frames.values():
            if frame.is_cached:
                frame.unpersist()
    print(json.dumps(summary, default=str))
    return 0


def _cmd_suggest(args) -> int:
    from bigdime_spark.plans.suggest import (
        suggest_constraints,
        suggest_image_checks,
        to_config,
    )

    spark = get_spark(master=args.master)
    df = tables.read_table(spark, args.input)
    sugg = suggest_constraints(
        df,
        columns=_cols(args.columns) if args.columns else None,
        max_values=args.max_values,
        tol_null=args.tol_null,
        min_support=args.min_support,
    )
    cfg = to_config(sugg)
    cfg.update(suggest_image_checks(df))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(cfg, fh, indent=2, sort_keys=True)
    print(
        json.dumps(
            {
                "cmd": "suggest",
                "n_suggestions": len(sugg),
                "suggestions": sugg[:50],
                "config": cfg,
            }
        )
    )
    return 0


def _cmd_outliers(args) -> int:
    from bigdime_spark.operators.outliers import (
        numeric_stat_metrics,
        robust_part_outliers,
    )

    spark = get_spark(master=args.master)
    stats = _collapse_streaming_sink(tables.read_table(spark, args.stats))
    metrics = _cols(args.metrics) if args.metrics else numeric_stat_metrics(stats)
    with _cached(
        robust_part_outliers(stats, metrics, threshold=args.threshold).persist()
    ) as scores:
        # flagged + not-scoreable rows are rare by construction;
        # the full frame stays distributed. NOT_READY (NULL metric)
        # must surface — a part whose profile could not be computed
        # is exactly the part to look at, not one to hide.
        def _rows(verdict: str) -> list[dict]:
            return [
                _pick(r, "part", "metric", "value", "med", "mad", "robust_z")
                for r in scores.filter(F.col("verdict") == verdict).collect()
            ]

        flagged = _rows("OUTLIER")
        not_ready = _rows("NOT_READY")
        if args.out:
            tables.write_table(scores, args.out, partition_by=None)
        n_scored = scores.count()
    print(
        json.dumps(
            {
                "cmd": "outliers",
                "stats": args.stats,
                "metrics": metrics,
                "scored": n_scored,
                "outliers": flagged,
                "not_ready": not_ready,
            }
        )
    )
    return 1 if (flagged or not_ready) else 0


def _cmd_plan(args) -> int:
    from bigdime_spark.plans.lineage import part_diff, plan_incremental

    spark = get_spark(master=args.master)
    cols = _cols(args.compare_cols) if args.compare_cols else None
    prev = _collapse_streaming_sink(tables.read_table(spark, args.prev))
    cur = _collapse_streaming_sink(tables.read_table(spark, args.cur))
    diff = part_diff(prev, cur, args.part_col, cols)
    statuses = _value_counts(diff, "status")
    plan = plan_incremental(prev, cur, args.part_col, cols)
    print(
        json.dumps(
            {
                "cmd": "plan",
                **plan,
                "n_to_validate": len(plan["to_validate"]),
                "unchanged": int(statuses.get("unchanged", 0)),
            }
        )
    )
    return 0


def _cmd_files(args) -> int:
    from bigdime_spark.operators.filelayout import (
        file_layout_profile,
        plan_compaction,
    )

    spark = get_spark(master=args.master)
    prof_df = file_layout_profile(
        spark,
        args.input,
        part_col=args.part_col,
        small_file_bytes=int(args.small_file_mb * 1024 * 1024),
    )
    with _cached(prof_df.persist()) as prof_df:
        prof = prof_df.collect()  # parts-sized
        compaction = None
        if args.plan_compaction:
            compaction = [
                _pick(r, "part", "n_files", "target_files")
                for r in plan_compaction(
                    prof_df, int(args.target_file_mb * 1024 * 1024)
                )
                .filter(F.col("action") == "compact")
                .collect()
            ]
    worst = sorted(prof, key=lambda r: (-(r["small_frac"] or 0), r["part"]))
    print(
        json.dumps(
            {
                "cmd": "files",
                "input": args.input,
                "n_parts": len(prof),
                "n_files": sum(r["n_files"] for r in prof),
                "n_rows": sum(r["n_rows"] for r in prof),
                "total_bytes": sum(r["total_bytes"] for r in prof),
                "n_empty": sum(r["n_empty"] for r in prof),
                **(
                    {"compaction": compaction}
                    if compaction is not None
                    else {}
                ),
                "worst": [
                    _pick(r, "part", "n_files", "avg_file_bytes", "small_frac", "n_empty")
                    for r in worst[:20]
                ],
            }
        )
    )
    if args.max_small_frac is not None and any(
        (r["small_frac"] or 0) > args.max_small_frac for r in prof
    ):
        return 1
    return 0


def _cmd_history(args) -> int:
    from bigdime_spark.plans.lineage import verdict_history

    n_modes = sum(
        x is not None for x in (args.verdicts, args.schemas, args.kmv)
    )
    if n_modes != 1:
        raise ValueError("pass exactly one of --verdicts, --schemas or --kmv")
    spark = get_spark(master=args.master)
    if args.kmv is not None:
        from bigdime_spark.operators.kmv import kmv_run_churn

        with _cached(
            kmv_run_churn(tables.read_table(spark, args.kmv)).persist()
        ) as churn:
            # churn is (columns x parts) rows — metadata-sized at any
            # corpus size (the sketches bound it by construction), but
            # stdout still only carries the worst movers
            worst = (
                churn.orderBy(
                    F.desc("lost_est"), F.desc("new_est"), "column", "part"
                )
                .limit(args.max_rows)
                .collect()
            )
            gate_hit = (
                args.max_lost_frac is not None
                and churn.filter(
                    (F.col("n_prev_est") > 0)
                    & (
                        F.col("lost_est")
                        > args.max_lost_frac * F.col("n_prev_est")
                    )
                ).limit(1).count()
                > 0
            )
        print(
            json.dumps(
                {
                    "cmd": "history",
                    "mode": "kmv",
                    "worst": [
                        _pick(r, "column", "part", "k", "n_prev_est", "n_cur_est",
                              "jaccard_est", "new_est", "lost_est")
                        for r in worst
                    ],
                }
            )
        )
        return 1 if gate_hit else 0
    if args.schemas is not None:
        from bigdime_spark.schema import SCHEMA_BREAKING, schema_history

        with _cached(
            schema_history(tables.read_table(spark, args.schemas)).persist()
        ) as hist:
            counts = _value_counts(hist, "status")
            changed = (
                hist.filter(F.col("status") != "stable")
                .orderBy("status", "column")
                .limit(args.max_rows)
                .collect()
            )
        print(
            json.dumps(
                {
                    "cmd": "history",
                    "mode": "schemas",
                    "statuses": dict(sorted(counts.items())),
                    "changed": [
                        _pick(r, "column", "status", "n_runs", "first_run",
                              "last_run", "latest_dtype", "detail")
                        for r in changed
                    ],
                }
            )
        )
        return 1 if any(counts.get(s, 0) for s in SCHEMA_BREAKING) else 0
    with _cached(
        verdict_history(tables.read_table(spark, args.verdicts)).persist()
    ) as hist:
        counts = _value_counts(hist, "status")
        # worst rows only — the full profile is parts × constraints
        # and belongs in a table, not stdout
        order = F.when(F.col("status") == "flaky", 0).when(
            F.col("status") == "regressed", 1
        )
        worst = (
            hist.filter(F.col("status").isin("flaky", "regressed"))
            .orderBy(order, F.desc("n_transitions"), "part", "constraint")
            .limit(args.max_rows)
            .collect()
        )
    print(
        json.dumps(
            {
                "cmd": "history",
                "statuses": dict(sorted(counts.items())),
                "worst": [
                    _pick(r, "part", "constraint", "status", "n_runs",
                          "n_transitions", "last_verdict")
                    for r in worst
                ],
            }
        )
    )
    return 1 if counts.get("flaky", 0) + counts.get("regressed", 0) > 0 else 0


#: `trend` baseline → the score columns its worst rows carry; the last
#: one is the score they rank by (cusum: the larger of its two sums)
_TREND_FIELDS = {
    "zscore": ("med", "mad", "robust_z"),
    "ewma": ("ewma", "ewmstd", "z"),
    "holt_winters": ("forecast", "sigma", "z"),
    "cusum": ("mu", "sigma", "cusum_pos", "cusum_neg"),
    "rel_change": ("prev_value", "rel_change"),
}


def _cmd_trend(args) -> int:
    from bigdime_spark.operators.outliers import (
        ANOMALY,
        metric_cusum,
        metric_ewma,
        metric_holt_winters,
        metric_trend,
        metric_zscore,
        numeric_stat_metrics,
    )

    chosen = [
        mode
        for mode, value in (("zscore", args.zscore), ("ewma", args.ewma),
                            ("holt_winters", args.hw), ("cusum", args.cusum))
        if value is not None
    ]
    if len(chosen) > 1:
        raise ValueError(
            "--zscore, --ewma, --hw and --cusum are mutually exclusive "
            "(one baseline per invocation)"
        )
    mode = chosen[0] if chosen else "rel_change"
    spark = get_spark(master=args.master)
    hist = tables.read_table(spark, args.history)
    metrics = _cols(args.metrics) if args.metrics else numeric_stat_metrics(hist)
    if mode == "zscore":
        scored = metric_zscore(
            hist, metrics, threshold=args.zscore, min_history=args.min_history
        )
    elif mode == "ewma":
        scored = metric_ewma(
            hist,
            metrics,
            alpha=args.ewma,
            threshold=args.ewma_threshold,
            min_history=args.min_history,
        )
    elif mode == "holt_winters":
        scored = metric_holt_winters(
            hist, metrics, season=args.hw, threshold=args.hw_threshold
        )
    elif mode == "cusum":
        scored = metric_cusum(
            hist,
            metrics,
            k_sigma=args.cusum_k,
            h_sigma=args.cusum,
            baseline_n=args.cusum_baseline,
        )
    else:
        scored = metric_trend(hist, metrics, max_rel_change=args.max_rel_change)
    # cusum's two one-sided sums are both >= 0 — rank by the larger
    # side; every other mode ranks by |score|
    rank_expr = (
        F.greatest("cusum_pos", "cusum_neg")
        if mode == "cusum"
        else F.abs(F.col(_TREND_FIELDS[mode][-1]))
    )
    with _cached(scored.persist()) as scored:
        counts = _value_counts(scored, "verdict")
        worst = (
            scored.filter(F.col("verdict") == ANOMALY)
            .orderBy(F.desc_nulls_first(rank_expr), "part", "metric")
            .limit(20)
            .collect()
        )
    print(
        json.dumps(
            {
                "cmd": "trend",
                "mode": mode,
                "verdicts": dict(sorted(counts.items())),
                "worst": [
                    _pick(r, "part", "metric", "run_id", "value", *_TREND_FIELDS[mode])
                    for r in worst
                ],
            }
        )
    )
    return 1 if counts.get(ANOMALY, 0) > 0 else 0


def _cmd_curate(args) -> int:
    from bigdime_spark.plans.curate import CurateConfig, curate

    mix = None
    if args.mix is not None:
        try:
            mix = {
                k.strip(): float(v)
                for k, v in (pair.split("=", 1) for pair in args.mix.split(","))
            }
        except ValueError:
            raise ValueError(f"bad --mix spec {args.mix!r}") from None
    cfg = CurateConfig(
        id_col=args.id_col,
        text_col=args.text_col,
        domain_col=args.domain_col,
        min_tokens=args.min_tokens,
        max_dup_line_frac=args.max_dup_line_frac,
        langs=tuple(args.langs.split(",")) if args.langs else None,
        drop_pii=args.drop_pii,
        exact_dedup=args.exact_dedup,
        minhash_dedup=args.minhash_dedup,
        minhash_threshold=args.minhash_threshold,
        containment_dedup=args.containment_dedup,
        containment_threshold=args.containment_threshold,
        max_hot_fraction=args.max_hot_fraction,
        hot_gram_n=args.hot_gram_n,
        hot_gram_min_docs=args.hot_gram_min_docs,
        max_span_coverage=args.max_span_coverage,
        span_n=args.span_n,
        span_min_docs=args.span_min_docs,
        mix_weights=mix,
        target_rows=args.target_rows,
        sample_rate=args.sample_rate,
        quality_weighted_rate=args.quality_weighted_rate,
        seed=args.seed,
        shard_budget=args.shard_budget,
    )
    spark = get_spark(master=args.master)
    result = curate(tables.read_table(spark, args.input), cfg)
    try:
        tables.write_table(result.curated, f"{args.out}/curated", partition_by=None)
    finally:
        result.release()
    print(json.dumps({"cmd": "curate", **result.counts}))
    return 0


def _cmd_decontam(args) -> int:
    from bigdime_spark.operators.decontam import (
        contamination_scan,
        drop_contaminated,
    )

    spark = get_spark(master=args.master)
    corpus = tables.read_table(spark, args.input)
    bench = tables.read_table(spark, args.bench)
    flagged = contamination_scan(
        corpus,
        bench,
        id_col=args.id_col,
        text_col=args.text_col,
        bench_text_col=args.bench_text_col,
        n=args.n,
        min_hits=args.min_hits,
    )
    # report-sized; sink + summary (+drop) share it
    with _cached(flagged.persist()) as flagged:
        tables.write_table(flagged, f"{args.out}/flagged", partition_by=None)
        summary = flagged.agg(
            F.count(F.lit(1)).alias("n_flagged"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).alias("hits_total"),
            F.coalesce(F.max("n_hits"), F.lit(0)).alias("max_hits"),
        ).collect()[0]
        result = {
            "cmd": "decontam",
            "flagged": int(summary["n_flagged"]),
            "hits_total": int(summary["hits_total"]),
            "max_hits": int(summary["max_hits"]),
        }
        if args.drop:
            clean = drop_contaminated(corpus, flagged, id_col=args.id_col)
            tables.write_table(clean, f"{args.out}/clean", partition_by=None)
            result["clean_rows"] = clean.count()
    print(json.dumps(result))
    return 0


def _cmd_dedup(args) -> int:
    from bigdime_spark.operators.dedup import (
        hamming_pairs_on_column,
        near_dup_clusters,
    )

    spark = get_spark(master=args.master)
    table = tables.read_table(spark, args.input)
    pairs = hamming_pairs_on_column(
        table.select(args.id_col, args.phash_col),
        args.id_col,
        args.phash_col,
        bits=args.bits,
        k=args.k,
        max_bucket=args.max_bucket,
    )
    # rare by construction; pairs sink + clustering share it
    with _cached(pairs.persist()) as pairs:
        tables.write_table(pairs, f"{args.out}/pairs", partition_by=None)
        # raises ValueError on non-convergence: exit 2
        clusters = near_dup_clusters(
            pairs, max_iter=args.max_iter, algo=args.cc_algo
        )
        with _cached(clusters):
            tables.write_table(clusters, f"{args.out}/clusters", partition_by=None)
            summary = clusters.agg(
                F.count(F.lit(1)).alias("n_clusters"),
                F.coalesce(F.sum("n_members"), F.lit(0)).alias("members_total"),
                F.coalesce(F.max("n_members"), F.lit(0)).alias("largest"),
            ).collect()[0]
            n_pairs = pairs.count()
    print(
        json.dumps(
            {
                "cmd": "dedup",
                "pairs": n_pairs,
                "clusters": int(summary["n_clusters"]),
                "members_total": int(summary["members_total"]),
                "largest_cluster": int(summary["largest"]),
            }
        )
    )
    return 0


def _cmd_ann(args) -> int:
    from bigdime_spark.operators import similarity

    spark = get_spark(master=args.master)
    table = tables.read_table(spark, args.input)
    if args.integrity:
        integ = similarity.embedding_integrity(
            table, args.id_col, args.vec_col
        ).collect()[0]
        defects = {
            k: integ[k]
            for k in ("n_null_vec", "n_nonfinite", "n_zero")
            if integ[k] > 0
        }
        if integ["n_dims"] > 1:
            defects["n_dims"] = integ["n_dims"]
        if defects:
            raise ValueError(
                "embedding integrity pre-flight failed: "
                + ", ".join(f"{k}={v}" for k, v in sorted(defects.items()))
                + f" over {integ['n_rows']} rows — clean the table "
                "before searching it"
            )
    queries = table.filter(F.col(args.id_col).cast("string").isin(_cols(args.queries)))
    n_queries = queries.count()
    if n_queries == 0:
        raise ValueError(f"no rows match --queries {args.queries}")
    if args.mode == "ivf":
        centroids = similarity.ivf_train_centroids(
            table, k=args.train_k, iters=args.train_iters,
            id_col=args.id_col, vec_col=args.vec_col, seed=args.seed,
        )
        topk = similarity.ivf_topk(
            table, queries, centroids, args.id_col, args.vec_col,
            k=args.k, nprobe=args.nprobe,
        )
    elif args.mode == "hyperplane":
        dim_row = (
            table.where(F.col(args.vec_col).isNotNull())
            .select(F.size(F.col(args.vec_col)).alias("d"))
            .first()
        )
        if dim_row is None:
            raise ValueError(
                f"no non-null {args.vec_col} values in {args.input}"
            )
        topk = similarity.hyperplane_topk(
            table, queries, args.id_col, args.vec_col,
            nbits=args.nbits, bands=args.bands, k=args.k,
            seed=args.seed, multiprobe=args.multiprobe, dim=dim_row["d"],
        )
    elif args.mode == "sq":
        bounds = similarity.sq_bounds(table, args.vec_col)
        topk = similarity.sq_topk(
            table, queries, bounds, args.id_col, args.vec_col,
            k=args.k, refine=args.refine,
        )
    elif args.mode in ("pq", "ivfpq"):
        cb = similarity.pq_codebooks(
            table, m=args.pq_m, ncodes=args.pq_codes,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        if args.pq_iters:
            cb = similarity.pq_refine(
                table, cb, iters=args.pq_iters,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        if args.mode == "pq":
            topk = similarity.pq_topk(
                table, queries, cb, args.id_col, args.vec_col,
                k=args.k, refine=args.refine,
            )
        else:
            centroids = similarity.ivf_train_centroids(
                table, k=args.train_k, iters=args.train_iters,
                id_col=args.id_col, vec_col=args.vec_col,
                seed=args.seed,
            )
            topk = similarity.ivfpq_topk(
                table, queries, centroids, cb,
                args.id_col, args.vec_col,
                k=args.k, nprobe=args.nprobe, refine=args.refine,
            )
    else:
        topk = similarity.brute_force_topk(
            table, queries, args.id_col, args.vec_col, k=args.k
        )
    tables.write_table(topk, f"{args.out}/topk", partition_by=None)
    written = spark.read.parquet(f"{args.out}/topk")
    n_rows = written.count()
    summary = {
        "cmd": "ann",
        "mode": args.mode,
        "queries": n_queries,
        "k": args.k,
        "rows": n_rows,
    }
    if args.recall and args.mode == "brute":
        # brute IS the ground truth — recall is 1.0 by definition;
        # re-running the full-corpus scan to prove it would double
        # the command's most expensive stage
        summary["recall_at_k"] = 1.0
    elif args.recall:
        # ground truth from one brute pass over the SAME queries;
        # ANN results read back from the written sink (no ANN
        # recompute). recall@k = |ANN ∩ brute| / |brute| per
        # query, macro-averaged.
        brute = similarity.brute_force_topk(
            table, queries, args.id_col, args.vec_col, k=args.k
        )
        hits = brute.join(
            written.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        per_q = (
            brute.groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .join(
                hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("h")),
                "query_id",
                "left",
            )
            .agg(
                F.avg(
                    F.coalesce(F.col("h"), F.lit(0)) / F.col("n")
                ).alias("r")
            )
            .collect()[0]
        )
        summary["recall_at_k"] = (
            round(per_q["r"], 4) if per_q["r"] is not None else None
        )
    print(json.dumps(summary))
    return 0


def _cmd_stream(args) -> int:
    from bigdime_spark.schema import IMAGE_SCHEMA_PARTITIONED
    from bigdime_spark.streaming.incremental import StreamingValidator
    from bigdime_spark.streaming.stateful import run_uniqueness_to_completion

    gb = None
    if args.grouped_bound:
        gb = _parse_grouped_bound(args.grouped_bound)
        if gb.metric == "n_distinct":
            raise ValueError(
                "--grouped-bound: metric n_distinct needs "
                "unbounded per-group state — run it in batch "
                "(`run --grouped-bound`)"
            )
        stream_cols = [f.name for f in IMAGE_SCHEMA_PARTITIONED.fields]
        missing = [
            c for c in (gb.target, gb.group_by) if c not in stream_cols
        ]
        if missing:
            raise ValueError(
                "--grouped-bound: not in the stream schema: "
                + ", ".join(missing)
            )
    spark = get_spark(master=args.master)
    manifest = tables.read_table(spark, args.manifest) if args.manifest else None
    validator = StreamingValidator(manifest=manifest)
    validator.suite.check_decode = args.decode
    q = validator.start(
        spark,
        args.source,
        args.out,
        f"{args.checkpoint}/validate",
        available_now=True,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    q.awaitTermination()
    dup_keys = None
    if args.key_uniqueness:
        run_uniqueness_to_completion(
            spark,
            args.source,
            IMAGE_SCHEMA_PARTITIONED,
            f"{args.checkpoint}/uniqueness",
            f"{args.out}/dup_keys",
            ttl_ms=(
                int(args.uniqueness_ttl_sec * 1000)
                if args.uniqueness_ttl_sec is not None
                else None
            ),
        )
        try:
            dup_keys = (
                spark.read.parquet(f"{args.out}/dup_keys")
                .select("image_id").distinct().count()
            )
        except Exception:
            dup_keys = 0  # no duplicates ever emitted → no sink files
    hist_parts = None
    if args.histograms:
        from bigdime_spark.streaming.stateful import (
            latest_histograms,
            run_histograms_to_completion,
        )

        run_histograms_to_completion(
            spark,
            args.source,
            IMAGE_SCHEMA_PARTITIONED,
            f"{args.checkpoint}/histograms",
            f"{args.out}/hist_sink",
        )
        # collapse the append sink to one CURRENT row per part —
        # the exact persisted-stats shape the drift subcommand
        # (drift_from_stats) consumes
        try:
            cur = latest_histograms(
                spark.read.parquet(f"{args.out}/hist_sink")
            )
            cur.write.mode("overwrite").parquet(f"{args.out}/stats")
            hist_parts = spark.read.parquet(f"{args.out}/stats").count()
        except Exception:
            hist_parts = 0  # rowless source → sink has no data files
    grouped_fails = None
    if gb is not None:
        from bigdime_spark.streaming.stateful import (
            latest_grouped,
            run_grouped_to_completion,
        )

        run_grouped_to_completion(
            spark,
            args.source,
            IMAGE_SCHEMA_PARTITIONED,
            f"{args.checkpoint}/grouped",
            f"{args.out}/grouped_sink",
            gb.target,
            gb.group_by,
        )
        grouped_fails = 0
        try:
            prof = latest_grouped(
                spark.read.parquet(f"{args.out}/grouped_sink")
            )
        except Exception:
            prof = None  # rowless source → sink has no data files
        if prof is not None:
            import uuid as _uuid

            from bigdime_spark.operators.grouped import (
                composed_grouped_frame,
            )

            run_id = args.run_id or f"stream-{_uuid.uuid4().hex[:12]}"
            found, _ = gb.verdicts_from_profile(prof)
            found.withColumn("run_id", F.lit(run_id)).write.mode(
                "overwrite"
            ).parquet(f"{args.out}/grouped_verdicts")
            grouped_fails = (
                spark.read.parquet(f"{args.out}/grouped_verdicts")
                .filter(F.col("verdict") == "FAIL")
                .count()
            )
            # C73 trend-ready composed shape, same projection as
            # `run` (shared helper) incl. the run_id stamp `trend`
            # hard-requires
            composed_grouped_frame(
                prof, gb.target, gb.group_by
            ).withColumn("run_id", F.lit(run_id)).write.mode(
                "overwrite"
            ).parquet(f"{args.out}/grouped")
    try:
        verdict_counts = _value_counts(
            spark.read.parquet(f"{args.out}/verdicts"), "verdict"
        )
    except Exception:
        verdict_counts = {}  # stream drained zero batches
    print(
        json.dumps(
            {
                "cmd": "stream",
                "batches": len(validator.results),
                "verdict_counts": verdict_counts,
                "dup_keys": dup_keys,
                "hist_parts": hist_parts,
                **(
                    {"grouped_fails": grouped_fails}
                    if gb is not None
                    else {}
                ),
            }
        )
    )
    return (
        1
        if verdict_counts.get("FAIL") or dup_keys or grouped_fails
        else 0
    )


def _cmd_synth(args) -> int:
    from bigdime_spark.sources.synth import (
        InjectionSpec,
        build_fixture,
        near_pair_ids,
    )

    drift = tuple(int(x) for x in args.drift_parts.split(",") if x != "")
    spec = InjectionSpec(phash_near_pair=near_pair_ids(args.phash_near_pairs))
    spark = get_spark()
    fx = build_fixture(
        spark, n_rows=args.rows, n_parts=args.parts, seed=args.seed,
        drift_parts=drift, spec=spec,
    )
    tables.write_table(fx.raw, f"{args.out}/raw")
    tables.write_table(fx.curated, f"{args.out}/curated")
    tables.write_table(fx.manifest, f"{args.out}/manifest", partition_by=None)
    print(json.dumps({"cmd": "synth", "rows": args.rows, "parts": args.parts, "out": args.out}))
    return 0


def _cmd_run(args) -> int:
    from bigdime_spark.plans.config import load_suite_config, suite_from_config
    from bigdime_spark.schema import schema_fingerprint

    if args.config is None:
        cfg = _suite_config_from_flags(args)
    elif moved := _moved_shape_flags(args):
        # the config is the reviewed contract; a flag silently
        # overriding it is exactly the drift checks-as-config
        # exists to prevent
        raise ValueError(
            "--config is authoritative for suite shape; drop "
            + ", ".join(moved) + " (edit the config instead)"
        )
    else:
        cfg = load_suite_config(args.config)
    slice_dims: list[str] = []
    if args.slice_dims is not None:
        slice_dims = _cols(args.slice_dims)
        if not slice_dims:
            raise ValueError("--slice-dims: no columns given")
        if args.slice_min_support < 1:
            raise ValueError(
                f"--slice-min-support must be >= 1, got {args.slice_min_support}"
            )

    spark = get_spark(master=args.master)
    # after get_spark: domain_checks predicates compile via F.expr,
    # which needs the live session
    suite = suite_from_config(cfg)

    t0 = time.monotonic()
    raw = tables.read_table(spark, args.raw)
    curated = tables.read_table(spark, args.curated) if args.curated else None
    manifest = tables.read_table(spark, args.manifest) if args.manifest else None
    if args.parts:
        sel = _cols(args.parts)
        raw = raw.filter(F.col("part").isin(sel))
        if curated is not None:
            curated = curated.filter(F.col("part").isin(sel))
        if manifest is not None:
            manifest = manifest.filter(F.col("part").isin(sel))
    # checked before suite.run appends lineage and writes outputs: a
    # refusal after that would leave a run a rerun resume-skips
    kmv_keys = tuple(args.kmv_keys.split(",")) if args.kmv_keys else ()
    for flag, cols in (("--slice-dims", slice_dims), ("--kmv-keys", kmv_keys)):
        missing = [c for c in cols if c not in raw.columns]
        if missing:
            raise ValueError(f"{flag}: not in the raw schema: {', '.join(missing)}")

    # a declared-constraint misconfiguration surfacing at run time
    # (e.g. sequence_continuity on a non-integral column from a
    # config file) raises ValueError: exit 2
    res = suite.run(
        spark,
        raw,
        curated,
        manifest,
        run_id=args.run_id,
        lineage_path=args.lineage,
        resume=not args.no_resume,
    )
    # every read of the run's persisted frames happens inside the try;
    # an in-process caller must not keep them (SuiteResult.release)
    try:
        # run_id-stamped so many runs' verdicts union into the exact shape
        # `history` (plans/lineage.verdict_history) consumes
        tables.write_table(
            res.verdicts.withColumn("run_id", F.lit(res.run_id)),
            f"{args.out}/verdicts",
            partition_by=None,
        )
        tables.write_table(res.violations, f"{args.out}/violations", partition_by=None)
        # the binary __hll sketch columns are persisted ON PURPOSE: they are
        # what makes `rollup` a metadata-sized aggregation instead of a
        # rescan (B6 mergeable-sketch requirement); run_id-stamped so many
        # runs' stats union into the `trend` (metric_trend) history shape
        tables.write_table(
            res.stats.withColumn("run_id", F.lit(res.run_id)),
            f"{args.out}/stats",
            partition_by=None,
        )
        # observed-schema fingerprint (C59): run_id-stamped so many runs'
        # frames union into the `history --schemas` evolution shape
        tables.write_table(
            schema_fingerprint(raw).withColumn("run_id", F.lit(res.run_id)),
            f"{args.out}/schema",
            partition_by=None,
        )
        if res.grouped_profiles:
            # cross-run GROUPED history surface (C73): each GroupedBound's
            # per-(part, group) profile — already computed and persisted by
            # the run, zero extra scans — lands run_id-stamped in
            # <out>/grouped with part composed as "part|dim=value" and
            # metrics as stat__<target>__<metric> columns. Many runs' frames
            # union straight into `trend --history` / `outliers --stats`,
            # so every cross-run baseline (step, zscore, ewma, hw, cusum)
            # gates SEGMENT metrics with no new scoring code.
            from bigdime_spark.operators.grouped import composed_grouped_frame

            stamped = None
            for (target, group_by), prof in sorted(res.grouped_profiles.items()):
                frame = composed_grouped_frame(prof, target, group_by)
                stamped = (
                    frame
                    if stamped is None
                    else stamped.unionByName(frame, allowMissingColumns=True)
                )
            tables.write_table(
                stamped.withColumn("run_id", F.lit(res.run_id)),
                f"{args.out}/grouped",
                partition_by=None,
            )

        if kmv_keys:
            # per-part bottom-k key sketches (C68): run_id-stamped so many
            # runs' frames union into the `history --kmv` churn shape
            from bigdime_spark.operators.kmv import kmv_stamp

            stamped = kmv_stamp(raw, "part", kmv_keys, k=args.kmv_k)
            tables.write_table(
                stamped.withColumn("run_id", F.lit(res.run_id)),
                f"{args.out}/kmv",
                partition_by=None,
            )

        # one row per partition can be 10^6+ at scale — the four summary
        # numbers are a single aggregate, never a full-frame collect
        summary = res.lineage.agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.coalesce(F.sum("rows_scanned"), F.lit(0)).alias("rows_scanned"),
            F.count_if(F.col("status") == "FAILED").alias("n_failed"),
        ).collect()[0]
        n_parts = summary["n_parts"]
        rows_scanned = summary["rows_scanned"]
        n_failed = summary["n_failed"]
        n_violations = res.violations.count()

        # violation-slice triage (C69): WHICH value segments concentrate
        # the run's row violations. The violating-id set is bounded
        # (--topk-violations at scale) and broadcast back onto the raw
        # snapshot, so the corpus never shuffles; the slices frame is
        # metadata-scale (Σ dim cardinalities) and persisted only across
        # its write + the 1-row top-lift collect.
        slice_top = None
        if slice_dims:
            from bigdime_spark.operators.slices import violation_slices

            viol_ids = (
                res.violations.filter(F.col("image_id").isNotNull())
                .select("image_id")
                .distinct()
                .withColumn("_viol", F.lit(True))
            )
            flagged = raw.join(F.broadcast(viol_ids), "image_id", "left")
            slices = violation_slices(
                flagged,
                F.col("_viol"),
                slice_dims,
                min_support=args.slice_min_support,
                include_pairs=args.slice_pairs,
            )
            with _cached(slices.persist()) as slices:
                tables.write_table(
                    slices.withColumn("run_id", F.lit(res.run_id)),
                    f"{args.out}/slices",
                    partition_by=None,
                )
                top = (
                    slices.filter(F.col("lift").isNotNull())
                    .orderBy(
                        F.desc("lift"), F.desc("n_viol"), F.asc("dim"), F.asc("value")
                    )
                    .limit(1)
                    .collect()
                )
            if top:
                slice_top = _pick(top[0], "dim", "value", "lift", "n_viol")

        # reference lifecycle parity: a FAILED validation quarantines the
        # offending input unit [PK, SURVEY A10/A14]. The engine's analogue
        # is a machine-readable quarantine manifest — one row per failed
        # partition with the constraints that failed it — NOT a data copy
        # (at 10^12 rows quarantine-by-copy is its own outage; consumers
        # prune the listed partitions instead).
        quarantined = 0
        if n_failed and not args.no_quarantine:
            q = (
                res.verdicts.filter((F.col("verdict") == "FAIL") & (F.col("part") != "*"))
                .groupBy("part")
                .agg(F.sort_array(F.collect_set("constraint")).alias("failed_constraints"))
                .select(F.lit(res.run_id).alias("run_id"), "part", "failed_constraints")
            )
            tables.write_table(q, f"{args.out}/quarantine", partition_by=None)
            quarantined = n_failed

        wall = time.monotonic() - t0
        print(
            json.dumps(
                {
                    "cmd": "run",
                    "run_id": res.run_id,
                    "parts_validated": n_parts,
                    "parts_failed": n_failed,
                    "rows_scanned": rows_scanned,
                    "violations": n_violations,
                    "schema_mismatches": len(res.schema_violations),
                    "parts_quarantined": quarantined,
                    **({"slice_top": slice_top} if slice_dims else {}),
                    "images_per_sec": round(rows_scanned / wall, 1) if wall > 0 else None,
                    "wall_sec": round(wall, 2),
                }
            )
        )
        return 1 if (n_failed or res.schema_violations) else 0
    finally:
        res.release()


#: subcommand → handler(args) → exit code. A handler checks its own
#: arguments before it starts Spark (get_spark).
_HANDLERS = {
    "synth": _cmd_synth,
    "run": _cmd_run,
    "report": _cmd_report,
    "rollup": _cmd_rollup,
    "dedup": _cmd_dedup,
    "ann": _cmd_ann,
    "stream": _cmd_stream,
    "drift": _cmd_drift,
    "edrift": _cmd_edrift,
    "outliers": _cmd_outliers,
    "profile": _cmd_profile,
    "suggest": _cmd_suggest,
    "plan": _cmd_plan,
    "history": _cmd_history,
    "files": _cmd_files,
    "trend": _cmd_trend,
    "curate": _cmd_curate,
    "decontam": _cmd_decontam,
}


def main(argv: list[str] | None = None) -> int:
    """Run one subcommand; the exit code is 0 (clean), 1 (the command's
    gate found something) or 2 (operator error). An operator error is a
    ``ValueError`` or an ``AnalysisException`` (say, a missing column
    or path), printed as ``<cmd>: <message>`` on stderr, never as a
    traceback."""
    args = _build_parser().parse_args(argv)
    try:
        return _HANDLERS[args.cmd](args)
    except (ValueError, AnalysisException) as exc:
        print(f"{args.cmd}: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
