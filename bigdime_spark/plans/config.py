"""Declarative suite configuration — checks-as-config (SURVEY A7's
validator registry, in the shape production teams actually operate:
one reviewed, versioned JSON document per table instead of a Python
call site).

The reference configures its validation handlers from deployment
metadata, not code; deequ's ``VerificationSuite`` and Great
Expectations' expectation suites made the same move for the same
reason — the people who own a table's contract are rarely the people
who own the Spark job. ``suite_from_config`` closes that gap without
inventing a new vocabulary: **top-level keys ARE**
:class:`~bigdime_spark.plans.suite.ValidationSuite` **field names**
(``check_checksum``, ``phash_k``, ...), so the config surface can
never drift from the programmatic API, plus the structured sections
below. A document starts from the ``ValidationSuite`` defaults — in
particular ``not_null=("image_id",)``, where a `run` without
``--config`` checks five not-null columns (image_id, caption, w, h,
fmt); a document that wants those lists them.

Sections that land in ``extra_agg_constraints`` and ride the suite's
single stats aggregation (a config with ten of them still scans the
table ONCE):

``domain_checks``        [{name, column, predicate, detail?}] — the
                         predicate is a SQL BOOLEAN expression
                         (``F.expr``: stays JVM-side codegen inside
                         the fused stats pass; a config file is code
                         and gets the same review). Predicates must
                         reference NON-BINARY columns only: the fused
                         stats pass never reads payload pages (SURVEY
                         B0b — payload integrity belongs to checksum
                         and decode), so a predicate naming ``bytes``
                         fails with an unresolved-column error under
                         decode-fused runs
``compliance``           [{name, column, predicate, min_fraction,
                         detail?}] — a part FAILs when the fraction of
                         rows satisfying the predicate drops below
                         min_fraction (no row violations by design)
``type_conformance``     [{column, dtype}]
``freshness``            {ts_col, as_of, max_lag_seconds} — as_of is
                         an EXPLICIT instant (never now(): verdicts
                         must be deterministic under retry/resume)
``correlation_bounds``   [{x, y, lo?, hi?}]
``caption_quality_bounds`` [{metric, lo?, hi?, column?}] — per-part
                         mean of a caption text-quality metric (C75)
``caption_lang_bounds``  [{lang, lo?, hi?, column?}] — per-part share
                         of captions in a predicted language (C76)

Sections that build TABLE constraints (each needs its own
aggregation and cannot ride the fused pass):

``mutual_info_bounds``   [{x, y, lo?, hi?}] — normalized MI of a
                         categorical pair per part
``distinctness_bounds``  [{column, lo?, hi?, metric?}] — exact
                         distinctness / uniqueness / unique_value_ratio
                         of a column per part (deequ's hasUniqueness
                         family)
``categorical_bounds``   [{column, metric?, lo?, hi?}] — entropy |
                         top_frac | n_distinct of a categorical column
                         per part
``grouped_bounds``       [{target, group_by, metric?, lo?, hi?,
                         min_support?}] — a metric of ``target`` gated
                         per (part, ``group_by`` value) (C72); both
                         columns must exist in the raw schema
``benford_bounds``       [{column, max_mad?, min_eligible?}] — Nigrini
                         first-digit MAD of a magnitude column per
                         part (C46)
``sequence_continuity``  [{id_col, max_gaps?}] — dense-id continuity
                         (B30; exact distinct needs its own keyed
                         aggregation)
``functional_dependencies`` [{det, dep, max_violations?}] — declared
                         FDs (C41)

Sections that set a structured suite field:

``schema``               [{name, type, nullable?}] — the declared
                         contract StructType for the suite's pass-1
                         schema validators; types are Spark DDL
                         strings validated at config load
``drift_specs``          [{column, lo, hi, nbins?}] — the numeric
                         histogram drift columns
``bit_balance_bounds``   [lo, hi] — per-bit set-fraction bounds of the
                         bit-balance detector

Unknown keys and wrong types raise ``ValueError`` immediately (a
typo'd ``check_checksum`` that silently validated nothing is the
worst failure mode a validation engine can have); the suite's
cross-field rules (``ValidationSuite.check_config``) run on every
built suite.

Programmatic-only fields (``declared_schema``, ``stats``,
``extra_*_constraints``) are rejected by name with a pointer to the
Python API — they hold live objects JSON cannot carry.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bigdime_spark.operators.drift import DriftColumn
from bigdime_spark.operators.freshness import Freshness
from bigdime_spark.operators.row_checks import DomainCheck, TypeConformance
from bigdime_spark.operators.stats import CorrelationBound
from bigdime_spark.plans.suite import ValidationSuite

#: ValidationSuite fields settable as JSON scalars. bool checks use
#: `type(v) is bool` (a bare isinstance(int) would admit True/False
#: into int fields and vice versa).
_BOOL_FIELDS = (
    "check_record_count", "check_checksum", "check_uniqueness",
    "check_referential", "check_caption", "check_content", "check_drift",
    "check_domains", "check_phash_dedup", "check_profile_outliers",
    "check_bit_balance", "check_decode", "check_payload_conformance",
    "keyed_assume_clustered", "decode_pixel_drift",
)
_INT_FIELDS = (
    "referential_bloom_bits", "referential_bloom_k", "phash_k",
    "decode_seed", "topk_violations", "decode_pixel_bins",
    "decode_quality_max_flagged", "decode_sample_min_n",
)
_FLOAT_FIELDS = (
    "outlier_threshold", "decode_sample_rate", "zone_max_overlap",
    "decode_quality_min_std", "decode_quality_mean_lo",
    "decode_quality_mean_hi",
)
_STR_FIELDS = ("referential_mode", "bit_balance_col", "unique_key", "ref_key",
               "decode_sample_stratify")
#: fields with bespoke shapes handled inline (not scalar/strlist)
_SPECIAL_FIELDS = ("decode_rate_gate",)
#: list-of-string fields (JSON array → tuple)
_STRLIST_FIELDS = (
    "not_null", "content_cols", "categorical_drift_cols",
    "mask_drift_cols",
    "outlier_metrics", "decode_snapshots", "zone_clustering_cols",
)
_PROGRAMMATIC_ONLY = (
    "declared_schema", "stats", "extra_agg_constraints",
    "extra_table_constraints",
)
_SECTIONS = ("schema", "domain_checks", "compliance", "type_conformance",
             "freshness",
             "correlation_bounds", "mutual_info_bounds",
             "distinctness_bounds", "categorical_bounds", "grouped_bounds",
             "benford_bounds", "drift_specs",
             "bit_balance_bounds", "sequence_continuity",
             "functional_dependencies", "caption_quality_bounds",
             "caption_lang_bounds")

_ALLOWED = set(_BOOL_FIELDS) | set(_INT_FIELDS) | set(_FLOAT_FIELDS) \
    | set(_STR_FIELDS) | set(_STRLIST_FIELDS) | set(_SPECIAL_FIELDS) \
    | set(_SECTIONS)


def _fail(key: str, why: str) -> ValueError:
    return ValueError(f"suite config: {key!r} {why}")


def _require_keys(key: str, entry: object, required: set[str],
                  optional: set[str] = frozenset()) -> dict:
    if not isinstance(entry, dict):
        raise _fail(key, f"entries must be objects, got {type(entry).__name__}")
    missing = required - entry.keys()
    if missing:
        raise _fail(key, f"entry missing required keys {sorted(missing)}")
    extra = entry.keys() - required - optional
    if extra:
        raise _fail(key, f"entry has unknown keys {sorted(extra)}")
    return entry


def _num(key: str, v, what: str, integer: bool = False) -> float | int:
    """Typed scalar extraction for section entries: JSON null / bools /
    strings in a numeric slot must raise the section's ValueError, not
    escape as the bare TypeError int(None) throws."""
    if type(v) is bool or not isinstance(v, (int, float)):
        raise _fail(key, f"{what} must be "
                         f"{'an integer' if integer else 'a number'}")
    if integer and type(v) is not int:
        raise _fail(key, f"{what} must be an integer")
    return int(v) if integer else float(v)


def _txt(key: str, v, what: str) -> str:
    """String extraction: a JSON null in a name/column/predicate slot
    must be refused, not silently become the literal string 'None'."""
    if not isinstance(v, str) or not v:
        raise _fail(key, f"{what} must be a non-empty string")
    return v


def suite_from_config(cfg: dict) -> ValidationSuite:
    """Build a :class:`ValidationSuite` from a parsed JSON document.

    Loud by design: unknown keys, programmatic-only fields, and type
    mismatches raise ``ValueError`` — config errors must fail the run
    before a single partition is (not) validated.
    """
    if not isinstance(cfg, dict):
        raise ValueError(
            f"suite config: top level must be an object, got {type(cfg).__name__}"
        )
    for key in cfg:
        if key in _PROGRAMMATIC_ONLY:
            raise _fail(key, "holds live Python objects — set it via the "
                             "ValidationSuite constructor, not config")
        if key not in _ALLOWED:
            raise _fail(key, f"is not a suite field (allowed: {sorted(_ALLOWED)})")

    kwargs: dict = {}
    extras: list = []

    for key in _BOOL_FIELDS:
        if key in cfg:
            if type(cfg[key]) is not bool:
                raise _fail(key, "must be true/false")
            kwargs[key] = cfg[key]
    for key in _INT_FIELDS:
        if key in cfg:
            if type(cfg[key]) is not int:
                raise _fail(key, "must be an integer")
            kwargs[key] = cfg[key]
    for key in _FLOAT_FIELDS:
        if key in cfg:
            if type(cfg[key]) not in (int, float) or type(cfg[key]) is bool:
                raise _fail(key, "must be a number")
            kwargs[key] = float(cfg[key])
    for key in _STR_FIELDS:
        if key in cfg:
            if not isinstance(cfg[key], str):
                raise _fail(key, "must be a string")
            kwargs[key] = cfg[key]
    for key in _STRLIST_FIELDS:
        if key in cfg:
            v = cfg[key]
            if not isinstance(v, list) or not all(isinstance(s, str) for s in v):
                raise _fail(key, "must be an array of strings")
            kwargs[key] = tuple(v)

    if "decode_rate_gate" in cfg:
        # [max_rate, z] — the C71 sampled-decode certification; the
        # suite constructor re-validates the geometry
        v = cfg["decode_rate_gate"]
        if (
            not isinstance(v, list)
            or len(v) != 2
            or any(type(x) is bool or not isinstance(x, (int, float)) for x in v)
        ):
            raise _fail("decode_rate_gate", "must be [max_rate, z] (two numbers)")
        kwargs["decode_rate_gate"] = (float(v[0]), float(v[1]))

    if "schema" in cfg:
        # the declared-contract StructType, as data: [{name, type,
        # nullable?}] — schema validation is the suite's pass 1 and
        # belongs in the reviewed config as much as any constraint.
        # Types are Spark DDL ("string", "int", "decimal(38,0)",
        # "array<float>", ...) validated by the live parser, so a
        # typo'd type fails the config load, not the run
        from pyspark.sql import types as T

        if not isinstance(cfg["schema"], list) or not cfg["schema"]:
            raise _fail("schema", "must be a non-empty array of objects")
        fields = []
        for entry in cfg["schema"]:
            e = _require_keys("schema", entry, {"name", "type"}, {"nullable"})
            if "nullable" in e and type(e["nullable"]) is not bool:
                raise _fail("schema", "nullable must be true/false")
            nm = _txt("schema", e["name"], "name")
            tp = _txt("schema", e["type"], "type")
            try:
                parsed = T.StructType.fromDDL(f"`{nm}` {tp}")
            except Exception as exc:
                raise _fail(
                    "schema", f"bad type {e['type']!r} for {e['name']!r}: {exc}"
                ) from exc
            f0 = parsed.fields[0]
            fields.append(
                T.StructField(f0.name, f0.dataType, bool(e.get("nullable", True)))
            )
        kwargs["declared_schema"] = T.StructType(fields)

    if "bit_balance_bounds" in cfg:
        v = cfg["bit_balance_bounds"]
        if (not isinstance(v, list) or len(v) != 2
                or not all(type(x) in (int, float) and type(x) is not bool for x in v)):
            raise _fail("bit_balance_bounds", "must be [lo, hi] numbers")
        kwargs["bit_balance_bounds"] = (float(v[0]), float(v[1]))

    if "drift_specs" in cfg:
        if not isinstance(cfg["drift_specs"], list):
            raise _fail("drift_specs", "must be an array of objects")
        specs = []
        for entry in cfg["drift_specs"]:
            e = _require_keys("drift_specs", entry,
                              {"column", "lo", "hi"}, {"nbins"})
            specs.append(DriftColumn(
                _txt("drift_specs", e["column"], "column"),
                _num("drift_specs", e["lo"], "lo"),
                _num("drift_specs", e["hi"], "hi"),
                _num("drift_specs", e.get("nbins", 32), "nbins",
                     integer=True),
            ))
        kwargs["drift_specs"] = tuple(specs)

    if "domain_checks" in cfg:
        if not isinstance(cfg["domain_checks"], list):
            raise _fail("domain_checks", "must be an array of objects")
        for entry in cfg["domain_checks"]:
            e = _require_keys("domain_checks", entry,
                              {"name", "column", "predicate"}, {"detail"})
            detail = e.get("detail")
            if detail is not None and not isinstance(detail, str):
                raise _fail("domain_checks", "detail must be a string")
            extras.append(DomainCheck(
                _txt("domain_checks", e["name"], "name"),
                F.expr(_txt("domain_checks", e["predicate"], "predicate")),
                _txt("domain_checks", e["column"], "column"),
                detail,
            ))

    if "compliance" in cfg:
        from bigdime_spark.operators.row_checks import Compliance

        if not isinstance(cfg["compliance"], list):
            raise _fail("compliance", "must be an array of objects")
        for entry in cfg["compliance"]:
            e = _require_keys("compliance", entry,
                              {"name", "column", "predicate", "min_fraction"},
                              {"detail"})
            if type(e["min_fraction"]) not in (int, float) \
                    or type(e["min_fraction"]) is bool:
                raise _fail("compliance", "min_fraction must be a number")
            detail = e.get("detail")
            if detail is not None and not isinstance(detail, str):
                raise _fail("compliance", "detail must be a string")
            try:
                extras.append(Compliance(
                    _txt("compliance", e["name"], "name"),
                    F.expr(_txt("compliance", e["predicate"], "predicate")),
                    _txt("compliance", e["column"], "column"),
                    float(e["min_fraction"]),
                    detail,
                ))
            except ValueError as exc:
                raise _fail("compliance", str(exc))

    if "type_conformance" in cfg:
        if not isinstance(cfg["type_conformance"], list):
            raise _fail("type_conformance", "must be an array of objects")
        for entry in cfg["type_conformance"]:
            e = _require_keys("type_conformance", entry, {"column", "dtype"})
            extras.append(TypeConformance(
                _txt("type_conformance", e["column"], "column"),
                _txt("type_conformance", e["dtype"], "dtype"),
            ))

    if "freshness" in cfg:
        e = _require_keys("freshness", cfg["freshness"],
                          {"ts_col", "as_of", "max_lag_seconds"})
        extras.append(Freshness(
            _txt("freshness", e["ts_col"], "ts_col"),
            as_of=_txt("freshness", e["as_of"], "as_of"),
            max_lag_seconds=_num("freshness", e["max_lag_seconds"],
                                 "max_lag_seconds", integer=True),
        ))

    if "correlation_bounds" in cfg:
        if not isinstance(cfg["correlation_bounds"], list):
            raise _fail("correlation_bounds", "must be an array of objects")
        for entry in cfg["correlation_bounds"]:
            e = _require_keys("correlation_bounds", entry,
                              {"x", "y"}, {"lo", "hi"})
            extras.append(CorrelationBound(
                _txt("correlation_bounds", e["x"], "x"),
                _txt("correlation_bounds", e["y"], "y"),
                _num("correlation_bounds", e.get("lo", -1.0), "lo"),
                _num("correlation_bounds", e.get("hi", 1.0), "hi"),
            ))

    table_extras: list = []
    if "sequence_continuity" in cfg:
        from bigdime_spark.operators.completeness import SequenceContinuity

        if not isinstance(cfg["sequence_continuity"], list):
            raise _fail("sequence_continuity", "must be an array of objects")
        for entry in cfg["sequence_continuity"]:
            e = _require_keys("sequence_continuity", entry,
                              {"id_col"}, {"max_gaps"})
            if "max_gaps" in e and (type(e["max_gaps"]) is not int):
                raise _fail("sequence_continuity", "max_gaps must be an integer")
            table_extras.append(SequenceContinuity(
                _txt("sequence_continuity", e["id_col"], "id_col"),
                max_gaps=int(e.get("max_gaps", 0)),
            ))

    if "functional_dependencies" in cfg:
        from bigdime_spark.operators.completeness import FunctionalDependency

        if not isinstance(cfg["functional_dependencies"], list):
            raise _fail("functional_dependencies", "must be an array of objects")
        for entry in cfg["functional_dependencies"]:
            e = _require_keys("functional_dependencies", entry,
                              {"det", "dep"}, {"max_violations"})
            if "max_violations" in e and type(e["max_violations"]) is not int:
                raise _fail(
                    "functional_dependencies", "max_violations must be an integer"
                )
            table_extras.append(FunctionalDependency(
                _txt("functional_dependencies", e["det"], "det"),
                _txt("functional_dependencies", e["dep"], "dep"),
                max_violations=int(e.get("max_violations", 100)),
            ))

    if "mutual_info_bounds" in cfg:
        from bigdime_spark.operators.stats import MutualInfoBound

        if not isinstance(cfg["mutual_info_bounds"], list):
            raise _fail("mutual_info_bounds", "must be an array of objects")
        for entry in cfg["mutual_info_bounds"]:
            e = _require_keys("mutual_info_bounds", entry,
                              {"x", "y"}, {"lo", "hi"})
            table_extras.append(MutualInfoBound(
                _txt("mutual_info_bounds", e["x"], "x"),
                _txt("mutual_info_bounds", e["y"], "y"),
                _num("mutual_info_bounds", e.get("lo", 0.0), "lo"),
                _num("mutual_info_bounds", e.get("hi", 1.0), "hi"),
            ))

    if "distinctness_bounds" in cfg:
        from bigdime_spark.operators.stats import DistinctnessBound

        if not isinstance(cfg["distinctness_bounds"], list):
            raise _fail("distinctness_bounds", "must be an array of objects")
        for entry in cfg["distinctness_bounds"]:
            e = _require_keys("distinctness_bounds", entry,
                              {"column"}, {"lo", "hi", "metric"})
            metric = str(e.get("metric", "distinctness"))
            if metric not in DistinctnessBound._METRICS:
                raise _fail(
                    "distinctness_bounds",
                    f"metric must be one of {DistinctnessBound._METRICS}",
                )
            table_extras.append(DistinctnessBound(
                _txt("distinctness_bounds", e["column"], "column"),
                _num("distinctness_bounds", e.get("lo", 0.0), "lo"),
                _num("distinctness_bounds", e.get("hi", 1.0), "hi"),
                metric=metric,
            ))

    if "categorical_bounds" in cfg:
        from bigdime_spark.operators.stats import CategoricalBound

        if not isinstance(cfg["categorical_bounds"], list):
            raise _fail("categorical_bounds", "must be an array of objects")
        for entry in cfg["categorical_bounds"]:
            e = _require_keys("categorical_bounds", entry,
                              {"column"}, {"metric", "lo", "hi"})
            try:
                table_extras.append(CategoricalBound(
                    _txt("categorical_bounds", e["column"], "column"),
                    metric=_txt("categorical_bounds",
                                e.get("metric", "entropy"), "metric"),
                    lo=_num("categorical_bounds", e.get("lo", 0.0), "lo"),
                    hi=(None if e.get("hi") is None
                        else _num("categorical_bounds", e["hi"], "hi")),
                ))
            except ValueError as exc:
                raise _fail("categorical_bounds", str(exc))

    if "caption_quality_bounds" in cfg:
        from bigdime_spark.operators.caption import CaptionQualityBound

        if not isinstance(cfg["caption_quality_bounds"], list):
            raise _fail("caption_quality_bounds", "must be an array of objects")
        for entry in cfg["caption_quality_bounds"]:
            e = _require_keys("caption_quality_bounds", entry,
                              {"metric"}, {"lo", "hi", "column"})
            try:
                extras.append(CaptionQualityBound(
                    _txt("caption_quality_bounds", e["metric"], "metric"),
                    lo=(None if e.get("lo") is None
                        else _num("caption_quality_bounds", e["lo"], "lo")),
                    hi=(None if e.get("hi") is None
                        else _num("caption_quality_bounds", e["hi"], "hi")),
                    column=_txt("caption_quality_bounds",
                                e.get("column", "caption"), "column"),
                ))
            except ValueError as exc:
                raise _fail("caption_quality_bounds", str(exc))

    if "caption_lang_bounds" in cfg:
        from bigdime_spark.operators.caption import CaptionLangShareBound

        if not isinstance(cfg["caption_lang_bounds"], list):
            raise _fail("caption_lang_bounds", "must be an array of objects")
        for entry in cfg["caption_lang_bounds"]:
            e = _require_keys("caption_lang_bounds", entry,
                              {"lang"}, {"lo", "hi", "column"})
            try:
                extras.append(CaptionLangShareBound(
                    _txt("caption_lang_bounds", e["lang"], "lang"),
                    lo=(None if e.get("lo") is None
                        else _num("caption_lang_bounds", e["lo"], "lo")),
                    hi=(None if e.get("hi") is None
                        else _num("caption_lang_bounds", e["hi"], "hi")),
                    column=_txt("caption_lang_bounds",
                                e.get("column", "caption"), "column"),
                ))
            except ValueError as exc:
                raise _fail("caption_lang_bounds", str(exc))

    if "grouped_bounds" in cfg:
        from bigdime_spark.operators.grouped import GroupedBound

        if not isinstance(cfg["grouped_bounds"], list):
            raise _fail("grouped_bounds", "must be an array of objects")
        for entry in cfg["grouped_bounds"]:
            e = _require_keys("grouped_bounds", entry,
                              {"target", "group_by"},
                              {"metric", "lo", "hi", "min_support"})
            try:
                table_extras.append(GroupedBound(
                    _txt("grouped_bounds", e["target"], "target"),
                    _txt("grouped_bounds", e["group_by"], "group_by"),
                    metric=_txt("grouped_bounds",
                                e.get("metric", "null_rate"), "metric"),
                    lo=(None if e.get("lo") is None
                        else _num("grouped_bounds", e["lo"], "lo")),
                    hi=(None if e.get("hi") is None
                        else _num("grouped_bounds", e["hi"], "hi")),
                    min_support=_num("grouped_bounds",
                                     e.get("min_support", 1), "min_support",
                                     integer=True),
                ))
            except ValueError as exc:
                raise _fail("grouped_bounds", str(exc))

    if "benford_bounds" in cfg:
        from bigdime_spark.operators.stats import BenfordBound

        if not isinstance(cfg["benford_bounds"], list):
            raise _fail("benford_bounds", "must be an array of objects")
        for entry in cfg["benford_bounds"]:
            e = _require_keys("benford_bounds", entry,
                              {"column"}, {"max_mad", "min_eligible"})
            try:
                table_extras.append(BenfordBound(
                    _txt("benford_bounds", e["column"], "column"),
                    max_mad=_num("benford_bounds",
                                 e.get("max_mad", 0.015), "max_mad"),
                    min_eligible=_num("benford_bounds",
                                      e.get("min_eligible", 100),
                                      "min_eligible", integer=True),
                ))
            except ValueError as exc:
                raise _fail("benford_bounds", str(exc))

    if extras:
        kwargs["extra_agg_constraints"] = extras
    if table_extras:
        kwargs["extra_table_constraints"] = table_extras
    suite = ValidationSuite(**kwargs)
    suite.check_config()
    return suite


def load_suite_config(path: str) -> dict:
    """Read and parse a JSON suite config; ValueError on malformed
    input so the CLI's operator-error contract (stderr + exit 2)
    applies uniformly."""
    try:
        with open(path) as fh:
            cfg = json.load(fh)
    except OSError as exc:
        raise ValueError(f"suite config: cannot read {path}: {exc}") from exc
    except json.JSONDecodeError as exc:
        raise ValueError(f"suite config: {path} is not valid JSON: {exc}") from exc
    if not isinstance(cfg, dict):
        raise ValueError(
            f"suite config: {path} must hold a JSON object, got "
            f"{type(cfg).__name__}"
        )
    return cfg
