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
                         and gets the same review), parsed by the
                         live session at load. Predicates must
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
worst failure mode a validation engine can have). A top-level field's
JSON type comes from its ``ValidationSuite`` annotation (``bool``,
``int``, ``float``, ``str``, ``tuple[str, ...]`` as an array of
strings, ``tuple[float, float]`` as ``[lo, hi]``); JSON null is
refused everywhere but in an optional section key. Each section is
one row of ``_SECTIONS``: an entry passes only the keys it holds to
the operator's constructor, so an omitted key takes the constructor's
default, and a constructor's ``ValueError`` is re-raised under the
section's name. The suite's cross-field rules
(``ValidationSuite.check_config``, which also builds the suite's
``DecodeIntegrity`` to meet its invariants) run on every built suite.

Programmatic-only fields (``declared_schema``, ``stats``,
``extra_*_constraints``) are rejected by name with a pointer to the
Python API — they hold live objects JSON cannot carry.
"""

from __future__ import annotations

import json
import typing

from pyspark.errors import ParseException
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bigdime_spark.operators.caption import CaptionLangShareBound, CaptionQualityBound
from bigdime_spark.operators.completeness import (
    FunctionalDependency,
    SequenceContinuity,
)
from bigdime_spark.operators.drift import DriftColumn
from bigdime_spark.operators.freshness import Freshness
from bigdime_spark.operators.grouped import GroupedBound
from bigdime_spark.operators.row_checks import Compliance, DomainCheck, TypeConformance
from bigdime_spark.operators.stats import (
    BenfordBound,
    CategoricalBound,
    CorrelationBound,
    DistinctnessBound,
    MutualInfoBound,
)
from bigdime_spark.plans.suite import ValidationSuite

_PROGRAMMATIC_ONLY = (
    "declared_schema", "stats", "extra_agg_constraints",
    "extra_table_constraints",
)

_AGG, _TABLE = "extra_agg_constraints", "extra_table_constraints"
#: section -> (operator, the suite field its entries land in, required
#: keys, optional keys); ``_AGG`` entries ride the fused stats pass. A
#: key reads ``name:kind``, or ``name:kind:argument`` when the
#: constructor argument it fills has another name. Kinds: ``txt`` a
#: non-empty string, ``opt_txt`` a string or null, ``num`` a number,
#: ``opt_num`` a number or null, ``int`` an integer, ``expr`` a SQL
#: boolean expression (``F.expr``). Entries are built in table order.
_SECTIONS = {
    "drift_specs": (DriftColumn, "drift_specs",
                    ("column:txt", "lo:num", "hi:num"), ("nbins:int",)),
    "domain_checks": (DomainCheck, _AGG,
                      ("name:txt", "column:txt", "predicate:expr"),
                      ("detail:opt_txt",)),
    "compliance": (Compliance, _AGG,
                   ("name:txt", "column:txt", "predicate:expr",
                    "min_fraction:num"), ("detail:opt_txt",)),
    "type_conformance": (TypeConformance, _AGG,
                         ("column:txt", "dtype:txt"), ()),
    "freshness": (Freshness, _AGG,
                  ("ts_col:txt", "as_of:txt", "max_lag_seconds:int"), ()),
    "correlation_bounds": (CorrelationBound, _AGG,
                           ("x:txt", "y:txt"), ("lo:num", "hi:num")),
    "sequence_continuity": (SequenceContinuity, _TABLE,
                            ("id_col:txt",), ("max_gaps:int",)),
    "functional_dependencies": (FunctionalDependency, _TABLE,
                                ("det:txt:det_col", "dep:txt:dep_col"),
                                ("max_violations:int",)),
    "mutual_info_bounds": (MutualInfoBound, _TABLE,
                           ("x:txt", "y:txt"), ("lo:num", "hi:num")),
    "distinctness_bounds": (DistinctnessBound, _TABLE, ("column:txt",),
                            ("lo:num", "hi:num", "metric:txt")),
    "categorical_bounds": (CategoricalBound, _TABLE, ("column:txt",),
                           ("metric:txt", "lo:num", "hi:opt_num")),
    "caption_quality_bounds": (CaptionQualityBound, _AGG, ("metric:txt",),
                               ("lo:opt_num", "hi:opt_num", "column:txt")),
    "caption_lang_bounds": (CaptionLangShareBound, _AGG, ("lang:txt",),
                            ("lo:opt_num", "hi:opt_num", "column:txt")),
    "grouped_bounds": (GroupedBound, _TABLE, ("target:txt", "group_by:txt"),
                       ("metric:txt", "lo:opt_num", "hi:opt_num",
                        "min_support:int")),
    "benford_bounds": (BenfordBound, _TABLE, ("column:txt",),
                       ("max_mad:num", "min_eligible:int")),
}
#: sections holding one object instead of an array of them
_SINGLE = ("freshness",)


def _is_num(v) -> bool:
    return type(v) is not bool and isinstance(v, (int, float))


#: annotation -> (what the JSON value must be, test, conversion)
_SCALARS = {
    bool: ("true/false", lambda v: type(v) is bool, bool),
    int: ("an integer", lambda v: type(v) is int, int),
    float: ("a number", _is_num, float),
    str: ("a string", lambda v: isinstance(v, str), str),
    tuple[str, ...]: (
        "an array of strings",
        lambda v: isinstance(v, list) and all(isinstance(s, str) for s in v),
        tuple,
    ),
    tuple[float, float]: (
        "an array of two numbers [lo, hi]",
        lambda v: isinstance(v, list) and len(v) == 2 and all(map(_is_num, v)),
        lambda v: (float(v[0]), float(v[1])),
    ),
}


def _without_none(hint):
    args = typing.get_args(hint)
    if type(None) in args:
        (hint,) = (a for a in args if a is not type(None))
    return hint


#: top-level scalar field -> its annotation, ``| None`` stripped
_FIELD_TYPES = {
    name: _without_none(hint)
    for name, hint in typing.get_type_hints(ValidationSuite).items()
    if name not in _PROGRAMMATIC_ONLY and name not in _SECTIONS
}
_ALLOWED = set(_FIELD_TYPES) | set(_SECTIONS) | {"schema"}


def _fail(key: str, why: str) -> ValueError:
    return ValueError(f"suite config: {key!r} {why}")


def _require_keys(key: str, entry: object, required: set[str],
                  optional: set[str]) -> dict:
    if not isinstance(entry, dict):
        raise _fail(key, f"entries must be objects, got {type(entry).__name__}")
    missing = required - entry.keys()
    if missing:
        raise _fail(key, f"entry missing required keys {sorted(missing)}")
    extra = entry.keys() - required - optional
    if extra:
        raise _fail(key, f"entry has unknown keys {sorted(extra)}")
    return entry


def _value(section: str, key: str, kind: str, v):
    """One entry value checked against its kind: a JSON null or a
    wrong type raises the section's ValueError, never a bare TypeError
    and never the literal string 'None'."""
    if kind.startswith("opt_") and v is None:
        return None
    if kind == "opt_txt":
        if not isinstance(v, str):
            raise _fail(section, f"{key} must be a string")
        return v
    if kind in ("txt", "expr"):
        if not isinstance(v, str) or not v:
            raise _fail(section, f"{key} must be a non-empty string")
        if kind == "txt":
            return v
        # F.expr parses lazily: the live parser refuses a malformed
        # predicate now, not when the run plans the fused aggregation
        spark = SparkSession.getActiveSession()
        try:
            spark._jsparkSession.sessionState().sqlParser().parseExpression(v)  # noqa: SLF001
        except ParseException as exc:
            raise _fail(section, f"{key} is not a SQL expression: {exc}") from exc
        return F.expr(v)
    if not _is_num(v) or (kind == "int" and type(v) is not int):
        raise _fail(section, f"{key} must be "
                             f"{'an integer' if kind == 'int' else 'a number'}")
    return v if kind == "int" else float(v)


def _build_section(section: str, value) -> list:
    cls, _, required, optional = _SECTIONS[section]
    specs = [spec.split(":") for spec in required + optional]
    names = [s[0] for s in specs]
    if section in _SINGLE:
        value = [value]
    elif not isinstance(value, list):
        raise _fail(section, "must be an array of objects")
    built = []
    for entry in value:
        e = _require_keys(section, entry, set(names[:len(required)]),
                          set(names[len(required):]))
        kwargs = {}
        # expressions last: F.expr needs a running session, a shape check not
        for key, kind, *arg in sorted(specs, key=lambda s: s[1] == "expr"):
            if key in e:
                kwargs[arg[0] if arg else key] = _value(section, key, kind, e[key])
        try:
            built.append(cls(**kwargs))
        except ValueError as exc:
            raise _fail(section, str(exc)) from exc
    return built


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
    for key, hint in _FIELD_TYPES.items():
        if key in cfg:
            what, ok, convert = _SCALARS[hint]
            if not ok(cfg[key]):
                raise _fail(key, f"must be {what}")
            kwargs[key] = convert(cfg[key])

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
        schema_fields = []
        for entry in cfg["schema"]:
            e = _require_keys("schema", entry, {"name", "type"}, {"nullable"})
            if "nullable" in e and type(e["nullable"]) is not bool:
                raise _fail("schema", "nullable must be true/false")
            nm = _value("schema", "name", "txt", e["name"])
            tp = _value("schema", "type", "txt", e["type"])
            try:
                parsed = T.StructType.fromDDL(f"`{nm}` {tp}")
            except Exception as exc:
                raise _fail(
                    "schema", f"bad type {e['type']!r} for {e['name']!r}: {exc}"
                ) from exc
            f0 = parsed.fields[0]
            schema_fields.append(
                T.StructField(f0.name, f0.dataType, bool(e.get("nullable", True)))
            )
        kwargs["declared_schema"] = T.StructType(schema_fields)

    for section, (_, lands, _, _) in _SECTIONS.items():
        if section in cfg:
            kwargs.setdefault(lands, []).extend(_build_section(section, cfg[section]))
    if "drift_specs" in kwargs:
        kwargs["drift_specs"] = tuple(kwargs["drift_specs"])
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
