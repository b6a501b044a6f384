"""Declarative suite config (plans/config.py): field mapping, loud
rejection of unknown/ill-typed keys, structured constraint sections,
and the CLI `run --config` path end-to-end."""

from __future__ import annotations

import dataclasses
import json
import typing

import pytest
from pyspark.sql import functions as F

from bigdime_spark import cli
from bigdime_spark.operators.drift import DriftColumn
from bigdime_spark.operators.freshness import Freshness
from bigdime_spark.operators.row_checks import DomainCheck, TypeConformance
from bigdime_spark.operators.stats import CorrelationBound
from bigdime_spark.plans.config import (
    _PROGRAMMATIC_ONLY,
    load_suite_config,
    suite_from_config,
)
from bigdime_spark.plans.suite import ValidationSuite


def test_scalar_and_list_fields_map(spark):
    suite = suite_from_config(
        {
            "check_checksum": False,
            "check_decode": True,
            "decode_seed": 7,
            "phash_k": 3,
            "check_phash_dedup": True,
            "referential_mode": "bloom",
            "referential_bloom_bits": 1 << 20,
            "outlier_threshold": 4.0,
            "not_null": ["image_id", "caption"],
            "categorical_drift_cols": ["fmt"],
            "bit_balance_bounds": [0.05, 0.95],
            "keyed_assume_clustered": True,
            "topk_violations": 9,
        }
    )
    assert suite.check_checksum is False
    assert suite.check_decode is True and suite.decode_seed == 7
    assert suite.check_phash_dedup is True and suite.phash_k == 3
    assert suite.referential_mode == "bloom"
    assert suite.referential_bloom_bits == 1 << 20
    assert suite.outlier_threshold == 4.0
    assert suite.not_null == ("image_id", "caption")
    assert suite.categorical_drift_cols == ("fmt",)
    assert suite.bit_balance_bounds == (0.05, 0.95)
    assert suite.keyed_assume_clustered is True
    assert suite.topk_violations == 9
    # untouched fields keep their dataclass defaults
    assert suite.check_record_count is True and suite.unique_key == "image_id"


def test_decode_rate_gate_field_maps(spark):
    suite = suite_from_config(
        {"check_decode": True, "decode_rate_gate": [0.05, 2.576]}
    )
    assert suite.decode_rate_gate == (0.05, 2.576)


def test_decode_stratify_fields_map(spark):
    suite = suite_from_config(
        {"check_decode": True, "decode_sample_rate": 0.1,
         "decode_sample_stratify": "fmt", "decode_sample_min_n": 385}
    )
    assert suite.decode_sample_stratify == "fmt"
    assert suite.decode_sample_min_n == 385


def test_caption_quality_bounds_section(spark):
    from bigdime_spark.operators.caption import CaptionQualityBound

    suite = suite_from_config(
        {"caption_quality_bounds": [
            {"metric": "quality_score", "lo": 0.3},
            {"metric": "n_tokens", "lo": 3, "hi": 64, "column": "caption"},
        ]}
    )
    cqs = [
        c for c in suite.extra_agg_constraints
        if isinstance(c, CaptionQualityBound)
    ]
    assert len(cqs) == 2
    assert cqs[0].metric == "quality_score" and cqs[0].lo == 0.3
    assert cqs[1].name == "caption_quality_n_tokens.caption"


def test_caption_lang_bounds_section(spark):
    from bigdime_spark.operators.caption import CaptionLangShareBound

    suite = suite_from_config(
        {"caption_lang_bounds": [
            {"lang": "en", "lo": 0.9},
            {"lang": "und", "hi": 0.05},
        ]}
    )
    cls_ = [
        c for c in suite.extra_agg_constraints
        if isinstance(c, CaptionLangShareBound)
    ]
    assert len(cls_) == 2
    assert cls_[0].lang == "en" and cls_[0].lo == 0.9
    assert cls_[1].name == "caption_lang_und.caption" and cls_[1].hi == 0.05


def test_grouped_bounds_section(spark):
    from bigdime_spark.operators.grouped import GroupedBound

    suite = suite_from_config(
        {"grouped_bounds": [
            {"target": "caption", "group_by": "fmt", "hi": 0.05},
            {"target": "w", "group_by": "fmt", "metric": "mean",
             "lo": 8.0, "hi": 256.0, "min_support": 10},
        ]}
    )
    gbs = [c for c in suite.extra_table_constraints if isinstance(c, GroupedBound)]
    assert len(gbs) == 2
    assert gbs[0].metric == "null_rate" and gbs[0].hi == 0.05
    assert gbs[1].metric == "mean" and gbs[1].min_support == 10
    assert gbs[1].name == "grouped_mean.w@fmt"


def test_drift_specs_section(spark):
    suite = suite_from_config(
        {
            "drift_specs": [
                {"column": "w", "lo": 0, "hi": 512, "nbins": 16},
                {"column": "h", "lo": 0, "hi": 512},
            ]
        }
    )
    assert suite.drift_specs == (
        DriftColumn("w", 0.0, 512.0, 16),
        DriftColumn("h", 0.0, 512.0, 32),
    )


def test_constraint_sections_build_fusable_extras(spark):
    suite = suite_from_config(
        {
            "domain_checks": [
                {
                    "name": "area_sane",
                    "column": "w",
                    "predicate": "w * h <= 262144",
                    "detail": "image area above 512x512 budget",
                }
            ],
            "type_conformance": [{"column": "fmt", "dtype": "int"}],
            "freshness": {
                "ts_col": "ts",
                "as_of": "2026-01-01 00:00:00",
                "max_lag_seconds": 86400,
            },
            "correlation_bounds": [{"x": "w", "y": "h", "lo": 0.1}],
        }
    )
    extras = suite.extra_agg_constraints
    by_type = {type(c): c for c in extras}
    assert set(by_type) == {DomainCheck, TypeConformance, Freshness, CorrelationBound}
    assert by_type[DomainCheck].name == "domain.area_sane"
    assert by_type[TypeConformance].name == "type_conformance.fmt"
    assert by_type[Freshness].max_lag_seconds == 86400
    cb = by_type[CorrelationBound]
    assert (cb.lo, cb.hi) == (0.1, 1.0)  # hi defaulted


def test_completeness_sections_build_table_constraints(spark):
    from bigdime_spark.operators.completeness import (
        FunctionalDependency,
        SequenceContinuity,
    )

    suite = suite_from_config(
        {
            "check_payload_conformance": True,
            "sequence_continuity": [{"id_col": "seq", "max_gaps": 3}],
            "functional_dependencies": [
                {"det": "image_id", "dep": "phash", "max_violations": 9}
            ],
        }
    )
    assert suite.check_payload_conformance is True
    by_type = {type(c): c for c in suite.extra_table_constraints}
    assert set(by_type) == {SequenceContinuity, FunctionalDependency}
    sc = by_type[SequenceContinuity]
    assert (sc.id_col, sc.max_gaps) == ("seq", 3)
    assert sc.name == "sequence_continuity.seq"
    fd = by_type[FunctionalDependency]
    assert (fd.det_col, fd.dep_col, fd.max_violations) == ("image_id", "phash", 9)
    assert fd.name == "fd.image_id->phash"


@pytest.mark.parametrize(
    "cfg,frag",
    [
        ({"check_cheksum": True}, "not a suite field"),
        ({"declared_schema": {}}, "live Python objects"),
        ({"check_checksum": "yes"}, "must be true/false"),
        ({"phash_k": True}, "must be an integer"),
        ({"phash_k": 2.5}, "must be an integer"),
        ({"not_null": "image_id"}, "array of strings"),
        ({"not_null": [1]}, "array of strings"),
        ({"bit_balance_bounds": [0.1]}, "[lo, hi]"),
        ({"drift_specs": [{"column": "w", "lo": 0}]}, "missing required keys"),
        ({"drift_specs": [{"column": "w", "lo": 0, "hi": 1, "bogus": 1}]},
         "unknown keys"),
        ({"freshness": {"ts_col": "ts"}}, "missing required keys"),
        ({"correlation_bounds": [{"x": "w"}]}, "missing required keys"),
        ({"domain_checks": {"name": "x"}}, "array of objects"),
        ({"sequence_continuity": [{"max_gaps": 1}]}, "missing required keys"),
        ({"sequence_continuity": [{"id_col": "s", "max_gaps": 1.5}]},
         "max_gaps must be an integer"),
        ({"functional_dependencies": [{"det": "a"}]}, "missing required keys"),
        ({"functional_dependencies": [{"det": "a", "dep": "b", "extra": 1}]},
         "unknown keys"),
        ({"check_payload_conformance": "yes"}, "must be true/false"),
        ({"decode_sample_rate": 0.0}, "must be in \\(0, 1\\]"),
        # typed-extraction hardening: JSON null / wrong-typed scalars
        # in section slots raise the section's ValueError, never a
        # bare TypeError, and never silently build a 'None' name
        ({"freshness": {"ts_col": "ts", "as_of": "2026-01-01 00:00:00",
                        "max_lag_seconds": None}}, "must be an integer"),
        ({"freshness": {"ts_col": "ts", "as_of": None,
                        "max_lag_seconds": 5}}, "non-empty string"),
        ({"drift_specs": [{"column": "w", "lo": None, "hi": 1}]},
         "must be a number"),
        ({"functional_dependencies": [{"det": None, "dep": "b"}]},
         "non-empty string"),
        ({"compliance": [{"name": None, "column": "v", "predicate": "v>0",
                          "min_fraction": 0.5}]}, "non-empty string"),
        ({"categorical_bounds": [{"column": "fmt", "lo": None}]},
         "must be a number"),
        ({"sequence_continuity": [{"id_col": None}]}, "non-empty string"),
        ({"benford_bounds": [{"column": "x", "max_mad": None}]},
         "must be a number"),
        ({"distinctness_bounds": [{"column": "x", "lo": "z"}]},
         "must be a number"),
        ({"schema": [{"name": None, "type": "int"}]}, "non-empty string"),
        ({"domain_checks": [{"name": "x", "column": "v",
                             "predicate": "v>0", "detail": 7}]},
         "detail must be a string"),
        ({"type_conformance": [{"column": "v", "dtype": None}]},
         "non-empty string"),
        ({"mutual_info_bounds": [{"x": "a", "y": "b", "hi": True}]},
         "must be a number"),
        ({"decode_sample_rate": 1.5}, "must be in \\(0, 1\\]"),
        ({"decode_rate_gate": [0.1]}, "two numbers"),
        ({"decode_rate_gate": [0.1, "z"]}, "two numbers"),
        ({"decode_rate_gate": [0.1, True]}, "two numbers"),
        ({"decode_rate_gate": 0.1}, "two numbers"),
        ({"grouped_bounds": [{"target": "c"}]}, "missing required keys"),
        ({"grouped_bounds": [{"target": "c", "group_by": "g",
                              "metric": "median", "hi": 1}]}, "unsupported"),
        ({"grouped_bounds": [{"target": "c", "group_by": "g"}]},
         "lo, hi, or both"),
        ({"caption_quality_bounds": [{"metric": "sentiment", "lo": 0}]},
         "unsupported"),
        ({"caption_lang_bounds": [{"lang": "xx", "lo": 0.5}]}, "unsupported"),
        ({"caption_lang_bounds": [{"lang": "en", "lo": 1.5}]},
         "must be in \\[0, 1\\]"),
        ({"caption_quality_bounds": [{"metric": "n_tokens"}]},
         "lo, hi, or both"),
        ([], "must be an object"),
        # decode-riding fields with decode off would decode nothing
        ({"decode_sample_rate": 0.5}, "requires check_decode"),
        ({"decode_sample_stratify": "fmt"}, "requires check_decode"),
        ({"decode_sample_min_n": 5}, "requires check_decode"),
        # a malformed SQL predicate is refused by the live parser at load
        ({"domain_checks": [{"name": "x", "column": "v", "predicate": "v >"}]},
         "'domain_checks' predicate is not a SQL expression"),
        ({"compliance": [{"name": "x", "column": "v", "predicate": "v >",
                          "min_fraction": 0.5}]},
         "'compliance' predicate is not a SQL expression"),
    ],
)
def test_bad_configs_raise(spark, cfg, frag):
    with pytest.raises(ValueError, match=frag):
        suite_from_config(cfg)


#: a field's annotation (``| None`` dropped) -> JSON values of the wrong
#: type for it; a field of a type missing here fails the test below
_WRONG_VALUES = {
    bool: [1, "true", None],
    int: [True, 2.5, "2", None],
    float: [True, "0.5", None],
    str: [5, ["a"], None],
    tuple[str, ...]: ["a", [1], None],
    tuple[float, float]: [[0.1], [0.1, "z"], [0.1, True], 0.1, None],
    tuple: [{"column": "w"}, None],  # drift_specs, an array section
}


@pytest.mark.parametrize(
    "field", dataclasses.fields(ValidationSuite), ids=lambda f: f.name
)
def test_every_suite_field_is_config_vocabulary(field):
    """Every ValidationSuite field is either set by the config key of
    its own name, typed from its annotation, or refused by name as
    programmatic-only."""
    if field.name in _PROGRAMMATIC_ONLY:
        with pytest.raises(ValueError, match="live Python objects"):
            suite_from_config({field.name: {}})
        return
    hint = typing.get_type_hints(ValidationSuite)[field.name]
    if type(None) in typing.get_args(hint):
        (hint,) = (a for a in typing.get_args(hint) if a is not type(None))
    for bad in _WRONG_VALUES[hint]:
        with pytest.raises(ValueError, match=f"'{field.name}' must be"):
            suite_from_config({field.name: bad})
    if field.default is not None:  # the default, written as JSON, builds it
        value = field.default
        if field.name == "drift_specs":
            value = [dataclasses.asdict(d) for d in value]
        elif isinstance(value, tuple):
            value = list(value)
        assert getattr(suite_from_config({field.name: value}), field.name) == field.default


@pytest.mark.parametrize(
    "cfg,frag",
    [
        ({"decode_sample_stratify": "fmt"}, "requires sample_rate < 1"),
        ({"decode_sample_rate": 0.5, "decode_sample_min_n": 5},
         "requires sample_stratify"),
        ({"decode_rate_gate": [1.5, 2.0]}, "max_rate must be in"),
        ({"decode_rate_gate": [0.1, 2.0], "decode_snapshots": ["curated"]},
         "certifies the raw snapshot"),
        ({"decode_pixel_drift": True, "decode_snapshots": ["raw"]},
         "must cover both snapshots"),
    ],
)
def test_decode_invariants_refused_at_config_load(cfg, frag):
    """DecodeIntegrity's own rules hold when the config loads, before
    `run` reads a table."""
    with pytest.raises(ValueError, match=frag):
        suite_from_config({"check_decode": True, **cfg})


def test_load_suite_config_errors(tmp_path):
    with pytest.raises(ValueError, match="cannot read"):
        load_suite_config(str(tmp_path / "absent.json"))
    bad = tmp_path / "bad.json"
    bad.write_text("{nope")
    with pytest.raises(ValueError, match="not valid JSON"):
        load_suite_config(str(bad))
    arr = tmp_path / "arr.json"
    arr.write_text("[1, 2]")
    with pytest.raises(ValueError, match="JSON object"):
        load_suite_config(str(arr))


# --------------------------------------------------------------- CLI


def _run_cli(capsys, argv):
    rc = cli.main(argv)
    out = capsys.readouterr()
    lines = [ln for ln in out.out.strip().splitlines() if ln.startswith("{")]
    return rc, (json.loads(lines[-1]) if lines else None), out.err


def test_run_with_config_end_to_end(spark, tmp_path_factory, capsys):
    """A config-driven run: custom not_null set, an extra domain check
    that PASSes, a correlation bound on (w, h) — verdict families from
    the config must appear; shape comes from the file alone."""
    fx = str(tmp_path_factory.mktemp("cfgfx"))
    out = str(tmp_path_factory.mktemp("cfgout"))
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "192", "--parts", "4", "--out", fx]
    )
    assert rc == 0

    cfg = {
        "not_null": ["image_id", "caption"],
        "check_drift": True,
        "domain_checks": [
            {
                "name": "caption_len",
                "column": "caption",
                "predicate": "octet_length(caption) <= 512",
            }
        ],
        "correlation_bounds": [{"x": "w", "y": "h", "lo": -1.0, "hi": 1.0}],
    }
    cfg_path = tmp_path_factory.mktemp("cfg") / "suite.json"
    cfg_path.write_text(json.dumps(cfg))

    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--curated", f"{fx}/curated",
         "--manifest", f"{fx}/manifest", "--out", out,
         "--config", str(cfg_path)],
    )
    assert rc == 0, summary
    verdicts = spark.read.parquet(f"{out}/verdicts")
    families = {r["constraint"] for r in verdicts.select("constraint").distinct().collect()}
    assert "domain.caption_len" in families
    assert "correlation.w~h" in families
    assert "not_null.caption" in families
    # clean synth fixture: the config-driven extras all PASS
    bad = verdicts.filter(
        F.col("constraint").isin("domain.caption_len", "correlation.w~h")
        & (F.col("verdict") != "PASS")
    ).count()
    assert bad == 0


def test_run_config_conflicts_with_shape_flags(tmp_path_factory, capsys):
    cfg_path = tmp_path_factory.mktemp("cfg2") / "suite.json"
    cfg_path.write_text("{}")
    rc, _, err = _run_cli(
        capsys,
        ["run", "--raw", "x", "--out", "y",
         "--config", str(cfg_path), "--decode"],
    )
    assert rc == 2
    assert "--decode" in err and "authoritative" in err


#: a non-default value for every `run` shape flag (store_true flags
#: take none)
_SHAPE_FLAG_VALUES = {
    "--decode": [], "--decode-seed": ["7"], "--decode-sample": ["0.5"],
    "--decode-sample-by": ["fmt"], "--decode-sample-min": ["5"],
    "--decode-max-bad-rate": ["0.1"], "--decode-rate-z": ["2.5"],
    "--pixel-drift": [], "--quality-min-std": ["8"],
    "--quality-mean-range": ["16~240"], "--quality-max-flagged": ["1"],
    "--phash-dedup": [], "--phash-k": ["3"], "--profile-outliers": [],
    "--bit-balance": [], "--payload-conformance": [],
    "--seq-continuity": ["phash"], "--fd": ["image_id:phash"],
    "--grouped-bound": ["caption:fmt:null_rate:~1"],
    "--caption-quality": ["n_tokens:1~"], "--caption-lang": ["en:0~1"],
    "--referential-bloom": [], "--cat-drift": ["fmt"],
    "--mask-drift": ["image_id"], "--zone-clustering": ["w"],
    "--zone-max-overlap": ["0.9"], "--content-diff": [],
    "--content-cols": ["w,h"], "--topk-violations": ["5"],
}


@pytest.mark.parametrize("flag", sorted(cli._SHAPE_FLAGS))
def test_run_config_conflicts_with_every_shape_flag(
    flag, tmp_path_factory, capsys
):
    """Every entry of the shape-flag table is refused beside --config
    (before any Spark session starts)."""
    cfg_path = tmp_path_factory.mktemp("cfgflag") / "suite.json"
    cfg_path.write_text("{}")
    rc, _, err = _run_cli(
        capsys,
        ["run", "--raw", "x", "--out", "y", "--config", str(cfg_path),
         flag, *_SHAPE_FLAG_VALUES[flag]],
    )
    assert rc == 2
    assert f"drop {flag} (" in err and "authoritative" in err


def test_every_run_flag_is_shape_or_runtime():
    """A `run` flag added without a shape-table entry must be declared
    here as an input/runtime flag instead — otherwise --config would
    silently let it change the suite."""
    runtime = {
        "cmd", "config", "raw", "curated", "manifest", "out", "lineage",
        "run_id", "no_resume", "kmv_keys", "kmv_k", "slice_dims",
        "slice_pairs", "slice_min_support", "parts", "no_quarantine",
        "master",
    }
    args = cli._build_parser().parse_args(["run", "--raw", "x", "--out", "y"])
    shape = {f[2:].replace("-", "_") for f in cli._SHAPE_FLAGS}
    assert set(vars(args)) - runtime == shape
    assert set(_SHAPE_FLAG_VALUES) == set(cli._SHAPE_FLAGS)


def test_flag_translation_builds_the_flag_suite(spark):
    """The benchmark's `run --decode --decode-seed N` argv translates
    to today's flag suite: five not-null columns, decode on, nothing
    else moved off the ValidationSuite defaults."""
    from bigdime_spark.plans.suite import ValidationSuite

    args = cli._build_parser().parse_args(
        ["run", "--raw", "x", "--out", "y", "--decode", "--decode-seed", "3"]
    )
    assert suite_from_config(cli._suite_config_from_flags(args)) == ValidationSuite(
        not_null=("image_id", "caption", "w", "h", "fmt"),
        check_decode=True,
        decode_seed=3,
    )


def test_flag_run_equals_config_run_on_translated_document(
    spark, tmp_path_factory, capsys
):
    """A flag run and a --config run on the document the translator
    emits for those flags write the same verdict rows."""
    fx = str(tmp_path_factory.mktemp("eqfx"))
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "96", "--parts", "3", "--out", fx]
    )
    assert rc == 0
    inputs = ["--raw", f"{fx}/raw", "--curated", f"{fx}/curated",
              "--manifest", f"{fx}/manifest"]
    flags = ["--decode", "--pixel-drift", "--cat-drift", "fmt",
             "--fd", "image_id:phash",
             "--grouped-bound", "caption:fmt:null_rate:~1",
             "--caption-quality", "n_tokens:1~"]
    doc = cli._suite_config_from_flags(
        cli._build_parser().parse_args(["run", *inputs, "--out", "x", *flags])
    )
    cfg_path = tmp_path_factory.mktemp("eqcfg") / "suite.json"
    cfg_path.write_text(json.dumps(doc))

    rows = []
    for shape in (flags, ["--config", str(cfg_path)]):
        out = str(tmp_path_factory.mktemp("eqout"))
        rc, _, err = _run_cli(capsys, ["run", *inputs, "--out", out, *shape])
        assert rc == 0, err
        rows.append(sorted(
            tuple(r) for r in spark.read.parquet(f"{out}/verdicts")
            .drop("run_id").collect()
        ))
    assert rows[0] == rows[1]
    families = {r[1] for r in rows[0]}
    assert {"drift_ks.pixels", "drift_cat.fmt", "fd.image_id->phash",
            "grouped_null_rate.caption@fmt", "not_null.fmt"} <= families


def test_run_config_parse_error_exits_2(spark, tmp_path_factory, capsys):
    cfg_path = tmp_path_factory.mktemp("cfg3") / "suite.json"
    cfg_path.write_text(json.dumps({"frobnicate": 1}))
    rc, _, err = _run_cli(
        capsys, ["run", "--raw", "x", "--out", "y", "--config", str(cfg_path)]
    )
    assert rc == 2
    assert "not a suite field" in err


# ----------------------------------------------------- profile CLI


def test_profile_cli_end_to_end(spark, tmp_path_factory, capsys):
    """profile over a small parquet table: categorical + correlation +
    MI frames written under --out, counts in the JSON summary; the
    no-out path prints a bounded sample."""
    src = str(tmp_path_factory.mktemp("prof") / "t")
    rows = []
    for i in range(40):
        part = f"p{i % 2}"
        lang = "en" if i % 3 else "de"
        rows.append((part, lang, "web" if i % 2 else "book",
                     float(i), 2.0 * i + 1.0))
    spark.createDataFrame(
        rows, "part string, lang string, source string, x double, y double"
    ).write.parquet(src)

    out = str(tmp_path_factory.mktemp("profout"))
    rc, summary, _ = _run_cli(
        capsys,
        ["profile", "--input", src, "--categorical", "lang,source",
         "--corr", "x~y", "--mi", "lang~source", "--out", out],
    )
    assert rc == 0
    assert summary["categorical"]["rows"] == 4   # 2 parts x 2 columns
    assert summary["correlation"]["rows"] == 2   # 2 parts x 1 pair
    assert summary["mutual_info"]["rows"] == 2
    corr = {r["part"]: r for r in spark.read.parquet(f"{out}/correlation").collect()}
    assert corr["p0"]["corr"] == 1.0  # y = 2x+1 exactly

    # bounded-sample path (no --out)
    rc, summary, _ = _run_cli(
        capsys, ["profile", "--input", src, "--mi", "lang~source"]
    )
    assert rc == 0
    assert summary["mutual_info"]["rows_shown"] == 2
    assert summary["mutual_info"]["truncated"] is False
    assert {s["pair"] for s in summary["mutual_info"]["sample"]} == {"lang~source"}


def test_profile_cli_infer_types_and_null_patterns(spark, tmp_path_factory, capsys):
    src = str(tmp_path_factory.mktemp("prof2") / "t")
    rows = [
        ("p0", "1", None),
        ("p0", "2", "x"),
        ("p1", "2024-01-05", None),
    ]
    spark.createDataFrame(rows, "part string, a string, b string").write.parquet(src)
    rc, summary, _ = _run_cli(
        capsys,
        ["profile", "--input", src, "--infer-types", "a,b",
         "--null-patterns", "a,b"],
    )
    assert rc == 0
    ti = {(s["part"], s["column"]): s["inferred"]
          for s in summary["type_inference"]["sample"]}
    assert ti == {
        ("p0", "a"): "bigint",
        ("p0", "b"): "string",
        ("p1", "a"): "date",
        ("p1", "b"): "empty",
    }
    np_ = {(s["part"], s["pattern"]): s["n_rows"]
           for s in summary["null_patterns"]["sample"]}
    assert np_ == {("p0", "b"): 1, ("p0", "none"): 1, ("p1", "b"): 1}


def test_profile_cli_operator_errors_exit_2(tmp_path_factory, capsys):
    rc, _, err = _run_cli(capsys, ["profile", "--input", "x"])
    assert rc == 2 and "nothing to profile" in err
    rc, _, err = _run_cli(
        capsys, ["profile", "--input", "x", "--mi", "langsource"]
    )
    assert rc == 2 and "expected x~y" in err


def test_profile_cli_missing_column_exit_2(spark, tmp_path_factory, capsys):
    src = str(tmp_path_factory.mktemp("prof2") / "t")
    spark.createDataFrame(
        [("p0", "en")], "part string, lang string"
    ).write.parquet(src)
    rc, _, err = _run_cli(
        capsys, ["profile", "--input", src, "--categorical", "nope"]
    )
    assert rc == 2 and "profile:" in err


# --------------------------------------------------------- schema section


def test_schema_section_builds_declared_structtype(spark):
    from pyspark.sql import types as T

    suite = suite_from_config(
        {
            "schema": [
                {"name": "image_id", "type": "string", "nullable": False},
                {"name": "w", "type": "int"},
                {"name": "embedding", "type": "array<float>"},
            ]
        }
    )
    s = suite.declared_schema
    assert isinstance(s, T.StructType)
    assert [f.name for f in s.fields] == ["image_id", "w", "embedding"]
    assert s.fields[0].nullable is False and s.fields[1].nullable is True
    assert s.fields[2].dataType == T.ArrayType(T.FloatType())


def test_schema_section_rejects_bad_entries(spark):
    with pytest.raises(ValueError, match="bad type"):
        suite_from_config({"schema": [{"name": "w", "type": "integerz"}]})
    with pytest.raises(ValueError, match="non-empty array"):
        suite_from_config({"schema": []})
    with pytest.raises(ValueError, match="nullable must be"):
        suite_from_config(
            {"schema": [{"name": "w", "type": "int", "nullable": "no"}]}
        )
    # the raw dataclass field stays programmatic-only
    with pytest.raises(ValueError, match="live Python objects"):
        suite_from_config({"declared_schema": [{"name": "w", "type": "int"}]})


def test_run_config_schema_mismatch_fails_run(spark, tmp_path_factory, capsys):
    """CLI e2e: a config declaring a column the fixture lacks must
    FAIL the schema verdict and exit 1."""
    fx = str(tmp_path_factory.mktemp("schfx"))
    out = str(tmp_path_factory.mktemp("schout"))
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "64", "--parts", "2", "--out", fx]
    )
    assert rc == 0
    cfg = {
        "check_drift": False,
        "schema": [
            {"name": "image_id", "type": "string"},
            {"name": "bytes", "type": "binary"},
            {"name": "w", "type": "int"},
            {"name": "h", "type": "int"},
            {"name": "fmt", "type": "string"},
            {"name": "caption", "type": "string"},
            {"name": "phash", "type": "long"},
            {"name": "part", "type": "string"},
            {"name": "exif_json", "type": "string"},   # not in the fixture
        ],
    }
    cfg_path = tmp_path_factory.mktemp("schcfg") / "suite.json"
    cfg_path.write_text(json.dumps(cfg))
    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", out, "--config", str(cfg_path)],
    )
    assert rc == 1
    assert summary["schema_mismatches"] >= 1
    verdicts = spark.read.parquet(f"{out}/verdicts")
    schema_v = verdicts.filter(F.col("constraint") == "schema").collect()
    assert schema_v and all(r["verdict"] == "FAIL" for r in schema_v)


# ---------------------------------------------- loud-rejection fuzz
# the config contract is "ValueError or a built suite, never a raw
# TypeError/KeyError traceback"; hypothesis throws JSON-shaped garbage
# at every section to hold it.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SCALAR = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-5, max_value=5),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=6),
)
_JSONISH = st.recursive(
    _SCALAR,
    lambda ch: st.one_of(
        st.lists(ch, max_size=3),
        st.dictionaries(st.text(max_size=10), ch, max_size=3),
    ),
    max_leaves=6,
)
_KNOWN_KEYS = st.sampled_from([
    "not_null", "unique_key", "check_decode", "decode_seed", "phash_k",
    "domain_checks", "compliance", "type_conformance", "freshness",
    "correlation_bounds", "mutual_info_bounds", "distinctness_bounds",
    "categorical_bounds", "benford_bounds", "drift_specs",
    "sequence_continuity", "functional_dependencies", "schema",
    "bit_balance_bounds", "decode_sample_rate", "topk_violations",
])


@given(
    cfg=st.dictionaries(
        st.one_of(_KNOWN_KEYS, st.text(max_size=8)), _JSONISH, max_size=3
    )
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_config_loader_rejects_loudly_or_builds(spark, cfg):
    from bigdime_spark.plans.suite import ValidationSuite

    try:
        suite = suite_from_config(cfg)
    except ValueError:
        return
    assert isinstance(suite, ValidationSuite)
