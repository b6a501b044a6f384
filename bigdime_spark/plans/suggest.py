"""Constraint suggestion (C57 — deequ's ConstraintSuggestion): profile
a table once and emit a reviewable, ready-to-run suite config — the
discovery→declaration loop closer. C38 consumes a reviewed JSON
config; C42/C40/C43 discover profiles; this module turns the profile
into the config, with every suggestion carrying the evidence that
produced it, so the human review step is "read and prune", not "write
from scratch".

Rules (deterministic — identical inputs give byte-identical configs,
and each replays as plain SQL in the driver-contract oracle):

- R1 ``not_null``       — the column has zero NULLs.
- R2 ``compliance``     — null rate in (0, tol_null]: suggest
  ``c IS NOT NULL`` with min_fraction = the observed non-null rate
  floored to 2 decimals (a tolerance that admits today's dirt and
  pages on worse — deequ's hasCompleteness suggestion).
- R3 ``unique``         — zero NULLs and distinct == rows (≥ 2 rows):
  a key candidate; `to_config` promotes the lexicographically first
  one to ``unique_key``.
- R4 ``domain_check c >= 0`` — declared-numeric column whose observed
  min is ≥ 0 (deequ's isNonNegative; the observed-range form is
  deliberately NOT suggested — exact min/max bounds overfit one
  snapshot).
- R5 ``domain_check c IN (...)`` — string column with 1 ≤ distinct
  non-null values ≤ max_values AND rows ≥ 10× distinct (a genuine
  categorical, not a small table of free text). Values sorted, quotes
  escaped by doubling.
- R6 ``type_conformance`` — string column whose every non-null value
  try_casts to bigint (or, failing that, to double): the column is a
  stringly-typed number; suggest the declared-type check (B11).
- R7 ``drift_spec`` — declared-numeric column with a finite observed
  range: suggest the B18/B19 histogram spec with lo = floor(min),
  hi = ceil(max) (hi bumped by 1 when the rounding collapses them),
  nbins 32 — the binning a drift check needs declared up front,
  derived from the data instead of guessed. Unlike R4, widening to
  whole numbers is deliberate: bin EDGES are layout, not a bound, so
  a snapshot-exact range would only shift buckets run over run.
- R9 ``grouped_bound`` — for every (R5 enum dim × dirty column) pair
  (dirty = null rate in (0, tol_null], the R2 set): bound the
  PER-GROUP null rate at the worst observed rate AT THE GATE'S OWN
  granularity — (part, group) when the table has a part column, else
  (group) — ceil'd to 2 decimals (groups under ``min_support``
  ignored — same currency as R5's support gate). The grouped twin of R2: compliance admits
  today's overall dirt, this pins WHERE it may sit, so a producer
  concentrating the same rate into one segment pages (C72).
- R10 ``caption_quality`` / ``caption_lang`` — a string column
  literally named 'caption' (the image-table schema) gets its C75/C76
  contract derived from the data: mean quality_score lo-bounded at the
  worst PART's mean (floored to 2 decimals), predicted-'und' share
  hi-bounded at the worst part's share (ceil'd) — per-part bounds for
  per-part gates, the same granularity rule as R2/R9.
- R8 ``domain_check length(c) <= B`` — string column with non-null
  values: B = the next power of two ≥ the observed max length
  (deequ's hasMaxLength, widened so ordinary growth doesn't page —
  a caption column jumping past double its historical bound is a
  producer change, not growth).

Scale posture (the 10^12-row story):

- Pass 1 is ONE scan + ONE Expand-free two-level aggregation: columns
  melt row-locally to (column, value-as-string) structs, level 1
  groups by (column, value) — so try_cast runs once per DISTINCT
  value, not per row — and level 2 folds (column)-level counts.
  Multiple ``count_distinct`` columns in one flat agg would plan as
  an Expand (input × #columns rows); the melt pays the same row
  multiplication but gets distinct counts, castability AND numeric
  min from one hash-shuffle pipeline with map-side partials.
- Pass 2 (value capture for R5) runs ONLY when some column passed the
  low-cardinality gate, and scans ONLY those columns (parquet column
  pruning) — collect_set state is bounded by max_values per column by
  construction.
- Rule evaluation is driver-side over the #columns-row pass-1 result
  (a bounded collect, like every parts-sized summary in this engine).

Long-text / binary / nested columns: binary and complex types are
excluded automatically (casting bytes to string is lossy and a
groupBy on payload bytes is never the right plan); pass ``columns=``
to additionally skip long-text columns where distinct-profiling a
10^12-row corpus is not worth one shuffle of the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdime_spark.operators.base import local_frame

#: source dtypes the profiler refuses to melt (lossy/meaningless as
#: string group keys)
_SKIP_DTYPE_PREFIXES = ("binary", "array", "map", "struct")
_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)

SUGGESTION_SCHEMA = (
    "column string, check string, params string, "
    "n_rows bigint, n_null bigint, n_distinct bigint"
)


def _profilable(df: DataFrame, columns) -> list[str]:
    dtypes = dict(df.dtypes)
    explicit = columns is not None
    out = []
    for c in (columns if explicit else df.columns):
        if c not in dtypes:
            raise ValueError(f"suggest: column {c!r} not in frame")
        if dtypes[c].startswith(_SKIP_DTYPE_PREFIXES):
            if explicit:
                # explicitly requested but unprofilable — refuse loudly
                raise ValueError(
                    f"suggest: column {c!r} has unprofilable type "
                    f"{dtypes[c]!r} (binary/nested)"
                )
        else:
            out.append(c)
    if not out:
        raise ValueError("suggest: no profilable columns")
    return out


def _pass1(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, n_rows, n_null, n_distinct, n_bigint, n_double,
    min_num) via the melt → (column, value) → (column) two-level agg.
    n_distinct counts distinct NON-NULL values (the R3/R5 currency);
    castability counts weight each distinct value by its row count."""
    structs = [
        F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("v"))
        for c in cols
    ]
    melted = df.select(F.explode(F.array(*structs)).alias("mv")).select(
        "mv.column", "mv.v"
    )
    lvl1 = melted.groupBy("column", "v").agg(F.count(F.lit(1)).alias("cnt"))
    v = F.col("v")
    as_big = F.expr("try_cast(v AS bigint)").isNotNull()
    as_dbl = F.expr("try_cast(v AS double)").isNotNull()
    return lvl1.groupBy("column").agg(
        F.sum("cnt").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(v.isNull(), F.col("cnt"))), F.lit(0)
        ).alias("n_null"),
        F.count_if(v.isNotNull()).alias("n_distinct"),
        F.coalesce(
            F.sum(F.when(v.isNotNull() & as_big, F.col("cnt"))), F.lit(0)
        ).alias("n_bigint"),
        F.coalesce(
            F.sum(F.when(v.isNotNull() & as_dbl, F.col("cnt"))), F.lit(0)
        ).alias("n_double"),
        F.min(_finite_num()).alias("min_num"),
        F.max(_finite_num()).alias("max_num"),
        F.max(F.length("v")).alias("max_len"),
    )


def _finite_num():
    """try_cast(v AS double) with NaN/Inf excluded — min/max over a
    column containing 'NaN' strings would otherwise diverge between
    engines (Spark sorts NaN greatest; DuckDB's min skips it)."""
    d = F.expr("try_cast(v AS double)")
    return F.when(~F.isnan(d) & (F.abs(d) != float("inf")), d)


def _quote(val: str) -> str:
    """Spark SQL string literal: backslashes doubled FIRST (Spark's
    parser processes backslash escapes inside literals, unlike ANSI
    engines), then quotes doubled. The driver-contract oracle only
    replays the quote-doubling — its fixture data carries no
    backslashes, and the predicate strings are Spark SQL by contract
    (they exist to be fed to F.expr via the config loader)."""
    return "'" + val.replace("\\", "\\\\").replace("'", "''") + "'"


def _ident(c: str) -> str:
    """Backtick-quoted identifier: parquet legally allows column names
    with spaces, hyphens or reserved words; an unquoted interpolation
    would make the generated config crash at load time."""
    return "`" + c.replace("`", "``") + "`"


def suggest_constraints(
    df: DataFrame,
    columns: list[str] | None = None,
    max_values: int = 10,
    tol_null: float = 0.05,
    min_support: int = 10,
) -> list[dict]:
    """Run the profile passes and the R1–R6 rules; → list of
    suggestion dicts (column, check, params, n_rows, n_null,
    n_distinct), deterministically ordered by (column, check)."""
    if not (0.0 < tol_null < 1.0):
        raise ValueError(f"tol_null must be in (0, 1), got {tol_null}")
    if max_values < 1:
        raise ValueError(f"max_values must be >= 1, got {max_values}")
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    dtypes = dict(df.dtypes)
    cols = _profilable(df, columns)
    prof = {r["column"]: r for r in _pass1(df, cols).collect()}

    # pass 2: value sets for R5-gated columns only (column-pruned scan)
    gated = sorted(
        c
        for c in cols
        if dtypes[c] == "string"
        and c in prof
        and prof[c]["n_distinct"] >= 1
        and prof[c]["n_distinct"] <= max_values
        and prof[c]["n_rows"] >= min_support * prof[c]["n_distinct"]
    )
    values: dict[str, list[str]] = {}
    if gated:
        sets = df.select(
            *[
                F.sort_array(F.collect_set(F.col(c))).alias(c)
                for c in gated
            ]
        ).first()
        values = {c: list(sets[c]) for c in gated}

    # pass 3 (R9): worst per-group null rate for every (enum dim ×
    # dirty column) pair — the grouped twin of R2: the part-level
    # compliance bound admits today's dirt, the grouped bound pins
    # WHERE that dirt may sit, so a producer concentrating the same
    # overall rate into one segment pages. One melted scan (dims
    # explode, targets ride as columns), one hash agg, output sized
    # Σ dim cardinalities.
    dirty = sorted(
        c
        for c in cols
        if c in prof
        and prof[c]["n_rows"] > 0
        and 0 < prof[c]["n_null"]
        and prof[c]["n_null"] / prof[c]["n_rows"] <= tol_null
    )
    dims = sorted(g for g in values if g not in dirty)
    grouped_hi: dict[tuple[str, str], float] = {}
    part_null_hi: dict[str, float] = {}
    # GroupedBound gates per (part, group) and Compliance gates per
    # part — the suggested bounds must be the worst rate at the GATE'S
    # granularity or the round-trip invariant breaks (a part-local
    # segment can exceed the table-wide worst). Tables without a part
    # column profile at (group) alone.
    part_keys = ["part"] if "part" in df.columns else []
    if dirty and (dims or part_keys):
        structs = [
            F.struct(F.lit(g).alias("dim"), F.col(g).cast("string").alias("gv"))
            for g in dims
        ]
        carry = sorted(set(dirty) | set(part_keys))
        if part_keys:
            # sentinel dim (the C69 trick): per-PART rates for the
            # dirty columns ride the same scan — R2's min_fraction must
            # be the worst PART's fraction for the same reason R9 uses
            # (part, group): compliance gates per part
            structs = structs + [
                F.struct(F.lit("__part__").alias("dim"), F.lit("").alias("gv"))
            ]
        per_group = (
            df.select(*carry, F.explode(F.array(*structs)).alias("mg"))
            .groupBy(*part_keys, "mg.dim", "mg.gv")
            .agg(
                F.count(F.lit(1)).alias("gn"),
                *[
                    (F.count_if(F.col(t).isNull()) / F.count(F.lit(1))).alias(t)
                    for t in dirty
                ],
            )
            .filter(
                (F.col("gn") >= min_support) | (F.col("dim") == "__part__")
            )
            .collect()
        )
        import math

        for row in per_group:
            for t in dirty:
                if row["dim"] == "__part__":
                    part_null_hi[t] = max(part_null_hi.get(t, 0.0), row[t])
                    continue
                key = (t, row["dim"])
                grouped_hi[key] = max(grouped_hi.get(key, 0.0), row[t])
        # round before ceil: 0.1·100 is 10.000000000000002 in floats,
        # which would ceil a clean 10% rate to an off-by-one 0.11 bound
        grouped_hi = {
            k: min(1.0, math.ceil(round(v * 100, 6)) / 100)
            for k, v in grouped_hi.items()
        }

    # pass 4 (R10): caption-gate bounds for an image-shaped table — a
    # string column literally named 'caption' (the BASELINE.json:15
    # schema) gets its C75/C76 contract derived from the data: mean
    # quality_score floored at the worst part, predicted-'und' share
    # ceil'd at the worst part (the gates evaluate per part, so the
    # bounds must too — the R2/R9 granularity lesson). One extra
    # column-pruned agg; skipped entirely when no caption column.
    caption_bounds: dict[str, float] = {}
    if "caption" in cols and dtypes.get("caption") == "string":
        import math

        from bigdime_spark.functions.text import predicted_lang, quality_metrics

        cap = F.col("caption")
        q = quality_metrics(cap)["quality_score"].cast("double")
        keys = ["part"] if "part" in df.columns else []
        per_part = (
            df.groupBy(*keys)
            .agg(
                F.avg(F.when(cap.isNotNull(), q)).alias("mq"),
                F.count_if(
                    cap.isNotNull() & (predicted_lang(cap) == "und")
                ).alias("k_und"),
                F.count_if(cap.isNotNull()).alias("n_cap"),
            )
            .collect()
        )
        mqs = [r["mq"] for r in per_part if r["mq"] is not None]
        shares = [
            r["k_und"] / r["n_cap"] for r in per_part if r["n_cap"] > 0
        ]
        if mqs:
            caption_bounds["quality_lo"] = max(
                0.0, math.floor(round(min(mqs) * 100, 6)) / 100
            )
        if shares:
            caption_bounds["und_hi"] = min(
                1.0, math.ceil(round(max(shares) * 100, 6)) / 100
            )

    out: list[dict] = []

    def emit(c: str, check: str, params: str) -> None:
        p = prof[c]
        out.append(
            {
                "column": c,
                "check": check,
                "params": params,
                "n_rows": p["n_rows"],
                "n_null": p["n_null"],
                "n_distinct": p["n_distinct"],
            }
        )

    for c in cols:
        # a zero-row table produces no profile rows at all — nothing
        # to suggest (never a KeyError)
        p = prof.get(c)
        if p is None or p["n_rows"] == 0:
            continue
        n, nn = p["n_rows"], p["n_rows"] - p["n_null"]
        if p["n_null"] == 0:
            emit(c, "not_null", "")
        else:
            null_rate = p["n_null"] / n
            if null_rate <= tol_null:
                # the gate evaluates PER PART — bound at the worst
                # part's fraction when the table has parts (falls back
                # to the overall rate otherwise); floor to 2 decimals:
                # admits today's dirt, pages on worse
                worst = part_null_hi.get(c, null_rate)
                mf = int((1.0 - worst) * 100) / 100
                if mf > 0:
                    emit(
                        c,
                        "compliance",
                        f"{_ident(c)} IS NOT NULL|min_fraction={mf}",
                    )
        if p["n_null"] == 0 and p["n_distinct"] == n and n >= 2:
            emit(c, "unique", "")
        if (
            dtypes[c].startswith(_NUMERIC_PREFIXES)
            and p["min_num"] is not None
            and p["min_num"] >= 0
        ):
            emit(c, "domain_check", f"{_ident(c)} >= 0")
        if c in values:
            vals = ",".join(_quote(x) for x in values[c])
            emit(c, "domain_check", f"{_ident(c)} IN ({vals})")
        if dtypes[c] == "string" and nn > 0 and c not in values:
            if p["n_bigint"] == nn:
                emit(c, "type_conformance", "bigint")
            elif p["n_double"] == nn:
                emit(c, "type_conformance", "double")
        if (
            dtypes[c].startswith(_NUMERIC_PREFIXES)
            and p["min_num"] is not None
            and p["max_num"] is not None
        ):
            import math

            lo = float(math.floor(p["min_num"]))
            hi = float(math.ceil(p["max_num"]))
            if hi <= lo:
                hi = lo + 1.0
            emit(c, "drift_spec", f"lo={lo}|hi={hi}|nbins=32")
        if dtypes[c] == "string" and nn > 0 and p["max_len"] is not None:
            b = 1 << max(0, int(p["max_len"]) - 1).bit_length()
            emit(c, "domain_check", f"length({_ident(c)}) <= {b}")
        for (t, g), hi in sorted(grouped_hi.items()):
            if t == c:
                emit(
                    c,
                    "grouped_bound",
                    f"group_by={g}|metric=null_rate|hi={hi}"
                    f"|min_support={min_support}",
                )
        if c == "caption":
            if "quality_lo" in caption_bounds:
                emit(
                    c,
                    "caption_quality",
                    f"metric=quality_score|lo={caption_bounds['quality_lo']}",
                )
            if "und_hi" in caption_bounds:
                emit(
                    c,
                    "caption_lang",
                    f"lang=und|hi={caption_bounds['und_hi']}",
                )

    out.sort(key=lambda s: (s["column"], s["check"], s["params"]))
    return out


def suggestions_frame(spark: SparkSession, suggestions: list[dict]) -> DataFrame:
    """Suggestions as a DataFrame in SUGGESTION_SCHEMA order (the
    driver-contract shape)."""
    rows = [
        (
            s["column"], s["check"], s["params"],
            s["n_rows"], s["n_null"], s["n_distinct"],
        )
        for s in suggestions
    ]
    return local_frame(spark, rows, SUGGESTION_SCHEMA)


def to_config(suggestions: list[dict]) -> dict:
    """Assemble the suggestions into a `suite_from_config`-ready JSON
    document. Deterministic: sorted inputs produce a byte-stable
    config. The unique-key promotion takes the lexicographically
    first R3 candidate (all candidates stay visible in the
    suggestions frame for the reviewer)."""
    cfg: dict = {}
    not_null = [s["column"] for s in suggestions if s["check"] == "not_null"]
    if not_null:
        cfg["not_null"] = sorted(not_null)
    uniques = sorted(
        s["column"] for s in suggestions if s["check"] == "unique"
    )
    if uniques:
        cfg["unique_key"] = uniques[0]
    domain = []
    for s in suggestions:
        if s["check"] == "domain_check":
            kind = (
                "nonneg"
                if s["params"].endswith(">= 0")
                else "maxlen"
                if s["params"].startswith("length(")
                else "isin"
            )
            domain.append(
                {
                    "name": f"{s['column']}_{kind}",
                    "column": s["column"],
                    "predicate": s["params"],
                }
            )
    if domain:
        cfg["domain_checks"] = domain
    comp = []
    for s in suggestions:
        if s["check"] == "compliance":
            pred, mf = s["params"].rsplit("|min_fraction=", 1)
            comp.append(
                {
                    "name": f"{s['column']}_mostly_present",
                    "column": s["column"],
                    "predicate": pred,
                    "min_fraction": float(mf),
                }
            )
    if comp:
        cfg["compliance"] = comp
    tc = [
        {"column": s["column"], "dtype": s["params"]}
        for s in suggestions
        if s["check"] == "type_conformance"
    ]
    if tc:
        cfg["type_conformance"] = tc
    drift = []
    for s in suggestions:
        if s["check"] == "drift_spec":
            parts = dict(kv.split("=", 1) for kv in s["params"].split("|"))
            drift.append(
                {
                    "column": s["column"],
                    "lo": float(parts["lo"]),
                    "hi": float(parts["hi"]),
                    "nbins": int(parts["nbins"]),
                }
            )
    if drift:
        cfg["drift_specs"] = drift
    gb = []
    for s in suggestions:
        if s["check"] == "grouped_bound":
            parts = dict(kv.split("=", 1) for kv in s["params"].split("|"))
            gb.append(
                {
                    "target": s["column"],
                    "group_by": parts["group_by"],
                    "metric": parts["metric"],
                    "hi": float(parts["hi"]),
                    "min_support": int(parts["min_support"]),
                }
            )
    if gb:
        cfg["grouped_bounds"] = gb
    cq = []
    cl = []
    for s in suggestions:
        if s["check"] not in ("caption_quality", "caption_lang"):
            continue
        parts = dict(kv.split("=", 1) for kv in s["params"].split("|"))
        if s["check"] == "caption_quality":
            cq.append(
                {
                    "metric": parts["metric"],
                    "lo": float(parts["lo"]),
                    "column": s["column"],
                }
            )
        elif s["check"] == "caption_lang":
            cl.append(
                {
                    "lang": parts["lang"],
                    "hi": float(parts["hi"]),
                    "column": s["column"],
                }
            )
    if cq:
        cfg["caption_quality_bounds"] = cq
    if cl:
        cfg["caption_lang_bounds"] = cl
    return cfg


def suggest_image_checks(df: DataFrame) -> dict:
    """Image-shaped tables (the BASELINE.json:15 schema) get the
    structural gate the generic column rules cannot see: payload
    conformance (B31) validates `bytes` against fmt/w/h inside the
    scan, zero extra passes. Decode (B20) is deliberately NOT
    auto-suggested — it pays the Arrow boundary per image, a
    nightly/weekly cadence choice the reviewer owns."""
    dtypes = dict(df.dtypes)
    need = {"bytes": "binary", "fmt": "string", "w": "int", "h": "int"}
    if all(dtypes.get(k) == t for k, t in need.items()):
        return {"check_payload_conformance": True}
    return {}
