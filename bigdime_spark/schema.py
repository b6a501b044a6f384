"""Declared schemas + the schema validators (SURVEY.md §2 B14).

The reference keeps a declared schema in an external metadata store
(Metasegment→Entitee→Attribute) and validates the landed Hive table
against it with ColumnCount / ColumnType / ColumnOrder validators
(BASELINE.json:6 "column-type ... validators"; upstream module
``bigdime-data-validation``, source unavailable — SURVEY.md §0).
Here the declared schema is a ``StructType`` and validation is a
driver-side structural diff — no Spark job is needed or run.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

#: image+caption table schema, fixed verbatim by BASELINE.json:15 (input_hint)
IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

#: partition column (Iceberg identity partition; unit of verdicts/lineage/resume)
PART_COL = "part"

IMAGE_SCHEMA_PARTITIONED = T.StructType(
    list(IMAGE_SCHEMA.fields) + [T.StructField(PART_COL, T.StringType(), False)]
)

#: non-binary columns — the stats pass must never touch `bytes` (SURVEY B0b)
STATS_COLUMNS = ["image_id", "w", "h", "fmt", "caption", "phash"]

#: manifest = the "expected" side of RecordCount/Checksum validators,
#: playing the role of the reference's source-side event headers
#: (record count / checksum stamped by the source handler).
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType(), False),
        T.StructField("expected_rows", T.LongType(), True),
        T.StructField("expected_xor", T.LongType(), True),
        T.StructField("expected_sum", T.DecimalType(38, 0), True),
    ]
)

#: common violations schema (SURVEY B24; BASELINE.json:6 "one row per
#: failed constraint with partition lineage")
VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("constraint", T.StringType(), False),
        T.StructField("part", T.StringType(), True),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("column", T.StringType(), True),
        T.StructField("detail", T.StringType(), True),
        T.StructField("snapshot", T.StringType(), True),
    ]
)

#: verdict rows, one per (part × constraint) — verdict enum mirrors the
#: reference's ValidationResult {PASSED, FAILED, INCOMPLETE_SETUP, NOT_READY}
VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("part", T.StringType(), False),
        T.StructField("constraint", T.StringType(), False),
        T.StructField("verdict", T.StringType(), False),
        T.StructField("observed", T.StringType(), True),
        T.StructField("expected", T.StringType(), True),
    ]
)

PASS = "PASS"
FAIL = "FAIL"
SKIPPED_CONFIG = "SKIPPED_CONFIG"  # reference: INCOMPLETE_SETUP
NOT_READY = "NOT_READY"

#: lineage/metrics table (SURVEY B26; BASELINE.json:6,14 — per-partition
#: rows-scanned / violations / wall-time, resume skip-list)
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # VALIDATED | FAILED
        T.StructField("rows_scanned", T.LongType(), True),
        T.StructField("violations", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)


@dataclass(frozen=True)
class SchemaViolation:
    kind: str  # column_count | column_missing | column_extra | column_type | column_order | nullability
    column: str
    detail: str


def diff_schema(
    declared: T.StructType,
    actual: T.StructType,
    check_order: bool = True,
    check_nullability: bool = False,
) -> list[SchemaViolation]:
    """ColumnCount + ColumnType + ColumnOrder validators as one diff.

    Pure driver-side: compares ``df.schema`` against the declared
    StructType, returns one violation per mismatch (SURVEY B14).

    ``check_nullability`` is opt-in because Spark's parquet reader
    reports every column nullable regardless of writer metadata — a
    NOT-NULL diff against a parquet-backed DataFrame is always a
    false positive (observed; the actual null *content* check is the
    not_null validator's job, which is data- not metadata-based).
    """
    out: list[SchemaViolation] = []
    dec = {f.name: (i, f) for i, f in enumerate(declared.fields)}
    act = {f.name: (i, f) for i, f in enumerate(actual.fields)}
    if len(declared.fields) != len(actual.fields):
        out.append(
            SchemaViolation(
                "column_count",
                "*",
                f"declared {len(declared.fields)} columns, actual {len(actual.fields)}",
            )
        )
    for name, (i, f) in dec.items():
        if name not in act:
            out.append(SchemaViolation("column_missing", name, "declared column absent"))
            continue
        j, g = act[name]
        if f.dataType != g.dataType:
            out.append(
                SchemaViolation(
                    "column_type",
                    name,
                    f"declared {f.dataType.simpleString()}, actual {g.dataType.simpleString()}",
                )
            )
        if check_order and i != j:
            out.append(
                SchemaViolation("column_order", name, f"declared ordinal {i}, actual {j}")
            )
        if check_nullability and not f.nullable and g.nullable:
            out.append(
                SchemaViolation("nullability", name, "declared NOT NULL, actual nullable")
            )
    for name in act:
        if name not in dec:
            out.append(SchemaViolation("column_extra", name, "column not in declared schema"))
    return out


# ----------------------------------------------------------------------
# C59: cross-run schema evolution (the run axis B14 cannot see)


def schema_fingerprint(df):
    """The frame's observed schema as DATA: one row per column,
    (ordinal int, column string, dtype string). Driver-side by
    definition (a schema is metadata); nullability is deliberately
    omitted — parquet reads back fully-nullable, so it carries no
    cross-run signal (the same reason ``diff_schema`` defaults
    ``check_nullability=False``).

    The CLI ``run`` writes this run_id-stamped to ``<out>/schema``;
    many runs' frames union into exactly the history
    :func:`schema_history` consumes — the schema-level twin of the
    stats/verdicts history surfaces."""
    from pyspark.sql import SparkSession

    from bigdime_spark.operators.base import local_frame

    spark = SparkSession.getActiveSession() or df.sparkSession
    rows = [(i, f, t) for i, (f, t) in enumerate(df.dtypes)]
    return local_frame(spark, rows, "ordinal int, column string, dtype string")


def schema_history(history):
    """Cross-run SCHEMA evolution profile — the validator B14 cannot
    be: B14 diffs one run against the DECLARED contract; this diffs
    the observed schema against its own HISTORY, so undeclared
    producer evolution (a column quietly added, dropped, retyped,
    reordered, or flapping in and out) surfaces even on tables nobody
    ever wrote a contract for.

    Input: a union of run_id-stamped :func:`schema_fingerprint`
    frames. → one row per column ever seen:
    (column, status, n_runs, first_run, last_run, latest_dtype,
    detail), status by precedence

        dropped > type_changed > intermittent > added > moved > stable

    - ``dropped``       — absent from the latest run.
    - ``type_changed``  — more than one dtype across its history.
    - ``intermittent``  — present in fewer runs than its first→last
      span covers (a column flapping in and out is a producer bug,
      not evolution).
    - ``added``         — first seen after the earliest run.
    - ``moved``         — ordinal differs between first and last
      appearance (B14's order validator, on the run axis).
    - ``stable``        — everything else.

    With a single run in the history every column is trivially
    ``stable`` (nothing to compare). Run order is lexicographic
    run_id (the engine-wide sortable-id contract); duplicate
    (run_id, column) rows are refused loudly. Plan: everything is
    runs × columns sized — one hash agg per column, a broadcast join
    against the ranked run list, pure column arithmetic."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for col in ("run_id", "ordinal", "column", "dtype"):
        if col not in history.columns:
            raise ValueError(
                f"schema_history: history frame has no {col!r} column — "
                "pass a union of run_id-stamped schema_fingerprint frames"
            )
    guard = history.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct("run_id", "column")).alias("d"),
    ).first()
    if guard["n"] == 0:
        raise ValueError("schema_history: empty history")
    if guard["n"] != guard["d"]:
        raise ValueError(
            f"schema_history: {guard['n']} rows over {guard['d']} "
            "distinct (run_id, column) keys — duplicate fingerprints "
            "per run make the evolution ambiguous"
        )
    runs = history.select("run_id").distinct()
    # single-partition window is CORRECT here: the frame is runs-sized
    ranked = runs.withColumn(
        "rk", F.row_number().over(Window.orderBy("run_id"))
    )
    bounds = ranked.agg(
        F.min("run_id").alias("min_run"), F.max("run_id").alias("max_run")
    )
    per = history.groupBy("column").agg(
        F.count_distinct("run_id").alias("n_runs"),
        F.min("run_id").alias("first_run"),
        F.max("run_id").alias("last_run"),
        F.count_distinct("dtype").alias("n_dtypes"),
        F.max_by("dtype", "run_id").alias("latest_dtype"),
        F.min_by("ordinal", "run_id").alias("first_ordinal"),
        F.max_by("ordinal", "run_id").alias("last_ordinal"),
    )
    per = (
        per.join(
            F.broadcast(
                ranked.select(
                    F.col("run_id").alias("first_run"),
                    F.col("rk").alias("rk_first"),
                )
            ),
            "first_run",
        )
        .join(
            F.broadcast(
                ranked.select(
                    F.col("run_id").alias("last_run"),
                    F.col("rk").alias("rk_last"),
                )
            ),
            "last_run",
        )
        .crossJoin(F.broadcast(bounds))
    )
    span = F.col("rk_last") - F.col("rk_first") + 1
    status = (
        F.when(F.col("last_run") < F.col("max_run"), F.lit("dropped"))
        .when(F.col("n_dtypes") > 1, F.lit("type_changed"))
        .when(F.col("n_runs") < span, F.lit("intermittent"))
        .when(F.col("first_run") > F.col("min_run"), F.lit("added"))
        .when(
            F.col("first_ordinal") != F.col("last_ordinal"), F.lit("moved")
        )
        .otherwise(F.lit("stable"))
    )
    detail = (
        F.when(
            status == "dropped",
            F.concat(F.lit("last seen in "), F.col("last_run")),
        )
        .when(
            status == "type_changed",
            F.concat(
                F.lit("dtypes="),
                F.col("n_dtypes").cast("string"),
                F.lit(" latest="),
                F.col("latest_dtype"),
            ),
        )
        .when(
            status == "intermittent",
            F.concat(
                F.lit("seen "),
                F.col("n_runs").cast("string"),
                F.lit("/"),
                span.cast("string"),
                F.lit(" runs in span"),
            ),
        )
        .when(
            status == "added",
            F.concat(F.lit("first seen in "), F.col("first_run")),
        )
        .when(
            status == "moved",
            F.concat(
                F.lit("ordinal "),
                F.col("first_ordinal").cast("string"),
                F.lit(" -> "),
                F.col("last_ordinal").cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return per.select(
        "column",
        status.alias("status"),
        "n_runs",
        "first_run",
        "last_run",
        "latest_dtype",
        detail.alias("detail"),
    )


#: statuses that should fail a gated schema-history check (added/moved
#: are evolution to review, not breakage)
SCHEMA_BREAKING = ("dropped", "type_changed", "intermittent")
