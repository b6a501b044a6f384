"""Per-partition lineage + checkpoint/resume (SURVEY B26, B0c).

Reference analogue: ``RuntimeInfoStore`` rows, one per input unit,
lifecycle QUEUED → STARTED → VALIDATED/FAILED; restart skips units
already VALIDATED [public knowledge; BASELINE.json:14 "resumable from
checkpoint ... no re-validated partitions"].

Here the store is an append-only parquet/Iceberg table keyed by
``part``. Re-runs are idempotent: the *latest* status per part wins
(window row_number over run order). The resume scan filters the
input with ``~part.isin(done)`` — an IN-filter on the partition
column, which both parquet and Iceberg turn into partition pruning
(no data files of validated partitions are opened at all).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdime_spark.operators.base import local_frame
from bigdime_spark.schema import LINEAGE_SCHEMA

VALIDATED = "VALIDATED"
FAILED = "FAILED"


class LineageStore:
    def __init__(self, path: str):
        self.path = path

    def exists(self) -> bool:
        return os.path.isdir(self.path) and bool(os.listdir(self.path))

    def read(self, spark: SparkSession) -> DataFrame:
        if not os.path.isdir(self.path):
            return local_frame(spark, [], LINEAGE_SCHEMA)
        try:
            return spark.read.parquet(self.path)
        except Exception:
            return local_frame(spark, [], LINEAGE_SCHEMA)

    def append(self, lineage: DataFrame) -> None:
        (
            lineage.withColumn("_ingested_ms", F.lit(int(time.time() * 1000)))
            .write.mode("append")
            .parquet(self.path)
        )

    def validated_parts(self, spark: SparkSession) -> DataFrame:
        """Parts whose LATEST recorded status is VALIDATED → skip list."""
        lin = self.read(spark)
        if "_ingested_ms" not in lin.columns:
            lin = lin.withColumn("_ingested_ms", F.lit(0))
        latest = Window.partitionBy("part").orderBy(
            F.desc("_ingested_ms"), F.desc("run_id")
        )
        return (
            lin.withColumn("_rn", F.row_number().over(latest))
            .filter((F.col("_rn") == 1) & (F.col("status") == VALIDATED))
            .select("part")
        )


def part_diff(
    prev: DataFrame,
    cur: DataFrame,
    part_col: str = "part",
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Cross-RUN part-level diff over two persisted per-part metric
    frames (stats, lineage metrics, checksum summaries) →
    ``(part, status, changed_cols)`` with status ∈ {added, removed,
    changed, unchanged} relative to ``prev``.

    The incremental-validation planner's input: at 10^12 rows a
    nightly run must not rescan yesterday's 40k unchanged partitions,
    and "unchanged" is decidable from metadata alone — the suite
    already persists per-part (rows, checksum, stats) every run, so
    diffing two PARTS-sized frames costs zero data rescans at any
    corpus size. ``changed_cols`` lists which metrics moved
    (declaration order, csv) for changed parts, NULL otherwise.

    ``compare_cols`` defaults to every column the two frames share
    (minus the part key); comparison is null-safe (a NULL metric on
    both sides is equal, NULL vs value is a change)."""
    if compare_cols is None:
        compare_cols = [
            c for c in prev.columns if c != part_col and c in cur.columns
        ]
    if not compare_cols:
        raise ValueError("part_diff: no shared columns to compare")
    a = prev.select(
        part_col,
        *[F.col(c).alias(f"a__{c}") for c in compare_cols],
        F.lit(True).alias("_in_a"),
    )
    b = cur.select(
        part_col,
        *[F.col(c).alias(f"b__{c}") for c in compare_cols],
        F.lit(True).alias("_in_b"),
    )
    j = a.join(b, part_col, "full_outer")
    diffs = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"a__{c}").eqNullSafe(F.col(f"b__{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(F.col("_in_a").isNull(), F.lit("added"))
        .when(F.col("_in_b").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        part_col,
        status.alias("status"),
        F.when(status == "changed", F.array_join(diffs, ",")).alias(
            "changed_cols"
        ),
    )


def plan_incremental(
    prev: DataFrame,
    cur: DataFrame,
    part_col: str = "part",
    compare_cols: list[str] | None = None,
) -> dict[str, list[str]]:
    """Driver-side incremental-run plan from :func:`part_diff`:
    ``to_validate`` = added + changed parts (feed ``run --parts``),
    ``removed`` = parts gone from the current snapshot (surfaced, not
    silently dropped). The collect is parts-sized — bounded by
    partition count, never row count."""
    d = part_diff(prev, cur, part_col, compare_cols)
    rows = d.filter(F.col("status") != "unchanged").collect()
    return {
        "to_validate": sorted(
            r[part_col] for r in rows if r["status"] in ("added", "changed")
        ),
        "removed": sorted(r[part_col] for r in rows if r["status"] == "removed"),
    }


def apply_resume_filter(df: DataFrame, done_parts: list[str]) -> DataFrame:
    """IN-list filter on the partition column → partition pruning.

    The done-list is collected to the driver deliberately: it is one
    string per partition (bounded — partitions, not rows), and a
    literal IN filter is the form Catalyst/Iceberg prune on. The
    anti-join alternative (B0c) would shuffle the full input."""
    if not done_parts:
        return df
    return df.filter(~F.col("part").isin(done_parts))


def duplicate_parts(
    metrics: DataFrame,
    part_col: str = "part",
    compare_cols: list[str] | None = None,
    max_sample: int = 20,
) -> DataFrame:
    """Partitions whose per-part metric vectors are IDENTICAL — the
    double-write screen: a producer that lands the same data under two
    partition labels (a restated day, a retried writer with a new
    label) passes every row-level check, yet the duplicate rows poison
    counts, drift baselines and training-set dedup downstream. Two
    parts sharing an identical (rows, checksum, stats...) vector are
    overwhelmingly the same bytes; like the Bloom referential screen,
    FAILs here are adjudicated with an exact follow-up (content diff /
    checksum re-run on just the flagged parts).

    Operates on the PARTS-sized metric frames the suite already
    persists every run (stats, lineage, checksum summaries) — zero
    rescans of the data at any table size. ``compare_cols=None``
    compares every non-part column. Grouping is null-safe (two parts
    both missing a metric still match — a NULL vector is itself a
    suspicious duplicate); one row per duplicate GROUP, parts sampled
    at ``max_sample`` sorted ascending, ``n_parts`` exact.

    → (n_parts, parts_csv, <compare_cols...>), groups with ≥2 parts
    only."""
    cols = (
        compare_cols
        if compare_cols is not None
        else [c for c in metrics.columns if c != part_col]
    )
    missing = [c for c in [part_col, *cols] if c not in metrics.columns]
    if missing:
        raise ValueError(f"duplicate_parts: frame has no columns {missing}")
    if not cols:
        raise ValueError("duplicate_parts: no metric columns to compare")
    w = Window.partitionBy(*cols).orderBy(part_col)
    return (
        metrics.withColumn("_rn", F.row_number().over(w))
        .groupBy(*cols)
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("_rn") <= max_sample,
                            F.col(part_col).cast("string"),
                        )
                    )
                ),
                ",",
            ).alias("parts_csv"),
        )
        .filter(F.col("n_parts") >= 2)
        .select("n_parts", "parts_csv", *cols)
    )


def verdict_history(verdicts: DataFrame) -> DataFrame:
    """Cross-run VERDICT history / flakiness profile over an
    accumulated verdicts table (one row per (run_id, part,
    constraint); the CLI stamps ``run_id`` on every written verdicts
    frame so runs concatenate into exactly this shape).

    → one row per (part, constraint): ``(part, constraint, n_runs,
    n_pass, n_fail, n_transitions, first_verdict, last_verdict,
    status)`` with status ∈

    - ``stable_pass`` / ``stable_fail`` / ``stable_other`` — the same
      verdict every run (other = NOT_READY/SKIPPED_CONFIG histories);
    - ``regressed`` — exactly one change, now FAIL (page someone);
    - ``recovered`` — exactly one change, now PASS (close the ticket);
    - ``changed`` — exactly one change, now neither (e.g. a check that
      went NOT_READY → PASS when its config landed);
    - ``flaky`` — two or more changes: the check flip-flops, which is
      an INFRASTRUCTURE signal (nondeterministic input, racing
      producer, marginal threshold) no single run can show.

    Run order is the lexicographic order of ``run_id`` — use sortable
    ids (timestamps, zero-padded counters). Duplicate (run_id, part,
    constraint) rows are refused loudly: transitions would depend on
    an arbitrary tie-break.

    Scale: the input is runs × parts × constraints — metadata-sized at
    any corpus size. One window pass (partitioned by (part,
    constraint) — never a single global partition) feeds one hash-agg
    on the same keys, so the whole profile is one key-sized shuffle.
    """
    from bigdime_spark.schema import FAIL as V_FAIL
    from bigdime_spark.schema import PASS as V_PASS

    required = ("run_id", "part", "constraint", "verdict")
    missing = [c for c in required if c not in verdicts.columns]
    if missing:
        raise ValueError(
            f"verdict_history: frame has no columns {missing} — pass "
            "an accumulated verdicts table (the CLI stamps run_id on "
            "every run's verdicts)"
        )
    # r6: persist the runs×parts×constraints-sized frame so the guard
    # job and the window/agg plan share one materialization.
    verdicts = verdicts.persist()
    guard = verdicts.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(
            F.struct("run_id", "part", "constraint")
        ).alias("d"),
    ).first()
    if guard["n"] != guard["d"]:
        raise ValueError(
            f"verdict_history: {guard['n']} rows over {guard['d']} "
            "distinct (run_id, part, constraint) keys — duplicate "
            "verdicts per run make transition counts order-ambiguous; "
            "filter to one row per key first"
        )
    w = Window.partitionBy("part", "constraint").orderBy("run_id")
    seq = verdicts.select("run_id", "part", "constraint", "verdict").withColumn(
        "_prev", F.lag("verdict").over(w)
    )
    hist = seq.groupBy("part", "constraint").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.count_if(F.col("verdict") == V_PASS).alias("n_pass"),
        F.count_if(F.col("verdict") == V_FAIL).alias("n_fail"),
        F.count_if(
            F.col("_prev").isNotNull() & (F.col("verdict") != F.col("_prev"))
        ).alias("n_transitions"),
        F.min_by("verdict", "run_id").alias("first_verdict"),
        F.max_by("verdict", "run_id").alias("last_verdict"),
    )
    # regressed/recovered demand the complementary verdict actually
    # occurred: NOT_READY → PASS is a config landing ("changed"), not a
    # recovery, and NOT_READY → FAIL never passed to regress from
    status = (
        F.when(F.col("n_transitions") >= 2, F.lit("flaky"))
        .when(
            (F.col("n_transitions") == 1)
            & (F.col("last_verdict") == V_FAIL)
            & (F.col("n_pass") > 0),
            F.lit("regressed"),
        )
        .when(
            (F.col("n_transitions") == 1)
            & (F.col("last_verdict") == V_PASS)
            & (F.col("n_fail") > 0),
            F.lit("recovered"),
        )
        .when(F.col("n_transitions") == 1, F.lit("changed"))
        .when(F.col("last_verdict") == V_PASS, F.lit("stable_pass"))
        .when(F.col("last_verdict") == V_FAIL, F.lit("stable_fail"))
        .otherwise(F.lit("stable_other"))
    )
    return hist.withColumn("status", status)
