"""Constraint framework (SURVEY §2.B signature convention).

The reference's ``Validator`` interface is ``validate(event) →
ValidationResponse{PASSED,FAILED,INCOMPLETE_SETUP,NOT_READY}``, one
imperative call per validator per input unit [public knowledge,
SURVEY §0]. Here a constraint is *declarative*: it contributes

- ``agg_exprs`` — Columns fused into the suite's single
  ``groupBy(part).agg(...)`` pass (one scan + one shuffle serves
  every AggConstraint, SURVEY §3.2 pass 3), plus
- ``verdict_col`` / ``observed_col`` / ``expected_col`` — expressions
  over the fused-agg row (after the broadcast manifest join), plus
- ``violations(df)`` — the row-level violation DataFrame.

Constraints that inherently need their own shuffle (uniqueness,
referential, caption equality, drift, decode) implement
``TableConstraint.run`` instead and return (verdicts, violations).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdime_spark.schema import VIOLATION_SCHEMA


@dataclass
class SuiteContext:
    spark: SparkSession
    raw: DataFrame
    curated: DataFrame | None = None
    manifest: DataFrame | None = None
    #: all partition values under validation (small DF: one row per part)
    parts: DataFrame | None = None
    extras: dict = field(default_factory=dict)


class AggConstraint:
    """Fusable per-partition constraint."""

    name: str

    def pre_columns(self) -> dict[str, Column]:
        """Extra projected columns the agg needs (e.g. the row digest)."""
        return {}

    def agg_exprs(self) -> list[Column]:
        raise NotImplementedError

    def shared_agg_exprs(self) -> dict[str, Column]:
        """Aggregates this constraint needs that OTHER constraints may
        need identically (e.g. the per-part row count every Compliance
        bound divides by). Keyed by output alias; the fused-agg
        assembler emits each alias ONCE no matter how many constraints
        request it — k tolerance bounds share one counter instead of
        k identical aggregate buffers. Columns here must NOT be
        pre-aliased (the assembler aliases by key)."""
        return {}

    def verdict_col(self) -> Column:
        raise NotImplementedError

    def observed_col(self) -> Column:
        return F.lit(None).cast("string")

    def expected_col(self) -> Column:
        return F.lit(None).cast("string")

    def needs_manifest(self) -> bool:
        return False

    def violations(self, df: DataFrame, snapshot: str) -> DataFrame | None:
        return None

    def violation_spec(self) -> tuple[Column, str, Column] | None:
        """(is_violation predicate, column name, detail) for row-level
        constraints. When provided, the suite fuses ALL such specs
        into ONE scan of the table (an array-of-structs filter +
        explode) instead of one filtered scan per constraint."""
        return None

    def violation_count_col(self) -> str | None:
        """Name of this constraint's fused-agg column that counts its
        violating rows. When every fusable constraint provides one,
        the suite checks the (already materialized) fused aggregate
        first and SKIPS the row-level violation rescan entirely on a
        clean run — the common case at scale pays one scan, not two."""
        return None


class TableConstraint:
    """Cross-partition / cross-snapshot constraint with its own plan."""

    name: str

    #: when True, run() returns only found/failing verdict rows (with a
    #: `constraint` column) and the suite fills the remaining
    #: (part × verdict_names()) grid with PASS in ONE shared join
    #: instead of one broadcast join per constraint.
    partial_verdicts: bool = False

    def verdict_names(self) -> list[str]:
        return [self.name]

    def run(self, ctx: SuiteContext) -> tuple[DataFrame, DataFrame | None]:
        """→ (verdicts[part, constraint, verdict, observed, expected],
        violations | None)."""
        raise NotImplementedError


def fused_agg_exprs(constraints) -> list[Column]:
    """Assemble the aggregate list for a fused pass over several
    AggConstraints: every ``shared_agg_exprs`` alias is emitted once
    (first requester wins — identical by contract), then each
    constraint's own ``agg_exprs``. Standalone consumers (contract
    queries, tests) MUST use this instead of concatenating
    ``agg_exprs`` by hand, or shared aliases would collide."""
    shared: dict[str, Column] = {}
    own: list[Column] = []
    for c in constraints:
        for alias, col in c.shared_agg_exprs().items():
            shared.setdefault(alias, col.alias(alias))
        own.extend(c.agg_exprs())
    return list(shared.values()) + own


def violation_rows(
    df: DataFrame,
    constraint: str,
    column: str | None,
    detail: Column,
    snapshot: str,
    part_col: str = "part",
    image_id_col: str = "image_id",
) -> DataFrame:
    """Project any row-set onto the common violations schema (B24)."""
    return df.select(
        F.lit(constraint).alias("constraint"),
        F.col(part_col).cast("string").alias("part"),
        F.col(image_id_col).cast("string").alias("image_id"),
        F.lit(column).cast("string").alias("column"),
        detail.cast("string").alias("detail"),
        F.lit(snapshot).alias("snapshot"),
    )


def release_frame(df: DataFrame) -> None:
    """Free the executor storage behind ``df`` once nothing reads it.

    ``unpersist()`` drops a persisted frame's CacheManager entry but
    does not touch a ``localCheckpoint`` snapshot: the snapshot is a
    one-node ``LogicalRDD`` plan whose RDD holds the blocks, and
    without this they live until a driver GC lets the ContextCleaner
    reclaim them. Reading a released snapshot fails, so release it
    only after every frame built on it has materialized."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def empty_violations(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], VIOLATION_SCHEMA)


def fill_pass_for_missing_parts(verdicts: DataFrame, parts: DataFrame, constraint: str) -> DataFrame:
    """Table constraints emit explicit rows only for failing parts; this
    left-joins against the full part list so every (part × constraint)
    gets a verdict (missing → PASS)."""
    return (
        parts.join(verdicts, "part", "left")
        .select(
            "part",
            F.lit(constraint).alias("constraint"),
            F.coalesce(F.col("verdict"), F.lit("PASS")).alias("verdict"),
            F.col("observed").cast("string").alias("observed"),
            F.col("expected").cast("string").alias("expected"),
        )
    )
