"""Incremental validation over Structured Streaming (SURVEY §2.6
streaming row; reference analogue: the ingestion framework's
file/Kafka micro-batching — each arriving unit is validated as it
lands, offsets/units checkpointed so restarts resume).

``validate_stream`` watches a directory-shaped table (the parquet
seam of an Iceberg append stream), and for every micro-batch runs the
SAME ValidationSuite used in batch mode — one fused stats+constraints
pass per batch — appending verdicts/violations and per-batch lineage.
``Trigger.AvailableNow`` drains the backlog and stops, which is also
how the tests drive it deterministically.

Scale posture: streaming state here is bounded — this validator keeps
NO keyed streaming state (uniqueness here is within-batch; referential
across the full table is a batch concern over snapshots); each
micro-batch is validated per-partition exactly like the reference
validated per input unit. CROSS-batch duplicate detection is the
opt-in ``stateful.streaming_key_uniqueness`` operator (bounded
per-distinct-key state in the checkpointed state store, optional TTL)
— compose it beside this validator on the same source when the
landing-time window must catch duplicates spanning micro-batches.
Spark's checkpoint dir gives exactly-once file tracking, so a killed
stream re-validates nothing already committed, mirroring the batch
lineage/resume semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bigdime_spark.plans.suite import SuiteResult, ValidationSuite
from bigdime_spark.schema import IMAGE_SCHEMA_PARTITIONED


@dataclass
class StreamingValidator:
    """foreachBatch-driven incremental validation.

    Batch-mode cross-snapshot checks (referential/caption/drift) are
    disabled by default — they compare SNAPSHOTS, not increments; the
    per-batch suite covers schema, stats, record-count/checksum (when
    a manifest is supplied), not-null/domain, within-batch uniqueness,
    and optionally decode.
    """

    suite: ValidationSuite = field(
        default_factory=lambda: ValidationSuite(
            check_referential=False,
            check_caption=False,
            check_drift=False,
        )
    )
    schema: T.StructType = IMAGE_SCHEMA_PARTITIONED
    manifest: DataFrame | None = None
    results: list[tuple[int, SuiteResult]] = field(default_factory=list)

    def start(
        self,
        spark: SparkSession,
        source_dir: str,
        out_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        max_files_per_trigger: int | None = None,
    ):
        reader = (
            spark.readStream.schema(self.schema)
            .option("recursiveFileLookup", "true")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        stream = reader.parquet(source_dir)

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            res = self.suite.run(
                spark,
                batch_df,
                manifest=self.manifest,
                run_id=f"stream-batch-{batch_id}",
                resume=False,
            )
            res.verdicts.write.mode("append").parquet(f"{out_dir}/verdicts")
            res.violations.write.mode("append").parquet(f"{out_dir}/violations")
            res.lineage.write.mode("append").parquet(f"{out_dir}/lineage")
            self.results.append((batch_id, res))
            res.release()

        writer = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
