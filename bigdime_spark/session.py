"""SparkSession factory with scale-oriented defaults.

Every knob here exists for the 100 TB posture (SURVEY.md §2.5/§4):
AQE for runtime re-planning + skew-join splitting, Arrow for the
JVM↔Python boundary, and a shuffle-partition count sized to the
parallelism level rather than Spark's static default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: confs applied to every engine session (BASELINE.json:6 — "AQE skew-join hints")
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # floor for AQE partition coalescing (default 1m): with megabyte-
    # scale shuffles the 1m floor collapses every post-shuffle stage to
    # ONE task, serializing CPU-heavy operators (simhash votes, PQ
    # encode, gram verify joins) onto a single core. 4k keeps tiny
    # shuffles parallel (parallelismFirst targets the core count);
    # at production shuffle sizes the advisory size (64m default)
    # governs and this floor never binds.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4k",
    # let AQE coalesce the shuffle reads of plans that fill persist()/
    # cache() frames (Spark's default is false). Without it every
    # cached frame keeps one partition per shuffle partition per union
    # branch: a 200-row incremental suite run persisted fused stats in
    # 32 partitions for 1 row, verdicts in 68 and violations in 200 for
    # 0 rows, so each later read (materializing count, table writes,
    # summary) launched ~1,650 tasks that each deserialized the whole
    # union lineage, ~51 CPU s against ~10 s of task CPU. With it those
    # frames hold 1, 6 and 26 partitions and the run ~210 tasks; large
    # cached frames stay at least core-count parallel (parallelismFirst
    # and the 4k floor above).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # mapInArrow/pandas_udf batch size: big enough to amortize the Arrow
    # round-trip, small enough that a batch of decoded images fits in RAM.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # parquet scan parallelism at local scale; on a real cluster the
    # 128m default is right, in local[32] smaller splits help.
    "spark.sql.files.maxPartitionBytes": "64m",
    "spark.sql.shuffle.partitions": "32",
    # deterministic session timezone so timestamp-derived hashes are stable
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # single-JVM local mode: driver heap IS the executor heap. Wide
    # binary columns (image bytes) make vectorized reader batches big;
    # 32 concurrent tasks × multi-MB batches needs real headroom, and
    # a smaller columnar batch bounds per-task vector memory (4096-row
    # default × ~20 KB payloads ≈ 80 MB per open batch).
    "spark.driver.memory": "24g",
    "spark.sql.parquet.columnarReaderBatchSize": "1024",
    # JIT code cache sized for a long-lived session running hundreds of
    # distinct codegen'd queries (guide §1/§7 battery-degradation
    # diagnosis, r6): the JVM default (240 MB) fills mid-battery and
    # silently flushes/re-JITs whole-stage-codegen classes, which
    # measured as 2-4x slowdowns + wild variance on queries late in a
    # 78-query run (e.g. the same 20-row query: rep1 6.2 s, rep2
    # 25.6 s). Applies to any driver/executor that serves many distinct
    # plans, not a local[32] quirk.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
    "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
    # InferFiltersFromGenerate clones the generator's child expression
    # into a size()>0 filter below the explode. For the gram/melt
    # queries that array is a large zip_with/transform tree built from
    # the text column, so the inferred filter re-evaluates the entire
    # tokenize+fold per row a second time — and predicate pushdown
    # then sinks that copy below the scale-adaptive repartition, i.e.
    # onto the narrow pre-shuffle stage (guide §4.4's duplicated-
    # expression problem, JVM edition; seen in dup_gram_docs /
    # contamination_documents plans). The inferred filter is redundant
    # with Generate's own semantics (a non-outer explode drops
    # empty/NULL arrays itself), so excluding the rule never changes
    # results — it only stops the double evaluation. Corpus tables
    # carry no array columns, so the rule has no scan-pruning value
    # anywhere in this engine.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def get_spark(
    app_name: str = "bigdime-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """The engine SparkSession: the running one as it is, else a new one.

    A running session belongs to its caller (a test fixture, perfbench,
    a notebook), so none of the arguments below touch it.

    A new session gets ``ENGINE_CONFS`` plus ``shuffle_partitions`` and
    ``extra_confs``. Under ``spark-submit`` (which sets
    ``PYSPARK_GATEWAY_PORT``) the launcher's ``--master`` and ``--name``
    stand unless ``master`` is passed (BASELINE.json:14); plain
    ``python`` gets ``app_name`` and ``master``, which defaults to
    ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = master or (f"local[{cpus}]" if cpus else "local[*]")
        builder = builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
