"""Physical-plan oracles: the properties that matter at 100 TB are
asserted on the plans themselves (SURVEY §4) — column pruning keeps
image bytes unread in the stats pass, the resume filter reaches the
scan as a pushed/partition filter, small joins broadcast, and the
fused aggregation does partial (map-side) aggregation before its one
shuffle.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdime_spark.plans.suite import ValidationSuite
from bigdime_spark.plans.lineage import apply_resume_filter
from bigdime_spark.sources.synth import build_fixture


@pytest.fixture(scope="module")
def parquet_fixture(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planfx"))
    fx = build_fixture(spark, n_rows=200, n_parts=4)
    fx.raw.repartition("part").write.partitionBy("part").parquet(f"{d}/raw")
    fx.manifest.write.parquet(f"{d}/manifest")
    return d


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_stats_scan_never_reads_bytes(spark, parquet_fixture):
    """B0b: with checksum off, the fused stats pass must not project
    the binary column — parquet page reads for `bytes` are the
    dominant I/O and belong to checksum/decode only."""
    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    res = ValidationSuite(
        check_checksum=False,
        check_record_count=False,
        check_uniqueness=False,
        check_drift=False,
        check_caption=False,
        check_referential=False,
    ).run(spark, raw, run_id="plan1")
    plan = _explain(res.stats)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    for ln in scans:
        assert "bytes" not in ln, f"stats scan reads bytes pages: {ln}"


def test_resume_filter_reaches_scan(spark, parquet_fixture):
    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    filtered = apply_resume_filter(raw, ["p0000", "p0001"])
    plan = _explain(filtered.groupBy("part").count())
    # partition-column IN filter must appear at the scan node
    # (PartitionFilters → whole directories of validated parts are
    # never opened)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "p0000" in seg.split("PushedFilters")[0] or "part" in seg.split("PushedFilters")[0]


def test_manifest_join_broadcasts(spark, parquet_fixture):
    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    man = spark.read.parquet(f"{parquet_fixture}/manifest")
    res = ValidationSuite(
        check_uniqueness=False, check_drift=False,
        check_caption=False, check_referential=False,
    ).run(spark, raw, manifest=man, run_id="plan2")
    plan = _explain(res.verdicts)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_fused_agg_has_partial_aggregation(spark, parquet_fixture):
    """The one groupBy(part) pass must do map-side partial aggregation
    (HashAggregate appears twice per agg: partial then final after the
    exchange) — at scale the shuffle carries one row per (task, part),
    not per input row."""
    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    res = ValidationSuite(
        check_uniqueness=False, check_drift=False,
        check_caption=False, check_referential=False,
    ).run(spark, raw, run_id="plan3")
    plan = _explain(res.stats)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_keyed_pass_single_exchange_pair(spark, parquet_fixture):
    """Uniqueness+referential+caption share the keyed shuffle: the
    rare-frame plan contains the two groupBy exchanges (raw, curated)
    and the co-partitioned join adds NO further exchange of the big
    sides."""
    from bigdime_spark.operators.base import SuiteContext
    from bigdime_spark.operators.keyed import KeyedSnapshotPass

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    ctx = SuiteContext(
        spark=spark, raw=raw, curated=raw, parts=raw.select("part").distinct()
    )
    j = KeyedSnapshotPass()._joined(ctx)
    plan = _explain(j)
    # exactly two shuffle exchanges: one per groupBy side; the
    # full-outer join reuses their hash partitioning
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 2, plan
    assert "FullOuter" in plan


def test_bounded_dup_groups_single_exchange(spark, parquet_fixture):
    """The round-4 bounded dup_ids sample (row_number window +
    conditional collect_list) must not buy its memory bound with an
    extra shuffle: the window's hashpartitioning(content_hash) must
    satisfy the groupBy's clustering too — exactly ONE exchange in the
    whole plan."""
    from bigdime_spark.operators import dedup

    import re

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    plan = _explain(dedup.exact_dup_groups(raw, "image_id", ["caption"]))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan


def test_ivf_assign_broadcasts_and_avoids_full_table_window(spark):
    """IVF cell assignment must be a broadcast join + hash aggregation:
    a Window (row_number) over the full vector table would sort 10^12
    rows; the max-struct argmax needs no sort at all."""
    from bigdime_spark.operators.similarity import ivf_assign
    from pyspark.sql import functions as F

    vecs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(4)]).alias("embedding"),
    )
    centroids = spark.range(4).select(
        F.col("id").alias("cid"),
        F.array(*[F.rand(seed=10 + i) for i in range(4)]).alias("cvec"),
    )
    plan = _explain(ivf_assign(vecs, centroids))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "Window" not in plan, plan


def test_ivf_topk_shuffles_corpus_exactly_once(spark, tmp_path):
    """Round-4 verdict #1 + round-5 fusion. Two properties at 10^12
    rows: (a) NO hashpartitioning(cid) exchange — the candidate join
    broadcasts the tiny query-cells frame instead of funneling the
    corpus into #centroid shuffle groups; (b) the corpus shuffles
    EXACTLY once (the argmax agg carries the vector — a join back to
    the vectors would re-shuffle the whole corpus on id a second
    time). Parquet-backed corpus so range-specific optimizer shortcuts
    don't mask the shape."""
    import re

    from bigdime_spark.operators.similarity import ivf_topk
    from pyspark.sql import functions as F

    spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(4)]).alias("embedding"),
    ).write.parquet(str(tmp_path / "vecs"))
    vecs = spark.read.parquet(str(tmp_path / "vecs"))
    centroids = spark.range(4).select(
        F.col("id").alias("cid"),
        F.array(*[F.rand(seed=10 + i) for i in range(4)]).alias("cvec"),
    )
    queries = vecs.filter(F.col("vec_id") < 3)
    plan = _explain(ivf_topk(vecs, queries, centroids, k=3, nprobe=2))
    assert "hashpartitioning(cid" not in plan, plan
    # corpus-id exchanges: the argmax agg's hashpartitioning(id) — and
    # ONLY that one (every other exchange keys on query_id, whose row
    # count is |Q| × candidates, not the corpus)
    corpus_exchanges = re.findall(r"hashpartitioning\(id#", plan)
    assert len(corpus_exchanges) == 1, plan


def test_keyed_pass_zero_exchange_on_bucketed_tables(spark, tmp_path_factory):
    """The 100-TB shuffle buy-back: snapshots BUCKETED on the key
    (bucketBy at write time) + assume_clustered=True run the whole
    keyed uniqueness/referential/caption pass with ZERO shuffle
    exchanges — Catalyst satisfies the groupBy clustering from the
    scan's bucket distribution and the join reuses it. Values must be
    identical to the repartition path."""
    import re

    from bigdime_spark.operators.base import SuiteContext
    from bigdime_spark.operators.keyed import KeyedSnapshotPass

    d = str(tmp_path_factory.mktemp("bktfx"))
    fx = build_fixture(spark, n_rows=200, n_parts=4)
    for name, df in (("kb_raw", fx.raw), ("kb_cur", fx.curated)):
        (
            df.write.bucketBy(8, "image_id")
            .sortBy("image_id")
            .option("path", f"{d}/{name}")
            .mode("overwrite")
            .saveAsTable(name)
        )
    try:
        raw_b, cur_b = spark.table("kb_raw"), spark.table("kb_cur")
        ctx = SuiteContext(
            spark=spark, raw=raw_b, curated=cur_b,
            parts=raw_b.select("part").distinct(),
        )
        j = KeyedSnapshotPass(assume_clustered=True)._joined(ctx)
        plan = _explain(j)
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchanges == 0, plan

        ctx_plain = SuiteContext(
            spark=spark, raw=fx.raw, curated=fx.curated,
            parts=fx.raw.select("part").distinct(),
        )
        j_plain = KeyedSnapshotPass()._joined(ctx_plain)
        key = lambda rows: sorted(map(str, rows))  # noqa: E731
        assert key(j.select("image_id", "n_r", "n_c").collect()) == key(
            j_plain.select("image_id", "n_r", "n_c").collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS kb_raw")
        spark.sql("DROP TABLE IF EXISTS kb_cur")


def test_keyed_pass_content_digest_adds_no_exchange(spark, parquet_fixture):
    """check_content=True folds the xxhash64 row digest into the same
    level-1/level-2 aggregation: still exactly two exchanges (one per
    side) — the content diff is shuffle-free on top of the keyed
    pass."""
    import re

    from bigdime_spark.operators.base import SuiteContext
    from bigdime_spark.operators.keyed import KeyedSnapshotPass

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    ctx = SuiteContext(
        spark=spark, raw=raw, curated=raw, parts=raw.select("part").distinct()
    )
    j = KeyedSnapshotPass(check_content=True)._joined(ctx)
    plan = _explain(j)
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 2, plan
    assert "xxhash64" in plan


def test_suggest_pass1_is_expand_free_two_level_agg(spark, parquet_fixture):
    """C57 pass 1: the per-column profile (distinct counts +
    castability + numeric range) must plan as melt → two hash
    aggregations with exactly two exchanges — never the Expand node
    that multiple count_distinct columns in one flat agg would plan,
    and never a window."""
    from bigdime_spark.plans.suggest import _pass1

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    cols = [c for c, t in raw.dtypes if t != "binary"]
    plan = _explain(_pass1(raw, cols))
    assert "Expand" not in plan
    assert "Window" not in plan
    import re
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 2, plan


def test_compliance_rides_fused_agg_single_exchange(spark, parquet_fixture):
    """C55 fuses into the suite's stats pass: adding three Compliance
    constraints must not add a single exchange beyond the baseline
    suite plan."""
    import re

    from bigdime_spark.operators.row_checks import Compliance
    from bigdime_spark.operators.stats import ColumnProfile
    from bigdime_spark.plans.suite import StatsProfile

    raw = spark.read.parquet(f"{parquet_fixture}/raw")

    def n_exchanges(extra):
        suite = ValidationSuite(
            check_checksum=False,
            check_uniqueness=False,
            check_referential=False,
            check_caption=False,
            check_drift=False,
            check_record_count=False,
            check_domains=False,
            stats=StatsProfile(
                columns=[ColumnProfile("w"), ColumnProfile("h")]
            ),
            extra_agg_constraints=extra,
        )
        res = suite.run(spark, raw, run_id="plan-comp")
        plan = _explain(res.verdicts)
        res.release()
        return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))

    base = n_exchanges([])
    cons = [
        Compliance("w_pos", F.col("w") > 0, "w", 0.99),
        Compliance("h_pos", F.col("h") > 0, "h", 0.99),
        Compliance("cap", F.length("caption") > 0, "caption", 0.9),
    ]
    assert n_exchanges(cons) == base

    # C75 caption-quality bounds are the same discipline: two bounds
    # (sharing one avg buffer) must add zero exchanges
    from bigdime_spark.operators.caption import CaptionQualityBound

    cq = [
        CaptionQualityBound("quality_score", lo=0.1),
        CaptionQualityBound("quality_score", hi=1.0),
        CaptionQualityBound("n_tokens", lo=1.0),
    ]
    assert n_exchanges(cq) == base


def test_caption_conflicts_single_exchange(spark, parquet_fixture):
    """C62: the per-phash sample window and the groupBy must share ONE
    hashpartitioning(phash) exchange (the exact_dup_groups discipline
    — the bounded sample may not buy its memory bound with a second
    shuffle)."""
    import re

    from bigdime_spark.operators.caption import conflicting_caption_groups

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    plan = _explain(conflicting_caption_groups(raw))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan


def test_grouped_metrics_single_exchange_partial_agg(spark, parquet_fixture):
    """C72: the (part, group) profile is ONE map-side-combined hash
    aggregation — exactly one exchange, with a partial_count before
    it (no Expand, no second shuffle for the distinct count)."""
    import re

    from bigdime_spark.operators.grouped import grouped_metrics

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    plan = _explain(grouped_metrics(raw, "caption", "fmt"))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    # count_distinct adds its legal two-level (partial-distinct) pair
    # on the SAME key — but never a SinglePartition funnel
    assert "SinglePartition" not in plan, plan
    assert n_exchanges <= 2, plan
    assert "partial" in plan.lower(), plan


def test_drift_contributions_windows_partition_by_key(spark, parquet_fixture):
    """C70: every window in the bucket-triage plan partitions by
    (part, column) — a SinglePartition window over the histogram frame
    would serialize all parts through one task."""
    from bigdime_spark.operators.drift import DriftColumn, drift_contributions

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    a = raw.filter(F.col("w") >= 32)
    b = raw.filter(F.col("w") < 32)
    contrib = drift_contributions(
        a, b, (DriftColumn("w", 0.0, 256.0, 16), DriftColumn("h", 0.0, 256.0, 16))
    )
    plan = _explain(contrib)
    assert "SinglePartition" not in plan, plan


def test_stratified_sample_broadcasts_thresholds(spark, parquet_fixture):
    """C77: the per-stratum threshold frame must reach the corpus as a
    BroadcastHashJoin — the corpus never hash-partitions to be
    sampled."""
    from bigdime_spark.operators.infer import (
        stratified_sample_frame,
        stratified_thresholds,
    )

    raw = spark.read.parquet(f"{parquet_fixture}/raw")
    thr = stratified_thresholds(raw, "fmt", base_rate=0.1, min_n=20)
    plan = _explain(stratified_sample_frame(raw, "fmt", thr, "s"))
    assert "BroadcastHashJoin" in plan, plan
    # the corpus side is never exchanged by hash of the join key
    assert "Exchange hashpartitioning(part" not in plan, plan


def test_containment_prefix_side_filters_before_gram_join(spark):
    """C61: the candidate join's indexed side must be the PREFIX
    (rank <= L) — the full shingle relation appears as the probe side,
    never self-joined whole. Assert the plan contains the row_number
    filter upstream of the gram join and no cartesian."""
    from bigdime_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} common a b c d") for i in range(6)],
        "doc_id long, text string",
    )
    plan = _explain(
        dedup.containment_pairs(df, "doc_id", "text", ngram=1, threshold=0.8)
    )
    assert "CartesianProduct" not in plan, plan
    assert "row_number" in plan and "rk" in plan, plan


def test_pq_topk_corpus_never_shuffles(spark, tmp_path):
    """C65's scale claim: in BOTH stages the corpus side is a straight
    scan — the approx stage joins broadcast(queries+LUTs) against the
    code scan, the re-rank joins broadcast(candidates) against the
    vector scan. The only hashpartitioning exchanges key on query_id
    (window ranking over |Q|·candidates rows), never on the corpus
    id. Parquet-backed so range shortcuts don't mask the shape."""
    import re

    from pyspark.sql import functions as F

    from bigdime_spark.operators.similarity import pq_codebooks, pq_topk

    spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    ).write.parquet(str(tmp_path / "vecs"))
    vecs = spark.read.parquet(str(tmp_path / "vecs"))
    cb = pq_codebooks(vecs, m=4, ncodes=4)
    queries = vecs.filter(F.col("vec_id") < 3)
    plan = _explain(pq_topk(vecs, queries, cb, k=3, refine=2))
    assert "BroadcastExchange" in plan, plan
    assert not re.findall(r"hashpartitioning\((?:vec_)?id#", plan), plan
    hp = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert set(hp) <= {"query_id", "neighbor_id"}, plan


def test_ivfpq_index_one_corpus_shuffle_search_none(spark, tmp_path):
    """C66: the index build is the IVF argmax's single hash(id)
    exchange (codes computed from the carried vector — no second
    corpus shuffle); the SEARCH over a prebuilt index never
    hash-partitions the index or the vector table at all — cells
    broadcast in, candidates broadcast back."""
    import re

    from pyspark.sql import functions as F

    from bigdime_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        pq_codebooks,
    )

    spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(8)]).alias("embedding"),
    ).write.parquet(str(tmp_path / "vecs"))
    vecs = spark.read.parquet(str(tmp_path / "vecs"))
    cent = spark.range(4).select(
        F.col("id").alias("cid"),
        F.array(*[F.rand(seed=10 + i) for i in range(8)]).alias("cvec"),
    )
    cb = pq_codebooks(vecs, m=4, ncodes=4)
    build = _explain(ivfpq_index(vecs, cent, cb))
    assert len(re.findall(r"hashpartitioning\(id#", build)) == 1, build
    assert "hashpartitioning(cid" not in build, build

    ivfpq_index(vecs, cent, cb).write.parquet(str(tmp_path / "idx"))
    idx = spark.read.parquet(str(tmp_path / "idx"))
    queries = vecs.filter(F.col("vec_id") < 3)
    search = _explain(
        ivfpq_topk(vecs, queries, cent, cb, k=3, nprobe=2, refine=2, index=idx)
    )
    assert "hashpartitioning(cid" not in search, search
    assert not re.findall(r"hashpartitioning\((?:vec_)?id#", search), search
    hp = set(re.findall(r"hashpartitioning\((\w+)#", search))
    assert hp <= {"query_id", "neighbor_id"}, search


def test_cached_frames_coalesce_on_one_part_run(spark, tmp_path):
    """A one-part run must not persist one partition per shuffle
    partition: every later read of a cached frame launches a task per
    partition, and each task deserializes the frame's whole lineage.
    AQE coalesces the plans that fill the caches, so the fused stats
    (one row) hold one partition and the verdict union fewer than the
    shuffle-partition count."""
    from bigdime_spark.sources.tables import read_table, write_table

    fx = build_fixture(spark, n_rows=200, n_parts=1)
    write_table(fx.raw, str(tmp_path / "raw"))
    write_table(fx.curated, str(tmp_path / "curated"))
    write_table(fx.manifest, str(tmp_path / "manifest"), partition_by=None)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        res = ValidationSuite().run(
            spark,
            read_table(spark, str(tmp_path / "raw")),
            read_table(spark, str(tmp_path / "curated")),
            read_table(spark, str(tmp_path / "manifest")),
            run_id="coalesce1",
        )
        try:
            fused = [
                df for df in res.persisted
                if any(c.startswith("stat__") for c in df.columns)
            ]
            assert len(fused) == 1, [df.columns for df in res.persisted]
            assert fused[0].rdd.getNumPartitions() == 1
            assert res.verdicts.rdd.getNumPartitions() < 32
        finally:
            res.release()
    finally:
        spark.conf.set(key, before)


#: physical-plan nodes that start Python workers: a pickled Python RDD
#: (what ``createDataFrame(list)`` plans) and the Python UDF operators.
#: ``ExistingRDD`` is also the scan of a ``localCheckpoint`` snapshot,
#: which ``run`` does not plan; a ``run`` that adopts one must drop it
#: here and rely on ``PythonRDD``
_PYTHON_NODES = (
    "PythonRDD",
    "ExistingRDD",
    "PythonMapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def test_decode_off_run_plans_no_python_node(spark, tmp_path):
    """With decode off, nothing in a ``run`` needs Python on the
    executors: the driver-built constants (schema verdicts, the
    partial-verdict grid, the empty lineage, the schema fingerprint)
    are ``LocalRelation``s, so no SQL execution of a resumed nightly
    run may plan a Python RDD or a Python UDF node."""
    from bigdime_spark import cli
    from bigdime_spark.operators.base import local_frame
    from bigdime_spark.plans.lineage import VALIDATED, LineageStore
    from bigdime_spark.schema import LINEAGE_SCHEMA
    from bigdime_spark.sources.tables import write_table

    fx = build_fixture(spark, n_rows=200, n_parts=2)
    write_table(fx.raw, str(tmp_path / "raw"))
    write_table(fx.curated, str(tmp_path / "curated"))
    write_table(fx.manifest, str(tmp_path / "manifest"), partition_by=None)
    lineage = str(tmp_path / "lineage")
    LineageStore(lineage).append(
        local_frame(spark, [("nightly-0", "p0000", VALIDATED, 100, 0, 0)], LINEAGE_SCHEMA)
    )

    bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def executions():
        bus.waitUntilEmpty()
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    before = {e.executionId() for e in executions()}
    rc = cli.main(
        [
            "run",
            "--raw", str(tmp_path / "raw"),
            "--curated", str(tmp_path / "curated"),
            "--manifest", str(tmp_path / "manifest"),
            "--out", str(tmp_path / "out"),
            "--lineage", lineage,
            "--run-id", "nightly-1",
        ]
    )
    assert rc == 0
    ran = [e for e in executions() if e.executionId() not in before]
    assert ran
    python_backed = [
        (e.description(), [n for n in _PYTHON_NODES if n in e.physicalPlanDescription()])
        for e in ran
        if any(n in e.physicalPlanDescription() for n in _PYTHON_NODES)
    ]
    assert python_backed == [], python_backed
