"""End-to-end CLI coverage (SURVEY §3.2 entry point 1): synth →
run → quarantine through ``python -m bigdime_spark.cli``'s main(),
including the round-4 additions — the --phash-dedup near-duplicate
constraint reachable from spark-submit, and clean exit-2 operator
errors on the drift subcommand."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bigdime_spark import cli
from bigdime_spark.operators.stats import ColumnProfile, StatsProfile


def _run_cli(capsys, argv):
    rc = cli.main(argv)
    out = capsys.readouterr()
    lines = [ln for ln in out.out.strip().splitlines() if ln.startswith("{")]
    return rc, (json.loads(lines[-1]) if lines else None), out.err


def test_phash_dedup_end_to_end(spark, tmp_path_factory, capsys):
    """synth plants 2 near-dup phash pairs (hamming 1) across the first
    four partitions; run --phash-dedup must FAIL exactly those parts on
    the phash_near_dup constraint and the quarantine manifest must name
    them."""
    fx = str(tmp_path_factory.mktemp("fx"))
    out = str(tmp_path_factory.mktemp("out"))
    rc, summary, _ = _run_cli(
        capsys,
        ["synth", "--rows", "256", "--parts", "8", "--out", fx,
         "--phash-near-pairs", "2"],
    )
    assert rc == 0

    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--curated", f"{fx}/curated",
         "--manifest", f"{fx}/manifest", "--out", out,
         "--phash-dedup", "--phash-k", "2"],
    )
    assert rc == 1  # planted near-dups → validation FAILs
    assert summary["parts_quarantined"] > 0

    verdicts = spark.read.parquet(f"{out}/verdicts")
    phash_fails = {
        r["part"]
        for r in verdicts.filter(
            (F.col("constraint") == "phash_near_dup.k2")
            & (F.col("verdict") == "FAIL")
        ).collect()
    }
    # pair j = (img-{2j}, img-{2j+1}); part = i % n_parts
    assert phash_fails == {"p0000", "p0001", "p0002", "p0003"}

    quarantine = spark.read.parquet(f"{out}/quarantine")
    named = {
        r["part"]: set(r["failed_constraints"]) for r in quarantine.collect()
    }
    for part in ("p0000", "p0001", "p0002", "p0003"):
        assert part in named
        assert "phash_near_dup.k2" in named[part]

    # violations name the partner image and the hamming distance
    v = spark.read.parquet(f"{out}/violations").filter(
        F.col("constraint") == "phash_near_dup.k2"
    )
    details = [r["detail"] for r in v.collect()]
    assert len(details) == 4  # 2 planted pairs x 2 members each
    assert all("hamming=1" in d for d in details)
    # round-5: violations carry the transitive CLUSTER, not just the
    # pair edge — component id (min member) + exact member count
    assert all("cluster=" in d and "n=2" in d for d in details)


def test_run_without_phash_flag_passes_clean_fixture(spark, tmp_path_factory, capsys):
    """Same planted fixture WITHOUT --phash-dedup: near-dup phashes do
    corrupt the manifest checksum (phash is a checksum column), but the
    phash constraint itself must not run."""
    fx = str(tmp_path_factory.mktemp("fx2"))
    out = str(tmp_path_factory.mktemp("out2"))
    rc, _, _ = _run_cli(
        capsys,
        ["synth", "--rows", "128", "--parts", "4", "--out", fx],
    )
    assert rc == 0
    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--curated", f"{fx}/curated",
         "--manifest", f"{fx}/manifest", "--out", out],
    )
    assert rc == 0 and summary["parts_failed"] == 0
    verdicts = spark.read.parquet(f"{out}/verdicts")
    assert verdicts.filter(F.col("constraint").startswith("phash")).count() == 0


def test_run_fd_and_seq_continuity_flags(spark, tmp_path_factory, capsys):
    """--fd image_id:phash PASSes (unique ids determine anything);
    --seq-continuity phash FAILs every part (a hash space is nowhere
    near dense — observed carries gaps=overflow or a huge count);
    malformed flag values exit 2 with the operator-error contract."""
    fx = str(tmp_path_factory.mktemp("fxfd"))
    out = str(tmp_path_factory.mktemp("outfd"))
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "128", "--parts", "4", "--out", fx]
    )
    assert rc == 0
    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--curated", f"{fx}/curated",
         "--manifest", f"{fx}/manifest", "--out", out,
         "--fd", "image_id:phash", "--seq-continuity", "phash"],
    )
    assert rc == 1  # continuity fails, by design of the input
    verdicts = spark.read.parquet(f"{out}/verdicts")
    fd = verdicts.filter(F.col("constraint") == "fd.image_id->phash")
    assert fd.filter(F.col("verdict") != "PASS").count() == 0
    sc = verdicts.filter(
        F.col("constraint") == "sequence_continuity.phash"
    ).collect()
    assert len(sc) == 4 and all(r["verdict"] == "FAIL" for r in sc)

    rc, _, err = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", str(tmp_path_factory.mktemp("o2")),
         "--fd", "image_id"],
    )
    assert rc == 2 and "expected DET:DEP" in err

    # non-integral continuity column: clean exit 2, not a traceback
    rc, _, err = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", str(tmp_path_factory.mktemp("o3")),
         "--seq-continuity", "caption"],
    )
    assert rc == 2 and "integral type" in err
    rc, _, err = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", str(tmp_path_factory.mktemp("o4")),
         "--seq-continuity", "phash:-1"],
    )
    assert rc == 2 and "max_gaps" in err
    # a sampled decode without the decode pass is a no-op trap: error
    rc, _, err = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", str(tmp_path_factory.mktemp("o5")),
         "--decode-sample", "0.5"],
    )
    assert rc == 2 and "requires --decode" in err


def test_drift_cli_spec_mismatch_exits_2(spark, tmp_path_factory, capsys):
    """Operator ValueError (histogram spec mismatch) surfaces as a
    clean stderr message + exit 2, not a traceback — same contract as
    the rollup guard."""
    from bigdime_spark.sources.synth import build_fixture

    base = tmp_path_factory.mktemp("drift")
    fx = build_fixture(spark, n_rows=64, n_parts=2)
    p_a = StatsProfile(columns=[ColumnProfile("w", histogram=(0.0, 256.0, 32))])
    p_b = StatsProfile(columns=[ColumnProfile("w", histogram=(0.0, 256.0, 16))])
    fx.raw.groupBy("part").agg(*p_a.agg_exprs()).write.parquet(f"{base}/a")
    fx.raw.groupBy("part").agg(*p_b.agg_exprs()).write.parquet(f"{base}/b")
    rc = cli.main(["drift", "--stats-a", f"{base}/a", "--stats-b", f"{base}/b"])
    err = capsys.readouterr().err
    assert rc == 2
    assert "spec mismatch" in err and "Traceback" not in err


def test_drift_cli_buckets_out_triage(spark, tmp_path_factory, capsys):
    """`drift --buckets-out` writes the C70 bucket-contribution frame
    beside the scores and stamps each score row's worst bucket as
    bucket_top — still zero rescans of either snapshot."""
    from bigdime_spark.operators.stats import histogram_frames
    from bigdime_spark.sources.synth import build_fixture

    base = tmp_path_factory.mktemp("driftb")
    fx = build_fixture(spark, n_rows=256, n_parts=4, drift_parts=(1,))
    specs = [("w", 0.0, 256.0, 32), ("h", 0.0, 256.0, 32)]
    histogram_frames(fx.raw, specs).write.parquet(f"{base}/a")
    histogram_frames(fx.curated, specs).write.parquet(f"{base}/b")
    rc, summary, _ = _run_cli(
        capsys,
        ["drift", "--stats-a", f"{base}/a", "--stats-b", f"{base}/b",
         "--buckets-out", f"{base}/buckets"],
    )
    assert rc == 1  # the injected part drifts
    scores = {(s["part"], s["column"]): s for s in summary["scores"]}
    top = scores[("p0001", "w")]["bucket_top"]
    assert top is not None and top["lo"] is not None
    # the worst bucket's psi_term is a real share of the part's psi
    assert abs(top["psi_term"]) > 0
    buckets = spark.read.parquet(f"{base}/buckets")
    assert {"part", "column", "bucket", "lo", "hi", "psi_term", "rank"} <= set(
        buckets.columns
    )
    # rank 1 row per (part, column) matches the stamped bucket_top
    r1 = {
        (r["part"], r["column"]): r["bucket"]
        for r in buckets.filter("rank = 1").collect()
    }
    assert r1[("p0001", "w")] == top["bucket"]

    # triage is per-part by construction — refuse the rollup combo
    rc2 = cli.main(
        ["drift", "--stats-a", f"{base}/a", "--stats-b", f"{base}/b",
         "--buckets-out", f"{base}/x", "--table-level"]
    )
    err = capsys.readouterr().err
    assert rc2 == 2 and "table-level" in err


def test_drift_cli_buckets_out_one_sided_part(spark, tmp_path_factory, capsys):
    """A part present in only one stats frame (new partition between
    runs) has NULL shares in its bucket rows — bucket_top must surface
    nulls, not crash on round(None)."""
    from bigdime_spark.operators.stats import histogram_frames
    from bigdime_spark.sources.synth import build_fixture

    base = tmp_path_factory.mktemp("drift1s")
    fx = build_fixture(spark, n_rows=128, n_parts=4)
    specs = [("w", 0.0, 256.0, 16)]
    histogram_frames(fx.raw, specs).write.parquet(f"{base}/a")
    histogram_frames(
        fx.curated.filter(F.col("part") != "p0003"), specs
    ).write.parquet(f"{base}/b")
    rc, summary, _ = _run_cli(
        capsys,
        ["drift", "--stats-a", f"{base}/a", "--stats-b", f"{base}/b",
         "--buckets-out", f"{base}/buckets"],
    )
    assert rc in (0, 1) and summary is not None  # completed, no traceback
    lonely = [s for s in summary["scores"] if s["part"] == "p0003"][0]
    assert lonely["bucket_top"] is not None
    assert lonely["bucket_top"]["share_c"] is None


def test_stream_cli_cross_batch_dup(spark, tmp_path_factory, capsys):
    """`stream` subcommand: drains appends incrementally (checkpoint
    resume) and, with --key-uniqueness, catches a duplicate image_id
    whose copies land in DIFFERENT micro-batches."""
    base = tmp_path_factory.mktemp("stream")
    src, out, ckpt = str(base / "src"), str(base / "out"), str(base / "ckpt")

    from bigdime_spark.sources.synth import build_fixture

    fx = build_fixture(spark, n_rows=64, n_parts=4)
    first = fx.raw.filter(F.col("image_id") < "img-000000000032")
    second = fx.raw.filter(F.col("image_id") >= "img-000000000032")
    first.coalesce(1).write.mode("append").parquet(src)

    rc, summary, _ = _run_cli(
        capsys,
        ["stream", "--source", src, "--out", out, "--checkpoint", ckpt,
         "--key-uniqueness"],
    )
    assert rc == 0 and summary["batches"] == 1 and summary["dup_keys"] == 0

    # second append re-lands img-...000005 under a different part —
    # invisible to within-batch uniqueness, caught by the stateful op
    dup = fx.raw.filter(F.col("image_id") == "img-000000000005").withColumn(
        "part", F.lit("p0003")
    )
    second.unionByName(dup).coalesce(1).write.mode("append").parquet(src)

    rc, summary, _ = _run_cli(
        capsys,
        ["stream", "--source", src, "--out", out, "--checkpoint", ckpt,
         "--key-uniqueness"],
    )
    assert rc == 1
    assert summary["dup_keys"] == 1
    dups = spark.read.parquet(f"{out}/dup_keys").collect()
    assert dups and dups[0]["image_id"] == "img-000000000005"
    assert dups[0]["n_seen"] == 2
    # first-seen attribution: the original landing partition
    assert dups[0]["first_part"] == "p0001"


def test_run_parts_filter_revalidates_only_selected(spark, tmp_path_factory, capsys):
    """--parts restricts validation to the named partitions (the
    quarantine → fix → re-validate loop): only those parts appear in
    verdicts/lineage, and the partition IN-filter prunes at the scan."""
    fx = str(tmp_path_factory.mktemp("fxp"))
    out = str(tmp_path_factory.mktemp("outp"))
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "128", "--parts", "4", "--out", fx]
    )
    assert rc == 0
    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--curated", f"{fx}/curated",
         "--manifest", f"{fx}/manifest", "--out", out,
         "--parts", "p0001,p0002"],
    )
    assert rc == 0
    assert summary["parts_validated"] == 2
    assert summary["rows_scanned"] == 64  # 128 rows / 4 parts x 2 parts
    verdicts = spark.read.parquet(f"{out}/verdicts")
    parts = {r["part"] for r in verdicts.select("part").distinct().collect()}
    assert parts == {"p0001", "p0002", "*"}  # * = table-level schema row


def test_dedup_cli_clusters_planted_pairs(spark, tmp_path_factory, capsys):
    """`dedup` subcommand: band join + connected-components clustering
    over the raw table's real 64-bit phash column; the planted pairs
    come out as 2 clusters of 2."""
    fx = str(tmp_path_factory.mktemp("fxd"))
    out = str(tmp_path_factory.mktemp("outd"))
    rc, _, _ = _run_cli(
        capsys,
        ["synth", "--rows", "128", "--parts", "4", "--out", fx,
         "--phash-near-pairs", "2"],
    )
    assert rc == 0
    rc, summary, _ = _run_cli(
        capsys,
        ["dedup", "--input", f"{fx}/raw", "--out", out, "--k", "2"],
    )
    assert rc == 0
    assert summary == {
        "cmd": "dedup", "pairs": 2, "clusters": 2,
        "members_total": 4, "largest_cluster": 2,
    }
    clusters = spark.read.parquet(f"{out}/clusters")
    members = sorted(tuple(r["members"]) for r in clusters.collect())
    assert members == [
        ("img-000000000000", "img-000000000001"),
        ("img-000000000002", "img-000000000003"),
    ]


def test_dedup_cli_nonconvergence_exits_2(spark, tmp_path_factory, capsys):
    """--max-iter too low for the pair graph: connected_components'
    ValueError must surface as a clean stderr message + exit 2 (the
    drift subcommand's operator-error contract), never a traceback."""
    fx = str(tmp_path_factory.mktemp("fxn"))
    out = str(tmp_path_factory.mktemp("outn"))
    rc, _, _ = _run_cli(
        capsys,
        ["synth", "--rows", "128", "--parts", "4", "--out", fx,
         "--phash-near-pairs", "2"],
    )
    assert rc == 0
    rc = cli.main(
        ["dedup", "--input", f"{fx}/raw", "--out", out, "--k", "2",
         "--max-iter", "1"]
    )
    err = capsys.readouterr().err
    assert rc == 2
    assert "did not converge" in err and "Traceback" not in err


def test_stream_cli_histograms_feed_drift(spark, tmp_path_factory, capsys):
    """`stream --histograms` accumulates drift histograms across
    micro-batches into <out>/stats (bounded per-part state), which the
    `drift` subcommand consumes directly — cross-engine drift of a
    STREAMED table with zero rescan."""
    base = tmp_path_factory.mktemp("streamh")
    src, out, ckpt = str(base / "src"), str(base / "out"), str(base / "ckpt")

    from bigdime_spark.operators.drift import DEFAULT_DRIFT_COLUMNS
    from bigdime_spark.operators.stats import histogram_frames
    from bigdime_spark.sources.synth import build_fixture

    fx = build_fixture(spark, n_rows=256, n_parts=4, drift_parts=(1,))
    fx.raw.coalesce(1).write.mode("append").parquet(src)
    rc, summary, _ = _run_cli(
        capsys,
        ["stream", "--source", src, "--out", out, "--checkpoint", ckpt,
         "--histograms"],
    )
    assert rc == 0
    assert summary["hist_parts"] == 4

    specs = [(s.column, s.lo, s.hi, s.nbins) for s in DEFAULT_DRIFT_COLUMNS]
    histogram_frames(fx.curated, specs).write.parquet(f"{base}/bstats")
    rc, summary, _ = _run_cli(
        capsys,
        ["drift", "--stats-a", f"{out}/stats", "--stats-b", f"{base}/bstats"],
    )
    assert rc == 1  # drift found → page (same contract as edrift/outliers)
    scores = {(s["part"], s["column"]): s for s in summary["scores"]}
    # the drift-injected part shows up; undrifted parts stay quiet
    assert scores[("p0001", "w")]["psi_fail"] is True
    assert scores[("p0000", "w")]["psi_fail"] is False

    # second micro-batch → the RAW append sink (<out>/hist_sink) now
    # holds TWO rows per part. drift and outliers pointed at it must
    # auto-collapse to the current state (rows_total is the
    # streamed-sink signature) instead of refusing with the
    # one-row-per-part guard — <out>/stats stays the pre-collapsed
    # convenience copy
    fx.raw.coalesce(1).write.mode("append").parquet(src)
    rc, _, _ = _run_cli(
        capsys,
        ["stream", "--source", src, "--out", out, "--checkpoint", ckpt,
         "--histograms"],
    )
    assert rc == 0
    assert spark.read.parquet(f"{out}/hist_sink").count() == 8  # 2 rows/part
    rc, summary, _ = _run_cli(
        capsys,
        ["drift", "--stats-a", f"{out}/hist_sink", "--stats-b", f"{base}/bstats"],
    )
    assert rc == 1 and len(summary["scores"]) == 12  # drifted part still present
    rc, summary, _ = _run_cli(
        capsys,
        ["outliers", "--stats", f"{out}/hist_sink", "--metrics", "rows_total"],
    )
    # every part doubled identically → uniform, nothing flagged
    assert rc == 0 and summary["scored"] == 4 and summary["outliers"] == []


def test_ann_cli_ivf_and_hyperplane(spark, tmp_path_factory, capsys):
    """`ann` subcommand: trained-IVF (production default) and
    hyperplane-LSH top-k from the CLI; brute mode is the exactness
    anchor — IVF/LSH results must be subsets of the corpus and carry
    k rows per query when enough candidates exist."""
    out_base = tmp_path_factory.mktemp("ann")
    src = "/root/testdata/sf0.001/embeddings.parquet"

    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", src, "--out", f"{out_base}/ivf",
         "--queries", "0,1,2,3", "--mode", "ivf",
         "--train-k", "12", "--train-iters", "2", "--nprobe", "3",
         "--recall"],
    )
    assert rc == 0
    assert summary["mode"] == "ivf" and summary["queries"] == 4
    # the tuning readout: macro recall@k vs a brute pass on the same
    # queries. This corpus's neighbors are deliberately weak (top-5
    # cosines 0.26-0.49), so partial probing is lossy — but probing
    # ALL 12 cells is exhaustive search and must hit recall 1.0 exactly
    assert 0.0 < summary["recall_at_k"] <= 1.0
    partial_recall = summary["recall_at_k"]
    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", src, "--out", f"{out_base}/ivf_all",
         "--queries", "0,1,2,3", "--mode", "ivf",
         "--train-k", "12", "--train-iters", "2", "--nprobe", "12",
         "--recall"],
    )
    assert rc == 0 and summary["recall_at_k"] == 1.0 >= partial_recall
    got = spark.read.parquet(f"{out_base}/ivf/topk")
    per_q = {r["query_id"]: r["cnt"] for r in got.groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(per_q) == {0, 1, 2, 3}
    assert all(c == 5 for c in per_q.values())

    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", src, "--out", f"{out_base}/hp",
         "--queries", "0,1", "--mode", "hyperplane", "--multiprobe", "1"],
    )
    assert rc == 0 and summary["rows"] == 10

    # operator-error contract: unsupported probe radius → stderr + 2
    rc = cli.main(
        ["ann", "--input", src, "--out", f"{out_base}/bad",
         "--queries", "0", "--mode", "hyperplane", "--multiprobe", "9"]
    )
    err = capsys.readouterr().err
    assert rc == 2 and "multiprobe=9" in err and "Traceback" not in err

    # no matching query ids → stderr + 2
    rc = cli.main(
        ["ann", "--input", src, "--out", f"{out_base}/none",
         "--queries", "zzz"]
    )
    err = capsys.readouterr().err
    assert rc == 2 and "no rows match" in err


def test_outliers_cli_flags_anomalous_part(spark, tmp_path_factory, capsys):
    """`outliers` subcommand: a stats table with one grossly short part
    → exit 1 + that part in the flagged list; the same table minus the
    anomaly → exit 0, empty list. Default metric selection must pick
    numeric scalar stat__ columns only (no blobs/arrays/specs)."""
    from bigdime_spark.sources.tables import write_table

    base = str(tmp_path_factory.mktemp("outl"))
    rows = [(f"p{i:02d}", 1000 + (i % 7), 0) for i in range(16)] + [("p16", 3, 0)]
    stats = spark.createDataFrame(
        rows, "part string, stat__rows long, stat__caption__nulls long"
    )
    write_table(stats, f"{base}/stats", partition_by=None)
    rc, summary, _ = _run_cli(capsys, ["outliers", "--stats", f"{base}/stats"])
    assert rc == 1
    assert summary["metrics"] == ["stat__rows", "stat__caption__nulls"]
    assert [o["part"] for o in summary["outliers"]] == ["p16"]
    assert summary["outliers"][0]["metric"] == "stat__rows"
    assert summary["scored"] == 34

    write_table(stats.filter(F.col("part") != "p16"), f"{base}/clean", partition_by=None)
    rc, summary, _ = _run_cli(capsys, ["outliers", "--stats", f"{base}/clean"])
    assert rc == 0 and summary["outliers"] == []

    rc, _, err = _run_cli(
        capsys, ["outliers", "--stats", f"{base}/stats", "--metrics", "nope"]
    )
    assert rc == 2 and "not in stats frame" in err


def test_outliers_cli_surfaces_not_ready_and_refuses_non_numeric(spark, tmp_path_factory, capsys):
    """A NULL metric (the part whose profile could not be computed) must
    surface in `not_ready` and flip the exit code — hiding it would
    contradict the operator's 'degrades loudly' contract. A non-numeric
    --metrics column gets the clean exit-2 ValueError, not a Py4J cast
    trace."""
    from bigdime_spark.sources.tables import write_table

    base = str(tmp_path_factory.mktemp("outlnr"))
    rows = [(f"p{i:02d}", float(100 + i % 3), "spec") for i in range(8)] + [
        ("p08", None, "spec")
    ]
    stats = spark.createDataFrame(
        rows, "part string, stat__w__avg double, stat__w__hist_spec string"
    )
    write_table(stats, f"{base}/stats", partition_by=None)
    rc, summary, _ = _run_cli(capsys, ["outliers", "--stats", f"{base}/stats"])
    assert rc == 1 and summary["outliers"] == []
    assert [r["part"] for r in summary["not_ready"]] == ["p08"]

    rc, _, err = _run_cli(
        capsys,
        ["outliers", "--stats", f"{base}/stats",
         "--metrics", "stat__w__hist_spec"],
    )
    assert rc == 2 and "must be numeric" in err


def test_ann_cli_integrity_preflight(spark, tmp_path_factory, capsys):
    """--integrity: a clean table proceeds to search; a table with one
    NaN vector aborts with the defect counts on stderr and exit 2 —
    before any cosine is computed over poisoned data."""
    base = tmp_path_factory.mktemp("annint")
    out = str(base / "out")
    clean = "/root/testdata/sf0.001/embeddings.parquet"
    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", clean, "--out", out, "--queries", "0,1",
         "--mode", "brute", "--integrity"],
    )
    assert rc == 0 and summary["rows"] == 10

    poisoned = spark.read.parquet(clean).limit(50).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 3, F.array(*[F.lit(float("nan"))] * 64))
        .otherwise(F.col("embedding")),
    )
    poisoned.write.parquet(f"{base}/bad")
    rc, _, err = _run_cli(
        capsys,
        ["ann", "--input", f"{base}/bad", "--out", f"{base}/out2",
         "--queries", "0,1", "--mode", "brute", "--integrity"],
    )
    assert rc == 2 and "n_nonfinite=1" in err


def test_rollup_zone_overlap_cli(spark, tmp_path_factory, capsys):
    """rollup --zone-overlap: clustering depth for a column straight
    from a persisted stats dir (zero rescan of the data), plus the
    exit-2 contract when the column was never profiled numeric."""
    from bigdime_spark.sources.synth import build_fixture

    base = tmp_path_factory.mktemp("zo")
    fx = build_fixture(spark, n_rows=128, n_parts=4)
    p = StatsProfile(
        columns=[
            ColumnProfile("image_id", distinct=True),
            ColumnProfile("w", numeric=True),
        ]
    )
    fx.raw.groupBy("part").agg(*p.agg_exprs()).write.parquet(f"{base}/stats")

    rc, summary, _ = _run_cli(
        capsys,
        ["rollup", "--stats", f"{base}/stats", "--zone-overlap", "w"],
    )
    assert rc == 0
    zo = summary["zone_overlap"]
    assert zo["column"] == "w"
    assert zo["n_parts"] == 4 and zo["n_ranged"] == 4
    assert 1 <= zo["max_depth"] <= 4
    assert zo["worst"] and zo["worst"][0]["depth"] == zo["max_depth"]

    # column never profiled numeric → no min/max ranges → clean exit 2
    rc, _, err = _run_cli(
        capsys,
        ["rollup", "--stats", f"{base}/stats", "--zone-overlap", "caption"],
    )
    assert rc == 2
    assert "stat__caption__" in err and "Traceback" not in err

    # sketch-free stats dir (numeric-only profile): --zone-overlap alone
    # needs only min/max columns — no __hll gate, no distinct rollup
    p2 = StatsProfile(columns=[ColumnProfile("w", numeric=True)])
    fx.raw.groupBy("part").agg(*p2.agg_exprs()).write.parquet(
        f"{base}/stats_nohll"
    )
    rc, summary, _ = _run_cli(
        capsys,
        ["rollup", "--stats", f"{base}/stats_nohll", "--zone-overlap", "w"],
    )
    assert rc == 0
    assert "distincts" not in summary
    assert summary["zone_overlap"]["n_parts"] == 4


def test_run_zone_clustering_cli(spark, tmp_path_factory, capsys):
    """run --zone-clustering: the synth fixture's w is random per part
    (every range overlaps every other), so the layout gate FAILs all
    parts and the run exits 1; at --zone-max-overlap 1.0 nothing can
    exceed the bound and the same fixture passes. The first run's raw
    carries an extra column, so its violations also hold schema rows
    (part "*"), and the summary counts every violation row."""
    fx = str(tmp_path_factory.mktemp("zc"))
    out1 = str(tmp_path_factory.mktemp("zc_out1"))
    out2 = str(tmp_path_factory.mktemp("zc_out2"))
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "128", "--parts", "4", "--out", fx]
    )
    assert rc == 0
    spark.read.parquet(f"{fx}/raw").withColumn("exif_json", F.lit("{}")).write.partitionBy(
        "part"
    ).parquet(f"{fx}/raw_extra")

    rc, summary, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw_extra", "--out", out1, "--zone-clustering", "w"],
    )
    assert rc == 1
    assert summary["schema_mismatches"] >= 1
    violations = spark.read.parquet(f"{out1}/violations")
    assert violations.filter(F.col("part") == "*").count() >= 1
    assert violations.filter(F.col("part") != "*").count() >= 1
    assert summary["violations"] == violations.count()
    fails = {
        r["part"]
        for r in spark.read.parquet(f"{out1}/verdicts")
        .filter(
            (F.col("constraint") == "zone_clustering.w")
            & (F.col("verdict") == "FAIL")
        )
        .collect()
    }
    assert fails == {"p0000", "p0001", "p0002", "p0003"}

    rc, _, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", out2,
         "--zone-clustering", "w", "--zone-max-overlap", "1.0"],
    )
    assert rc == 0


def test_ann_cli_sq_mode(spark, tmp_path_factory, capsys):
    """`ann --mode sq`: int8-quantized scan + exact re-rank from the
    CLI; with a generous refine the recall readout must be perfect on
    the fixture, and k rows land per query."""
    out = tmp_path_factory.mktemp("annsq")
    src = "/root/testdata/sf0.001/embeddings.parquet"
    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", src, "--out", f"{out}/sq",
         "--queries", "0,1,2,3", "--mode", "sq", "--refine", "8",
         "--recall"],
    )
    assert rc == 0
    assert summary["mode"] == "sq" and summary["rows"] == 20
    assert summary["recall_at_k"] == 1.0
    # operator-error contract: bad refine → stderr + exit 2
    rc = cli.main(
        ["ann", "--input", src, "--out", f"{out}/bad",
         "--queries", "0", "--mode", "sq", "--refine", "0"]
    )
    assert rc == 2


def test_ann_cli_pq_mode(spark, tmp_path_factory, capsys):
    """`ann --mode pq`: m-byte product-quantized scan + ADC scoring +
    exact re-rank from the CLI; with a generous refine the recall
    readout must be perfect on the fixture. Bad geometry (dim not
    divisible by --pq-m) is the clean operator-error contract."""
    out = tmp_path_factory.mktemp("annpq")
    src = "/root/testdata/sf0.001/embeddings.parquet"
    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", src, "--out", f"{out}/pq",
         "--queries", "0,1,2,3", "--mode", "pq", "--refine", "100",
         "--pq-iters", "1", "--recall"],
    )
    assert rc == 0
    assert summary["mode"] == "pq" and summary["rows"] == 20
    # k*refine = 500 >= corpus: every candidate reaches the exact
    # re-rank, so recall is 1.0 by construction
    assert summary["recall_at_k"] == 1.0
    rc = cli.main(
        ["ann", "--input", src, "--out", f"{out}/bad",
         "--queries", "0", "--mode", "pq", "--pq-m", "7"]
    )
    assert rc == 2


def test_ann_cli_ivfpq_mode(spark, tmp_path_factory, capsys):
    """`ann --mode ivfpq`: trained coarse centroids + refined PQ
    codebooks from the CLI; a covering refine makes recall ==
    within-probed-cells recall (the IVF lever's), and rows land per
    query."""
    out = tmp_path_factory.mktemp("annivfpq")
    src = "/root/testdata/sf0.001/embeddings.parquet"
    rc, summary, _ = _run_cli(
        capsys,
        ["ann", "--input", src, "--out", f"{out}/ivfpq",
         "--queries", "0,1,2,3", "--mode", "ivfpq",
         "--train-k", "8", "--nprobe", "8", "--refine", "100",
         "--pq-iters", "0", "--recall"],
    )
    assert rc == 0
    assert summary["mode"] == "ivfpq" and summary["rows"] == 20
    # nprobe == train-k probes EVERY cell and refine covers the
    # corpus: nothing is pruned anywhere, recall must be exactly 1.0
    assert summary["recall_at_k"] == 1.0


def test_run_kmv_keys_and_history_kmv_gate(spark, tmp_path_factory, capsys):
    """`run --kmv-keys` stamps per-part bottom-k key sketches to
    <out>/kmv; the union of two runs feeds `history --kmv`, whose
    --max-lost-frac gate trips when run 2 dropped most of a part's
    keys. Mode exclusivity exits 2."""
    fx = str(tmp_path_factory.mktemp("kmvfx"))
    d = tmp_path_factory.mktemp("kmvout")
    rc, _, _ = _run_cli(
        capsys, ["synth", "--rows", "128", "--parts", "4", "--out", fx]
    )
    assert rc == 0
    rc, _, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw", "--out", f"{d}/o1",
         "--run-id", "r0001", "--kmv-keys", "image_id,caption",
         "--kmv-k", "32"],
    )
    assert rc == 0
    s1 = spark.read.parquet(f"{d}/o1/kmv")
    assert {r["run_id"] for r in s1.select("run_id").distinct().collect()} \
        == {"r0001"}
    assert {r["column"] for r in s1.select("column").distinct().collect()} \
        == {"image_id", "caption"}

    # run 2 on a raw that lost 3 of every 4 image_ids in EVERY part
    # (part = i % 4, so the i%16<4 slice keeps exactly one key in
    # four per part rather than one whole part)
    raw2 = spark.read.parquet(f"{fx}/raw").filter(
        F.substring("image_id", 13, 4).cast("int") % 16 < 4
    )
    raw2.write.parquet(f"{fx}/raw2")
    rc, _, _ = _run_cli(
        capsys,
        ["run", "--raw", f"{fx}/raw2", "--out", f"{d}/o2",
         "--run-id", "r0002", "--kmv-keys", "image_id", "--kmv-k", "32"],
    )
    assert rc == 0
    s1.filter(F.col("column") == "image_id").unionByName(
        spark.read.parquet(f"{d}/o2/kmv")
    ).write.parquet(f"{d}/hist")

    rc, out, _ = _run_cli(capsys, ["history", "--kmv", f"{d}/hist"])
    assert rc == 0 and out["mode"] == "kmv"
    assert len(out["worst"]) == 4  # one row per part, single column
    for r in out["worst"]:
        assert r["column"] == "image_id"
        assert r["lost_est"] > r["new_est"]
        assert r["n_prev_est"] > r["n_cur_est"]

    rc, _, _ = _run_cli(
        capsys,
        ["history", "--kmv", f"{d}/hist", "--max-lost-frac", "0.5"],
    )
    assert rc == 1  # ~75% of keys lost per part > 0.5
    rc, _, _ = _run_cli(
        capsys,
        ["history", "--kmv", f"{d}/hist", "--max-lost-frac", "0.95"],
    )
    assert rc == 0
    rc, _, err = _run_cli(
        capsys,
        ["history", "--kmv", f"{d}/hist", "--verdicts", f"{d}/o1/verdicts"],
    )
    assert rc == 2 and "exactly one" in err
    # a single run cannot churn → operator-error contract, exit 2
    rc, _, err = _run_cli(capsys, ["history", "--kmv", f"{d}/o1/kmv"])
    assert rc == 2 and ">= 2 runs" in err
