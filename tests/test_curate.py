"""End-to-end corpus curation (plans/curate.py + CLI `curate`).

Planted corpus: 24 clean English docs across 3 domains, plus one doc
per failure mode (short, repetitive, German, PII), one exact-dup pair
and one near-dup pair. Every stage must drop exactly its plants and
the per-stage accounting must say so.
"""

from __future__ import annotations

import json
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from bigdime_spark import cli
from bigdime_spark.plans import curate as curate_mod
from bigdime_spark.plans.curate import CurateConfig, CurateResult, curate


def _clean_text(i: int) -> str:
    # per-doc unique tail keeps clean docs below the 0.5 Jaccard
    # near-dup bar (a shared ~10-token prefix alone is ~0.24)
    unique = " ".join(f"u{i}w{j}" for j in range(12))
    return "the cat and the dog is to walk in town " + unique + f" tail{i}"


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"dom{i % 3}", _clean_text(i)) for i in range(24)]
    base = " ".join(f"word{j} the of and is" for j in range(10))
    rows += [
        (100, "dom0", "the cat is"),                                    # min_tokens (still 'en')
        (101, "dom1", "the line is a line\n" * 12),                     # dup lines
        (102, "dom2", "der hund und die katze ist ein tier nicht da"),  # German
        (103, "dom0", "the mail of and is a to in reach me a@b.com"),   # PII
        (110, "dom1", base),                                            # exact dup
        (111, "dom1", base),                                            #   twin
        (120, "dom2", base + " extra"),                                 # near dup of 110
    ]
    return spark.createDataFrame(rows, "doc_id bigint, source string, text string")


FULL = CurateConfig(
    min_tokens=5,
    max_dup_line_frac=0.5,
    langs=("en",),
    drop_pii=True,
    exact_dedup=True,
    minhash_dedup=True,
    minhash_threshold=0.5,
)


def test_gates_drop_exactly_the_plants(corpus):
    res = curate(corpus, CurateConfig(
        min_tokens=5, max_dup_line_frac=0.5, langs=("en",), drop_pii=True
    ))
    c = res.counts
    assert c["input"] == 31
    assert c["drop_min_tokens"] == 1
    assert c["drop_dup_line_frac"] == 1
    assert c["drop_lang"] == 1
    assert c["drop_pii"] == 1
    assert c["after_gates"] == 27 == c["output"]
    ids = {r["doc_id"] for r in res.curated.select("doc_id").collect()}
    assert ids == set(range(24)) | {110, 111, 120}
    res.release()


def test_dedup_stages_keep_min_id(corpus):
    res = curate(corpus, FULL)
    c = res.counts
    assert c["after_gates"] == 27
    assert c["after_exact_dedup"] == 26          # 111 collapsed into 110
    assert c["after_neardup"] == 25 == c["output"]  # 120 near-dup of 110
    ids = {r["doc_id"] for r in res.curated.select("doc_id").collect()}
    assert 110 in ids and 111 not in ids and 120 not in ids
    res.release()


def test_counts_monotone_and_stage_order(corpus):
    res = curate(corpus, FULL)
    stages = ["input", "after_gates", "after_exact_dedup", "after_neardup"]
    vals = [res.counts[s] for s in stages]
    assert vals == sorted(vals, reverse=True)
    res.release()


def test_mix_sampling_and_shards(corpus):
    res = curate(corpus, CurateConfig(
        mix_weights={"dom0": 1.0, "dom1": 1.0},
        target_rows=12,
        seed="t",
        shard_budget=40,
    ))
    out = res.curated
    assert "shard_id" in out.columns
    doms = {r["source"] for r in out.select("source").distinct().collect()}
    assert doms <= {"dom0", "dom1"}           # dom2 excluded from the mix
    assert res.counts["after_sample"] >= res.counts["after_shards"] - 0  # shards add no rows
    assert res.counts["output"] == res.counts["after_shards"] == out.count()
    # shard ids form a dense 0..max prefix (global prefix sum)
    sids = sorted({r["shard_id"] for r in out.select("shard_id").collect()})
    assert sids == list(range(len(sids)))
    res.release()


def test_uniform_rate_path_and_config_validation(corpus):
    res = curate(corpus, CurateConfig(sample_rate=0.5, seed="u"))
    assert 0 < res.counts["after_sample"] < 31
    res.release()
    with pytest.raises(ValueError, match="mutually exclusive"):
        CurateConfig(mix_weights={"a": 1}, sample_rate=0.5, target_rows=5)
    with pytest.raises(ValueError, match="target_rows"):
        CurateConfig(mix_weights={"a": 1})


def test_noop_config_passes_everything_through(corpus):
    res = curate(corpus, CurateConfig())
    assert res.counts == {"input": 31, "after_gates": 31, "output": 31}
    res.release()


def _run_cli(capsys, argv):
    rc = cli.main(argv)
    out = capsys.readouterr()
    lines = [ln for ln in out.out.strip().splitlines() if ln.startswith("{")]
    return rc, (json.loads(lines[-1]) if lines else None), out.err


def test_cli_curate_end_to_end(spark, corpus, tmp_path_factory, capsys):
    base = str(tmp_path_factory.mktemp("curate"))
    corpus.write.parquet(f"{base}/docs")
    rc, summary, _ = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--min-tokens", "5", "--langs", "en", "--drop-pii",
        "--exact-dedup", "--mix", "dom0=1,dom1=1,dom2=1",
        "--target-rows", "15", "--shard-budget", "60",
    ])
    assert rc == 0
    assert summary["cmd"] == "curate"
    assert summary["input"] == 31
    assert summary["after_exact_dedup"] == summary["after_gates"] - 1
    written = spark.read.parquet(f"{base}/out/curated")
    assert written.count() == summary["output"]
    assert "shard_id" in written.columns


def test_cli_curate_bad_mix_exits_2(corpus, tmp_path_factory, capsys):
    base = str(tmp_path_factory.mktemp("curate2"))
    corpus.write.parquet(f"{base}/docs")
    rc, _, err = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--mix", "dom0=notanumber",
    ])
    assert rc == 2 and "bad --mix" in err
    rc2, _, err2 = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--mix", "dom0=1",
    ])
    assert rc2 == 2 and "target_rows" in err2


def test_boilerplate_gate_drops_hot_fraction_docs(spark, corpus):
    """Stage 3b: a doc that is PURE shared prefix (hot_fraction 1.0)
    is dropped; clean docs whose hot_fraction is the prefix's ~0.2
    survive the 0.5 bar."""
    boiler = spark.createDataFrame(
        [(130, "dom0", "the cat and the dog is to walk in town")],
        "doc_id bigint, source string, text string",
    )
    df = corpus.union(boiler)
    res = curate(df, CurateConfig(
        max_hot_fraction=0.5, hot_gram_n=8, hot_gram_min_docs=3
    ))
    c = res.counts
    assert c["input"] == 32
    # dropped: the planted pure-prefix doc AND the 110/111/120 triplet
    # (with dedup off, their shared 50-token base IS hot boilerplate)
    assert c["after_boilerplate"] == 28
    assert c["output"] == 28
    kept = {r["doc_id"] for r in res.curated.select("doc_id").collect()}
    assert kept.isdisjoint({110, 111, 120, 130})
    assert set(range(24)) <= kept  # every clean doc survives
    res.release()


def test_cli_curate_boilerplate_flag(spark, corpus, tmp_path_factory, capsys):
    base = str(tmp_path_factory.mktemp("curate3"))
    boiler = spark.createDataFrame(
        [(130, "dom0", "the cat and the dog is to walk in town")],
        "doc_id bigint, source string, text string",
    )
    corpus.union(boiler).write.parquet(f"{base}/docs")
    rc, summary, _ = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--max-hot-fraction", "0.5", "--hot-gram-n", "8",
        "--hot-gram-min-docs", "3",
    ])
    assert rc == 0
    # planted prefix doc + the shared-base 110/111/120 triplet drop
    assert summary["after_boilerplate"] == summary["input"] - 4
    written = spark.read.parquet(f"{base}/out/curated")
    assert written.filter(F.col("doc_id") == 130).count() == 0


def test_quality_weighted_sampling_matches_predicate(corpus):
    """The weighted stage keeps EXACTLY the rows whose sample hash
    falls under floor(quality_score × rate × 2^40) — replayed here
    row-by-row, no statistics."""
    from bigdime_spark.functions.text import quality_metrics
    from bigdime_spark.operators.sampling import SAMPLE_SPACE, sample_hash

    rate = 0.9
    res = curate(corpus, CurateConfig(quality_weighted_rate=rate))
    kept = {r["doc_id"] for r in res.curated.select("doc_id").collect()}
    res.release()
    ref = corpus.select(
        "doc_id",
        sample_hash(F.col("doc_id"), "curate").alias("h"),
        quality_metrics(F.col("text"))["quality_score"].alias("q"),
    ).collect()
    expected = {
        r["doc_id"]
        for r in ref
        if r["h"] < int(min(max(r["q"], 0.0), 1.0) * rate * SAMPLE_SPACE)
    }
    assert kept == expected
    assert 0 < len(kept) < 31  # the soft filter actually filtered


def test_sampling_modes_mutually_exclusive():
    with pytest.raises(ValueError, match="mutually exclusive"):
        CurateConfig(sample_rate=0.5, quality_weighted_rate=0.5)
    with pytest.raises(ValueError, match="mutually exclusive"):
        CurateConfig(
            mix_weights={"dom0": 1.0}, target_rows=10, quality_weighted_rate=0.5
        )


def test_cli_quality_weighted_flag(spark, corpus, tmp_path_factory, capsys):
    d = tmp_path_factory.mktemp("curate_qw")
    corpus.write.mode("overwrite").parquet(f"{d}/in")
    rc = cli.main([
        "curate", "--input", f"{d}/in", "--out", f"{d}/out",
        "--quality-weighted-rate", "0.9",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["after_sample"] == out["output"] < out["input"]
    rc = cli.main([
        "curate", "--input", f"{d}/in", "--out", f"{d}/out2",
        "--quality-weighted-rate", "0.9", "--sample-rate", "0.5",
    ])
    assert rc == 2


def test_containment_stage_drops_excerpts(spark, corpus):
    """Stage 3a: a contiguous 6-token excerpt of doc 0 (containment
    1.0, Jaccard ~0.2 — invisible to the minhash stage) is dropped;
    the 110/111/120 family collapses onto 120 (110's base grams sit
    whole inside 120's base+extra, and 111 is 110's mutual twin);
    every other clean doc survives untouched."""
    excerpt = spark.createDataFrame(
        [(130, "dom0", " ".join(f"u0w{j}" for j in range(6)))],
        "doc_id bigint, source string, text string",
    )
    df = corpus.union(excerpt)
    res = curate(df, CurateConfig(containment_dedup=True))
    c = res.counts
    assert c["input"] == 32
    assert c["after_containment"] == 29
    assert c["output"] == 29  # last live stage feeds the summary
    kept = {r["doc_id"] for r in res.curated.select("doc_id").collect()}
    assert kept.isdisjoint({110, 111, 130})
    assert 120 in kept
    assert set(range(24)) <= kept
    res.release()


def test_cli_curate_containment_flag(spark, corpus, tmp_path_factory, capsys):
    base = str(tmp_path_factory.mktemp("curate4"))
    excerpt = spark.createDataFrame(
        [(130, "dom0", " ".join(f"u0w{j}" for j in range(6)))],
        "doc_id bigint, source string, text string",
    )
    corpus.union(excerpt).write.parquet(f"{base}/docs")
    rc, summary, _ = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--containment-dedup", "--containment-threshold", "0.8",
    ])
    assert rc == 0
    assert summary["after_containment"] == summary["input"] - 3
    written = spark.read.parquet(f"{base}/out/curated")
    assert written.filter(F.col("doc_id").isin(110, 111, 130)).count() == 0


def test_span_coverage_gate_drops_high_coverage_docs(spark, corpus):
    """Stage 3c: a doc that is PURE repeated spans (coverage 1.0) is
    dropped; clean docs whose shared 10-token prefix is ~0.43 of
    their tokens survive the 0.5 bar. Within-doc repetition (doc 101)
    never flags — document frequency counts DISTINCT docs."""
    boiler = spark.createDataFrame(
        [(131, "dom0", "the cat and the dog is to walk in town")],
        "doc_id bigint, source string, text string",
    )
    df = corpus.union(boiler)
    res = curate(df, CurateConfig(
        max_span_coverage=0.5, span_n=8, span_min_docs=3
    ))
    c = res.counts
    assert c["input"] == 32
    # dropped: the planted pure-prefix doc AND the 110/111/120 triplet
    # (dedup off → their shared base is a full-coverage span)
    assert c["after_span_coverage"] == 28 == c["output"]
    kept = {r["doc_id"] for r in res.curated.select("doc_id").collect()}
    assert kept.isdisjoint({110, 111, 120, 131})
    assert set(range(24)) <= kept
    assert 101 in kept  # within-doc repetition is not cross-doc
    res.release()


def test_cli_curate_span_coverage_flag(spark, corpus, tmp_path_factory, capsys):
    base = str(tmp_path_factory.mktemp("curate4"))
    boiler = spark.createDataFrame(
        [(131, "dom0", "the cat and the dog is to walk in town")],
        "doc_id bigint, source string, text string",
    )
    corpus.union(boiler).write.parquet(f"{base}/docs")
    rc, summary, _ = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--max-span-coverage", "0.5", "--span-n", "8",
        "--span-min-docs", "3",
    ])
    assert rc == 0
    assert summary["after_span_coverage"] == summary["input"] - 4
    written = spark.read.parquet(f"{base}/out/curated")
    assert written.filter(F.col("doc_id") == 131).count() == 0


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_release_leaves_no_cached_frame(spark, corpus):
    """curate caches only the returned snapshot: the near-dup pairs and
    every earlier intermediate are gone once it returns."""
    spark.catalog.clearCache()
    res = curate(corpus, FULL)
    assert res.counts["after_neardup"] == 25
    res.release()
    assert _cache_manager(spark).isEmpty()


def test_failed_stage_releases_cached_frames(
    spark, corpus, tmp_path_factory, capsys, monkeypatch
):
    """A stage that raises after the near-dup pairs are cached exits 2
    and leaves nothing cached: neither the pairs nor the live
    intermediate."""
    def boom(*args, **kwargs):
        raise ValueError("planted stage failure")

    monkeypatch.setattr(curate_mod, "drop_near_dups", boom)
    base = str(tmp_path_factory.mktemp("curate_fail"))
    corpus.write.parquet(f"{base}/docs")
    spark.catalog.clearCache()
    rc, _, err = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--exact-dedup", "--minhash-dedup",
    ])
    assert rc == 2 and "planted stage failure" in err
    assert _cache_manager(spark).isEmpty()


def test_curated_frame_is_a_plan_leaf(corpus):
    """Each stage is materialized as a snapshot, so the curated frame's
    plan is one LogicalRDD node, not the join tree of every stage."""
    res = curate(corpus, FULL)
    plan = res.curated._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    assert plan.children().isEmpty()
    res.release()


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_release_frees_every_persisted_rdd(
    spark, corpus, tmp_path_factory, capsys, monkeypatch
):
    """Snapshots never enter the CacheManager, so this looks at the
    context's persisted RDDs: after release(), and after a stage that
    raises, none that curate made is left. Compared as sets, because
    earlier tests in the shared session leave RDDs behind."""
    before = _persisted_rdd_ids(spark)
    res = curate(corpus, replace(FULL, containment_dedup=True))
    assert res.counts["after_containment"] == 25
    res.release()
    assert _persisted_rdd_ids(spark) - before == set()

    def boom(*args, **kwargs):
        raise ValueError("planted stage failure")

    monkeypatch.setattr(curate_mod, "drop_contained", boom)
    base = str(tmp_path_factory.mktemp("curate_fail_rdds"))
    corpus.write.parquet(f"{base}/docs")
    before = _persisted_rdd_ids(spark)
    rc, _, err = _run_cli(capsys, [
        "curate", "--input", f"{base}/docs", "--out", f"{base}/out",
        "--exact-dedup", "--minhash-dedup", "--containment-dedup",
    ])
    assert rc == 2 and "planted stage failure" in err
    assert _persisted_rdd_ids(spark) - before == set()
