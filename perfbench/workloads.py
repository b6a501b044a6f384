"""The benchmark's workloads: seeded inputs, one CLI operation, its check.

Each workload builds its inputs from the seed in ``setup``, names one
operation as a ``bigdime_spark.cli.main`` argv in ``argv``, checks that
operation's outputs in ``check``, and, for a traced run, replays the
layers the operation went through as standalone public calls in
``replay``. The suite workloads also read per-layer figures off the
frames the engine itself built during a traced operation, in
``frame_metrics``.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from probes import column_bytes, table_scans

#: rows of the test-data documents table (doc_id, text, source) the
#: corpus workload samples its base documents from
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def read_dir(path: str) -> pa.Table:
    """A parquet directory as Spark wrote it, read without Spark."""
    return pq.read_table(path)


def force(df) -> int:
    """Evaluate every row and column of ``df`` JVM-side and return its
    row count: a one-row count + bit_xor(xxhash64(*)) fold, so the
    timing covers the operator, not shipping rows to the driver."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("digest"),
    ).collect()[0]
    return row["n"]


def _word_grams(text: str, n: int) -> set[tuple[str, ...]]:
    words = text.split()
    return {tuple(words[k:k + n]) for k in range(len(words) - n + 1)}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ------------------------------------------------------------ suite_snapshot


class SuiteSnapshot:
    """Full validation of a raw+curated+manifest snapshot pair with the
    decode pass on: ``run --decode``, no lineage store."""

    name = "suite_snapshot"
    expected_rc = 1  # the planted violations fail their parts
    #: the four plants land on four distinct parts; the fifth stays clean
    n_rows, n_parts = 2000, 5
    not_null = ("image_id", "caption", "w", "h", "fmt")

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.fx = os.path.join(work, "fixture")
        rng = random.Random(seed)
        parts = rng.sample(range(self.n_parts), 4)

        def row_in(part: int) -> str:
            i = self.n_parts * rng.randrange(self.n_rows // self.n_parts) + part
            return f"img-{i:012d}"

        self.plant = {
            kind: (row_in(p), f"p{p:04d}")
            for kind, p in zip(("null_caption", "bitflip", "orphan", "caption_edit"), parts)
        }
        self.sizes = {"rows": self.n_rows, "parts": self.n_parts, "plant": self.plant}
        #: partitions and raw rows an operation validates
        self.validated_parts = [f"p{k:04d}" for k in range(self.n_parts)]
        self.validated_n = self.n_rows
        #: curated rows of those partitions (the orphan plant is
        #: missing from curated)
        self.curated_n = self.n_rows - 1

    def validated_rows(self, df):
        """The rows an operation validates (all of them here)."""
        return df

    # -- expected outcome of the plant, one entry per planted row
    def expected(self) -> tuple[set, set]:
        fails, viols = set(), set()
        effects = {
            "null_caption": (
                ("not_null.caption", "caption_equality", "checksum"),
                ("not_null.caption", "caption_equality"),
            ),
            "bitflip": (("decode", "checksum"), ("decode",)),
            "orphan": (("referential",), ("referential",)),
            "caption_edit": (("caption_equality",), ("caption_equality",)),
        }
        for kind, (image_id, part) in self.plant.items():
            failed, row_level = effects[kind]
            fails |= {(part, c) for c in failed}
            viols |= {(c, part, image_id) for c in row_level}
            if "checksum" in failed:
                viols.add(("checksum", part, None))
        return fails, viols

    def _spec(self):
        from bigdime_spark.sources.synth import InjectionSpec

        p = self.plant
        return InjectionSpec(
            null_caption=(p["null_caption"][0],),
            bitflip_bytes=(p["bitflip"][0],),
            orphan_raw=(p["orphan"][0],),
            caption_edit=(p["caption_edit"][0],),
        )

    def setup(self, spark, tracer) -> None:
        from bigdime_spark.sources.synth import build_fixture
        from bigdime_spark.sources.tables import write_table

        shutil.rmtree(self.fx, ignore_errors=True)
        with tracer.span("sources.synth.generate"):
            fx = build_fixture(
                spark, n_rows=self.n_rows, n_parts=self.n_parts, seed=self.seed, spec=self._spec()
            )
            write_table(fx.raw, f"{self.fx}/raw")
            write_table(fx.curated, f"{self.fx}/curated")
            write_table(fx.manifest, f"{self.fx}/manifest", partition_by=None)

    def argv(self, out: str, i: int) -> list[str]:
        return [
            "run",
            "--raw", f"{self.fx}/raw",
            "--curated", f"{self.fx}/curated",
            "--manifest", f"{self.fx}/manifest",
            "--out", out,
            "--run-id", f"op{i}",
            "--decode", "--decode-seed", str(self.seed),
        ]

    def items(self, summary: dict) -> int:
        return summary["rows_scanned"]

    def check(self, summary: dict, out: str) -> list[str]:
        errors = []
        fails, viols = self.expected()
        verdicts = read_dir(f"{out}/verdicts").to_pylist()
        got_fails = {(r["part"], r["constraint"]) for r in verdicts if r["verdict"] == "FAIL"}
        if got_fails != fails:
            errors.append(f"FAIL set: extra {got_fails - fails}, missing {fails - got_fails}")
        got_viols = {
            (r["constraint"], r["part"], r["image_id"])
            for r in read_dir(f"{out}/violations").to_pylist()
        }
        if got_viols != viols:
            errors.append(f"violations: extra {got_viols - viols}, missing {viols - got_viols}")
        if summary.get("rows_scanned") != self.n_rows:
            errors.append(f"rows_scanned {summary.get('rows_scanned')} != {self.n_rows}")
        return errors

    def frame_metrics(self, result) -> dict:
        """Raw-table bytes per validated row that the frames
        ``ValidationSuite.run`` persisted read, from their executed
        plans: the fused stats aggregation's own scans (payload-free
        while the checksum rides the decode scan), and every scan that
        reads the payload (one payload's worth when it is read once)."""
        raw_dir = f"{self.fx}/raw"
        sizes = column_bytes(raw_dir, self.validated_parts)
        schema = pq.read_schema(glob.glob(f"{raw_dir}/part=*/*.parquet")[0])
        payload = {f.name for f in schema if pa.types.is_binary(f.type)}

        def read(scans) -> int:
            return sum(sizes.get(c, 0) for cols in scans for c in cols)

        fused = [df for df in result.persisted if any(c.startswith("stat__") for c in df.columns)]
        payload_scans = [
            cols for df in result.persisted for cols in table_scans(df, raw_dir) if cols & payload
        ]
        return {
            "operators.stats.input_bytes_per_row": read(table_scans(fused[0], raw_dir))
            / self.validated_n,
            "operators.checksum.input_bytes_per_row": read(payload_scans) / self.validated_n,
        }

    def replay(self, spark, tracer, counters, out: str) -> dict:
        """The suite's operators standalone on the rows the operation
        validated, each forced by a one-row fold."""
        from pyspark.sql.types import BinaryType

        from bigdime_spark.operators.base import SuiteContext, fused_agg_exprs
        from bigdime_spark.operators.checksum import Checksum
        from bigdime_spark.operators.decode import DecodeIntegrity
        from bigdime_spark.operators.drift import DriftCheck
        from bigdime_spark.operators.keyed import KeyedSnapshotPass
        from bigdime_spark.operators.record_count import RecordCount
        from bigdime_spark.operators.row_checks import NotNull, default_image_domain_checks
        from bigdime_spark.operators.stats import default_image_stats
        from bigdime_spark.sources.tables import read_table

        m = {}
        raw, curated, manifest = (
            self.validated_rows(read_table(spark, f"{self.fx}/{t}"))
            for t in ("raw", "curated", "manifest")
        )
        ctx = SuiteContext(spark=spark, raw=raw, curated=curated, manifest=manifest)
        ctx.parts = raw.select("part").distinct()

        def spanned(name: str, fn):
            mark = counters.mark()
            with tracer.span(name) as rec:
                fn()
            eng = counters.since(mark)
            rec.update(eng)
            return rec["end"] - rec["start"], eng

        def stats_agg():
            light = [RecordCount(), *[NotNull(c) for c in self.not_null]]
            light += default_image_domain_checks()
            cols = [
                f.name
                for f in raw.schema.fields
                if f.name != "part" and not isinstance(f.dataType, BinaryType)
            ]
            exprs = list(default_image_stats().agg_exprs(include_histograms=False))
            force(raw.select("part", *cols).groupBy("part").agg(*fused_agg_exprs(light), *exprs))

        m["operators.stats.fused_agg_s"], _ = spanned("operators.stats.fused_agg", stats_agg)

        def decode():
            # the checksum riding the decode scan, as the suite runs it
            found, viol = DecodeIntegrity(
                seed=self.seed,
                snapshots=("raw", "curated"),
                carry_checksum=True,
                checksum_columns=Checksum().columns,
            ).run(ctx)
            force(found)
            if viol is not None:
                force(viol)

        secs, _ = spanned("operators.decode.run", decode)
        m["operators.decode.run_s"] = secs
        m["operators.decode.images_per_s"] = (self.validated_n + self.curated_n) / secs

        def keyed():
            for _, v_df, viol in KeyedSnapshotPass(key="image_id").run(ctx):
                force(v_df)
                if viol is not None:
                    force(viol)

        secs, eng = spanned("operators.keyed.run", keyed)
        m["operators.keyed.run_s"] = secs
        m["operators.keyed.shuffle_write_bytes"] = eng["shuffle_write_bytes"]

        secs, eng = spanned("operators.drift.run", lambda: force(DriftCheck().run(ctx)[0]))
        m["operators.drift.run_s"] = secs
        m["operators.drift.tasks"] = eng["tasks"]
        m.update(self.replay_lineage(spark, spanned, out))
        return m

    def replay_lineage(self, spark, spanned, out: str) -> dict:
        return {}


# --------------------------------------------------------- suite_incremental


class SuiteIncremental(SuiteSnapshot):
    """The nightly append: the lineage store already holds every part
    but the last as VALIDATED; ``run --lineage`` resumes, validates only
    the newly landed clean part with decode off, writes its outputs and
    appends to lineage. Each operation starts from a fresh copy of the
    same seeded store."""

    name = "suite_incremental"
    expected_rc = 0
    n_rows, n_parts = 1000, 5

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.new_part = f"p{self.n_parts - 1:04d}"
        self.done = [f"p{k:04d}" for k in range(self.n_parts - 1)]
        self.lineage0 = os.path.join(work, "lineage0")
        per_part = self.n_rows // self.n_parts
        self.validated_parts = [self.new_part]
        self.validated_n = self.curated_n = per_part
        self.sizes = {"rows": self.n_rows, "parts": self.n_parts, "new_part_rows": per_part}

    def validated_rows(self, df):
        from bigdime_spark.plans.lineage import apply_resume_filter

        return apply_resume_filter(df, self.done)

    def setup(self, spark, tracer) -> None:
        from bigdime_spark.plans.lineage import VALIDATED, LineageStore
        from bigdime_spark.schema import LINEAGE_SCHEMA
        from bigdime_spark.sources.synth import build_fixture
        from bigdime_spark.sources.tables import write_table

        shutil.rmtree(self.fx, ignore_errors=True)
        shutil.rmtree(self.lineage0, ignore_errors=True)
        with tracer.span("sources.synth.generate"):
            fx = build_fixture(spark, n_rows=self.n_rows, n_parts=self.n_parts, seed=self.seed)
            write_table(fx.raw, f"{self.fx}/raw")
            write_table(fx.curated, f"{self.fx}/curated")
            write_table(fx.manifest, f"{self.fx}/manifest", partition_by=None)
        earlier = [("nightly-0", p, VALIDATED, self.validated_n, 0, 0) for p in self.done]
        LineageStore(self.lineage0).append(spark.createDataFrame(earlier, LINEAGE_SCHEMA))

    def argv(self, out: str, i: int) -> list[str]:
        os.makedirs(out, exist_ok=True)
        shutil.copytree(self.lineage0, f"{out}/lineage")
        return [
            "run",
            "--raw", f"{self.fx}/raw",
            "--curated", f"{self.fx}/curated",
            "--manifest", f"{self.fx}/manifest",
            "--out", out,
            "--lineage", f"{out}/lineage",
            "--run-id", f"op{i}",
        ]

    items = None

    def check(self, summary: dict, out: str) -> list[str]:
        errors = []
        verdicts = read_dir(f"{out}/verdicts").to_pylist()
        parts = {r["part"] for r in verdicts} - {"*"}
        if parts != {self.new_part}:
            errors.append(f"validated parts {parts} != {{{self.new_part!r}}}")
        not_pass = [(r["part"], r["constraint"], r["verdict"]) for r in verdicts if r["verdict"] != "PASS"]
        if not_pass:
            errors.append(f"verdicts not PASS: {not_pass}")
        run_id = summary.get("run_id")
        lineage = read_dir(f"{out}/lineage").to_pylist()
        gained = {(r["part"], r["status"]) for r in lineage if r["run_id"] == run_id}
        if gained != {(self.new_part, "VALIDATED")} or len(lineage) != self.n_parts:
            errors.append(f"lineage gained {gained} ({len(lineage)} rows)")
        if summary.get("rows_scanned") != self.validated_n:
            errors.append(f"rows_scanned {summary.get('rows_scanned')} != {self.validated_n}")
        return errors

    def replay_lineage(self, spark, spanned, out: str) -> dict:
        """The lineage read and append of the operation, on a copy of
        the store it left."""
        from pyspark.sql import functions as F

        from bigdime_spark.plans.lineage import LineageStore

        store = LineageStore(f"{out}/lineage")
        secs, _ = spanned(
            "plans.lineage.validated_parts", lambda: store.validated_parts(spark).collect()
        )
        m = {"plans.lineage.validated_parts_s": secs}
        copy = LineageStore(os.path.join(self.work, "replay_lineage"))
        shutil.rmtree(copy.path, ignore_errors=True)
        shutil.copytree(store.path, copy.path)
        lineage = store.read(spark).drop("_ingested_ms").withColumn("run_id", F.lit("replay"))
        m["plans.lineage.append_s"], _ = spanned("plans.lineage.append", lambda: copy.append(lineage))
        return m


# ------------------------------------------------------------- corpus_curate


class CorpusCurate:
    """``curate`` over a documents corpus sampled by the seed from the
    test-data documents table, with planted exact copies,
    near-duplicates and excerpts: gates → exact → MinHash → containment
    → boilerplate → span coverage → shard packing. No sampling stage,
    so the plant check is exact."""

    name = "corpus_curate"
    expected_rc = 0
    n_docs, n_plants = 800, 8
    #: planted originals are drawn from documents at least this long,
    #: so an excerpt is a strict part of its original
    min_original_words = 40
    excerpt_words = 20
    shard_budget = 2000
    #: flags of the curate operation; ``replay`` reads the same values
    flags = {
        "min_tokens": 5,
        "max_dup_line_frac": 0.5,
        "max_hot_fraction": 0.5,
        "max_span_coverage": 0.5,
    }
    items = None

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.docs = os.path.join(work, "docs")
        self.sizes = {
            "docs": self.n_docs,
            "plants_per_kind": self.n_plants,
            "shard_budget": self.shard_budget,
        }

    def _corpus(self) -> pa.Table:
        """``n_docs`` rows of the documents table, then per planted
        original an exact copy, a one-word near-duplicate and an
        excerpt, all with ids above every document id (the min-id
        keeper rule keeps the original)."""
        rng = np.random.default_rng(self.seed)
        table = pq.read_table(DOCUMENTS)
        base = table.take(np.sort(rng.choice(table.num_rows, self.n_docs, replace=False)))
        ids = base.column("doc_id").to_pylist()
        texts = base.column("text").to_pylist()
        sources = base.column("source").to_pylist()
        # the documents hold near-duplicates of their own; an original
        # shares no 8-word gram with another document, so only its
        # plants can make the pipeline drop it
        grams = [_word_grams(t, 8) for t in texts]
        seen = Counter(g for gs in grams for g in gs)
        eligible = [
            k
            for k, t in enumerate(texts)
            if len(t.split()) >= self.min_original_words and all(seen[g] == 1 for g in grams[k])
        ]
        picks = [int(k) for k in rng.choice(eligible, self.n_plants, replace=False)]
        next_id = max(table.column("doc_id").to_pylist()) + 1
        planted = []
        for n, k in enumerate(picks):
            words = texts[k].split()
            near = list(words)
            near[len(near) // 2] = f"planted{n}"
            start = int(rng.integers(0, len(words) - self.excerpt_words))
            excerpt = words[start:start + self.excerpt_words]
            for text in (texts[k], " ".join(near), " ".join(excerpt)):
                planted.append(next_id)
                ids.append(next_id)
                texts.append(text)
                sources.append(sources[k])
                next_id += 1
        self.originals = {ids[k] for k in picks}
        self.planted = set(planted)
        return pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts),
                "source": pa.array(sources),
            }
        )

    def setup(self, spark, tracer) -> None:
        shutil.rmtree(self.docs, ignore_errors=True)
        os.makedirs(self.docs)
        with tracer.span("perfbench.corpus"):
            pq.write_table(self._corpus(), f"{self.docs}/part-00000.parquet")

    def argv(self, out: str, i: int) -> list[str]:
        f = self.flags
        return [
            "curate",
            "--input", self.docs,
            "--out", out,
            "--min-tokens", str(f["min_tokens"]),
            "--max-dup-line-frac", str(f["max_dup_line_frac"]),
            "--drop-pii",
            "--exact-dedup",
            "--minhash-dedup",
            "--containment-dedup",
            "--max-hot-fraction", str(f["max_hot_fraction"]),
            "--max-span-coverage", str(f["max_span_coverage"]),
            "--shard-budget", str(self.shard_budget),
        ]

    def check(self, summary: dict, out: str) -> list[str]:
        errors = []
        rows = read_dir(f"{out}/curated").select(["doc_id", "text", "shard_id"]).to_pylist()
        kept = {r["doc_id"] for r in rows}
        if kept & self.planted:
            errors.append(f"planted docs kept: {sorted(kept & self.planted)}")
        if self.originals - kept:
            errors.append(f"originals dropped: {sorted(self.originals - kept)}")
        if summary.get("output") != len(rows):
            errors.append(f"summary output {summary.get('output')} != {len(rows)} rows written")
        tokens: dict[int, int] = {}
        longest = 0
        for r in rows:
            n = len(r["text"].split())
            longest = max(longest, n)
            tokens[r["shard_id"]] = tokens.get(r["shard_id"], 0) + n
        # greedy offset packing: a shard holds at most budget + one row
        over = {s: t for s, t in tokens.items() if t > self.shard_budget + longest}
        if over:
            errors.append(f"shards over budget: {over}")
        return errors

    def replay(self, spark, tracer, counters, out: str) -> dict:
        """The curate stages standalone, each on the previous stage's
        persisted output, mirroring the pipeline's order."""
        from pyspark.sql import functions as F

        from bigdime_spark.functions.text import ws_token_count
        from bigdime_spark.operators.decontam import duplicated_gram_scan, span_coverage
        from bigdime_spark.operators.dedup import (
            containment_pairs,
            drop_contained,
            drop_exact_dups,
            drop_near_dups,
            jaccard_for_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
            word_ngram_shingles,
        )
        from bigdime_spark.operators.sampling import shard_pack
        from bigdime_spark.plans.curate import CurateConfig, curate
        from bigdime_spark.sources.tables import read_table

        f = self.flags
        cfg = CurateConfig(
            min_tokens=f["min_tokens"], max_dup_line_frac=f["max_dup_line_frac"], drop_pii=True
        )
        m = {}
        state = {}

        def advance(nxt):
            nxt = nxt.persist()
            nxt.count()
            if "cur" in state:
                state["cur"].unpersist()
            state["cur"] = nxt

        def stage(name: str, fn):
            with tracer.span(name) as rec:
                fn()
            return rec["end"] - rec["start"]

        docs = read_table(spark, self.docs)
        m["plans.curate.gates_s"] = stage(
            "plans.curate.gates", lambda: advance(curate(docs, cfg).curated)
        )
        m["operators.dedup.exact_s"] = stage(
            "operators.dedup.exact",
            lambda: advance(drop_exact_dups(state["cur"], ["text"], "doc_id")),
        )

        def minhash():
            cur = state["cur"]
            shingles = word_ngram_shingles(cur, "doc_id", "text", cfg.minhash_ngram)
            sigs = minhash_signatures(shingles).persist()
            with tracer.span("operators.dedup.lsh_candidate_pairs"):
                cands = lsh_candidate_pairs(sigs).persist()
                n_cand = cands.count()
            with tracer.span("operators.dedup.jaccard_for_pairs"):
                sizes = sigs.select("id", F.col("set_size").alias("sz"))
                pairs = (
                    jaccard_for_pairs(cands, shingles, sizes=sizes)
                    .filter(F.col("jaccard") >= cfg.minhash_threshold)
                    .select("id1", "id2", "jaccard")
                    .persist()
                )
                n_ok = pairs.count()
            with tracer.span("operators.dedup.drop_near_dups"):
                advance(drop_near_dups(cur, "doc_id", pairs))
            for df in (sigs, cands, pairs):
                df.unpersist()
            m["operators.dedup.lsh_candidate_pairs"] = n_cand
            m["operators.dedup.lsh_verified_ratio"] = n_ok / n_cand if n_cand else 0.0

        m["operators.dedup.minhash_s"] = stage("operators.dedup.minhash", minhash)

        def containment():
            cur = state["cur"]
            pairs = containment_pairs(
                cur, "doc_id", "text", ngram=cfg.minhash_ngram, threshold=cfg.containment_threshold
            )
            advance(drop_contained(cur, "doc_id", pairs))

        m["operators.dedup.containment_s"] = stage("operators.dedup.containment", containment)

        def hot_grams():
            cur = state["cur"]
            flagged = duplicated_gram_scan(
                cur, id_col="doc_id", text_col="text",
                n=cfg.hot_gram_n, min_docs=cfg.hot_gram_min_docs,
            ).filter(F.col("hot_fraction") > f["max_hot_fraction"])
            advance(cur.join(flagged.select("doc_id"), "doc_id", "left_anti"))

        m["operators.decontam.hot_gram_s"] = stage("operators.decontam.hot_gram", hot_grams)

        def spans():
            cur = state["cur"]
            dropped = span_coverage(
                cur, id_col="doc_id", text_col="text",
                n=cfg.span_n, min_docs=cfg.span_min_docs, hash_grams=True,
            ).filter(F.col("dup_fraction") > f["max_span_coverage"])
            advance(cur.join(dropped.select("doc_id"), "doc_id", "left_anti"))

        m["operators.decontam.span_coverage_s"] = stage(
            "operators.decontam.span_coverage", spans
        )
        m["operators.sampling.shard_pack_s"] = stage(
            "operators.sampling.shard_pack",
            lambda: force(
                shard_pack(
                    state["cur"], "doc_id", ws_token_count(F.col("text")), self.shard_budget
                )
            ),
        )
        state["cur"].unpersist()
        return m


WORKLOADS = {w.name: w for w in (SuiteSnapshot, SuiteIncremental, CorpusCurate)}
