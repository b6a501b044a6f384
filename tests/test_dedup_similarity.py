"""Unit oracles for the training-data-pipeline operators: dedup
(exact / MinHash-LSH / SimHash / n-gram Jaccard) and embedding
similarity (brute-force top-k / sign-LSH). Tiny in-memory tables with
hand-computable expectations.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bigdime_spark.operators import dedup, similarity

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "a"),
    (1, "the quick brown fox jumps over the lazy cat", "a"),  # near-dup of 0
    (2, "completely different words appear here only once", "a"),
    (3, "the quick brown fox jumps over the lazy dog", "b"),  # exact dup of 0
    (4, "spark engines shuffle partitions across executors nightly", "b"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def test_exact_dup_groups(docs):
    groups = dedup.exact_dup_groups(docs, "doc_id", ["text"]).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_copies"] == 2 and g["keeper"] == 0 and g["dup_ids"] == [0, 3]


def test_drop_exact_dups_keeps_min(docs):
    kept = dedup.drop_exact_dups(docs, ["text"], "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 1, 2, 4]


def test_minhash_lsh_finds_near_and_exact_dups(docs):
    pairs = dedup.minhash_lsh_dedup(
        docs, "doc_id", "text", ngram=2, num_hashes=16, bands=4, threshold=0.5
    )
    found = {(r["id1"], r["id2"]): r["jaccard"] for r in pairs.collect()}
    assert (0, 3) in found and found[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in found and 0.5 <= found[(0, 1)] < 1.0  # near dup
    assert all(i in (0, 1, 3) and j in (0, 1, 3) for i, j in found)


def test_minhash_modes_agree_on_candidates(docs):
    """md5 (oracle-portable) and xxhash64 (production) modes must find
    the same post-verification pairs — the exact Jaccard filter makes
    the hash family an implementation detail."""
    a = dedup.minhash_lsh_dedup(docs, "doc_id", "text", ngram=2, threshold=0.5, hash_mode="md5")
    b = dedup.minhash_lsh_dedup(docs, "doc_id", "text", ngram=2, threshold=0.5, hash_mode="xxhash")
    pa = {(r["id1"], r["id2"]) for r in a.collect()}
    pb = {(r["id1"], r["id2"]) for r in b.collect()}
    assert pa == pb


def test_minhash_lsh_dedup_materializes_once_and_cleans_up(spark, docs):
    """The pipeline is eager: its rows equal the lazy composition's,
    and afterwards the session caches exactly the returned pairs (the
    signatures were released inside the call) — after the caller's
    unpersist, nothing."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    shingles = dedup.word_ngram_shingles(docs, "doc_id", "text", 2)
    lazy = (
        dedup.jaccard_for_pairs(
            dedup.lsh_candidate_pairs(dedup.minhash_signatures(shingles)), shingles
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("id1", "id2", "jaccard")
    )
    expected = sorted(tuple(r) for r in lazy.collect())  # before anything is cached
    pairs = dedup.minhash_lsh_dedup(docs, "doc_id", "text", ngram=2, threshold=0.5)
    cached = cm.lookupCachedData(pairs._jdf)
    assert cached.isDefined()
    assert cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    assert sorted(tuple(r) for r in pairs.collect()) == expected
    pairs.unpersist()
    assert cm.isEmpty()


def test_simhash_identical_texts_equal_and_deterministic(docs):
    out = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text", bits=16).collect()}
    out2 = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text", bits=16).collect()}
    assert out == out2  # deterministic
    assert out[0] == out[3]  # identical text → identical fingerprint
    assert 0 <= out[0] < (1 << 16)
    # near-dup texts → small hamming distance (≤ 4 of 16 bits)
    ham = bin(out[0] ^ out[1]).count("1")
    assert ham <= 4
    # unrelated text → not forced equal to 0's fingerprint
    assert out[0] != out[4]


def test_simhash_dup_groups(docs):
    groups = dedup.simhash_dup_groups(docs, "doc_id", "text", bits=16).collect()
    assert any(set(g["ids"]) >= {0, 3} for g in groups)


def test_ngram_jaccard_blocked(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", "source", k=4, threshold=0.5)
    found = {(r["id1"], r["id2"]): r["jaccard"] for r in pairs.collect()}
    # 0 and 3 are exact dups but in DIFFERENT blocks → not compared
    assert (0, 3) not in found
    assert (0, 1) in found and found[(0, 1)] > 0.5


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0], 0),
    (1, [0.9, 0.1, 0.0, 0.0], 0),
    (2, [0.0, 1.0, 0.0, 0.0], 0),
    (3, [-1.0, 0.0, 0.0, 0.0], 1),
    (4, [0.70710678, 0.70710678, 0.0, 0.0], 1),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>, label int")


def test_brute_force_topk_order_and_values(vecs):
    out = similarity.brute_force_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=4).collect()
    ranked = [(r["rank"], r["neighbor_id"], r["cosine"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert [r[1] for r in ranked] == [1, 4, 2, 3]
    assert ranked[0][2] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert ranked[3][2] == -1.0


def test_sign_lsh_bucket_bits(vecs):
    b = vecs.select("vec_id", similarity.sign_lsh_bucket(F.col("embedding"), 4).alias("bucket"))
    got = {r["vec_id"]: r["bucket"] for r in b.collect()}
    assert got[0] == 0b1111  # all dims >= 0
    assert got[3] == 0b1110  # dim 1 negative → bit0 clear
    assert got[2] == 0b1111


def test_lsh_nearest_in_bucket(vecs):
    out = similarity.lsh_nearest_in_bucket(vecs, nbits=4)
    got = {r["vec_id"]: r["neighbor_id"] for r in out.collect()}
    assert got[0] == 1  # nearest within the all-positive bucket
    assert 3 not in got  # alone in its bucket → no row (documented ANN trade)


def test_cosine_dup_pairs_threshold(vecs):
    pairs = similarity.cosine_dup_pairs(vecs, threshold=0.99)
    found = {(r["id1"], r["id2"]) for r in pairs.collect()}
    assert found == {(0, 1)} or found == set()  # cos(0,1)≈0.9939 ≥ .99
    assert (0, 1) in found


def test_similarity_histogram_counts(vecs):
    hist = similarity.similarity_histogram(vecs, block_col="label", nbins=20).collect()
    total = sum(r["cnt"] for r in hist)
    assert total == 3 + 1  # C(3,2) within label 0 + C(2,2) within label 1


def test_exact_dup_group_storm_bounded(spark):
    """10^5 copies of one text: counts stay exact while the member
    array is capped at MAX_GROUP_IDS — the agg-buffer bound that keeps
    a boilerplate-document storm from OOMing an executor (the same
    pathology the keyed pass fixed in round 3)."""
    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate page").alias("text")
    )
    groups = dedup.exact_dup_groups(df, "doc_id", ["text"]).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n_copies"] == n
    assert g["keeper"] == 0
    assert g["dup_ids"] == list(range(dedup.MAX_GROUP_IDS))


def test_simhash_dup_group_storm_bounded(spark):
    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("same tokens every time forever").alias("text"),
    )
    groups = dedup.simhash_dup_groups(df, "doc_id", "text", bits=16).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["n"] == n
    assert g["ids"] == list(range(dedup.MAX_GROUP_IDS))


# ---------------------------------------- near-dup clustering (components)

def test_connected_components_transitive(spark):
    """A~B, B~C must land in ONE cluster even though (A,C) was never a
    candidate pair — the property pair-level dedup misses."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id1 long, id2 long"
    )
    cc = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_near_dup_clusters_counts_and_sample(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 10)], "id1 long, id2 long"
    )
    rows = {r["component"]: r for r in dedup.near_dup_clusters(pairs, max_ids=3).collect()}
    assert set(rows) == {1, 9}
    assert rows[1]["n_members"] == 4  # exact even past the sample cap
    assert rows[1]["members"] == [1, 2, 3]  # bounded sample, smallest first
    assert rows[9]["members"] == [9, 10]


def test_drop_near_dups_keeps_one_per_cluster(spark):
    df = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id1 long, id2 long")
    kept = sorted(r["doc_id"] for r in dedup.drop_near_dups(df, "doc_id", pairs).collect())
    # keepers 1 and 4 survive; 6 was never in any pair
    assert kept == [1, 4, 6]


def test_connected_components_nonconvergence_raises(spark):
    """A path longer than max_iter hops must fail loudly, not ship
    wrong components."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id1 long, id2 long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_components_match_simhash_groups(docs):
    """Hamming-0 simhash groups are cliques in the hamming<=k pair
    graph, so every group must be contained in one component."""
    pairs = dedup.simhash_hamming_pairs(docs, "doc_id", "text", bits=16, k=0)
    cc = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    for g in dedup.simhash_dup_groups(docs, "doc_id", "text", bits=16).collect():
        comps = {cc[i] for i in g["ids"]}
        assert len(comps) == 1


def test_ivf_topk_structure_and_recall(spark, vecs):
    """IVF with every vector as its own centroid and nprobe=1 reduces
    to exact search within the query's own cell; with a small corpus
    and all cells probed it must equal brute force."""
    centroids = vecs.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    queries = vecs.filter(F.col("vec_id") == 0)
    # probe ALL cells → candidate set = whole table → equals brute force
    ivf = similarity.ivf_topk(
        vecs, queries, centroids, "vec_id", "embedding", k=3, nprobe=5
    ).collect()
    brute = similarity.brute_force_topk(
        vecs, queries, "vec_id", "embedding", k=3
    ).collect()
    assert [(r["rank"], r["neighbor_id"]) for r in ivf] == [
        (r["rank"], r["neighbor_id"]) for r in brute
    ]


def test_ivf_assign_deterministic_argmax(spark, vecs):
    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cid long, cvec array<double>",
    )
    cells = {r["id"]: r["cid"] for r in similarity.ivf_assign(vecs, centroids).collect()}
    assert cells[0] == 0  # x-axis vector → x centroid
    assert cells[2] == 1  # y-axis vector → y centroid
    assert cells[3] == 1  # -x: cos(-1) vs 0 → y centroid wins
    assert cells[4] in (0, 1)  # diagonal ties at cos=0.7071 → min cid = 0
    assert cells[4] == 0


def _union_find_components(edges):
    """Reference implementation: classic union-find, min member id as
    the component label."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    label = {}
    for node in list(parent):
        root = find(node)
        label.setdefault(root, []).append(node)
    out = {}
    for members in label.values():
        lo = min(members)
        for m in members:
            out[m] = lo
    return out


def test_cc_matches_union_find_on_random_graphs(spark):
    """Property check: BOTH components strategies (min-label
    propagation and large-star/small-star contraction) must equal a
    union-find ground truth on adversarial small graphs (chains,
    stars, cycles, self-loops, disjoint blobs) — seeded, no flaky
    randomness."""
    import random

    rng = random.Random(20260817)
    for trial in range(6):
        n_edges = rng.randint(1, 18)
        edges = [
            (rng.randint(0, 14), rng.randint(0, 14)) for _ in range(n_edges)
        ]
        expected = _union_find_components(edges)
        pairs = spark.createDataFrame(edges, "id1 long, id2 long")
        for algo, fn in dedup.CC_ALGOS.items():
            got = {r["id"]: r["component"] for r in fn(pairs).collect()}
            assert got == expected, f"trial {trial} [{algo}]: {edges}"


def test_cc_star_converges_on_long_chains_where_label_cannot(spark):
    """The complementary envelopes, asserted: a 40-hop path exceeds a
    12-round label-propagation budget (one hop per round) but star
    contraction converges in O(log² n) rounds and still produces
    min-id components. String ids too — the operators only need an
    orderable id type (the image table keys are strings)."""
    chain = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(chain, "id1 long, id2 long")
    with pytest.raises(ValueError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=12)
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components_star(pairs, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(41)}

    spairs = spark.createDataFrame(
        [(f"img{a:04d}", f"img{b:04d}") for a, b in chain], "id1 string, id2 string"
    )
    sgot = {
        r["id"]: r["component"]
        for r in dedup.connected_components_star(spairs, max_iter=12).collect()
    }
    assert sgot == {f"img{i:04d}": "img0000" for i in range(41)}


# ----------------------------------------- containment near-dup (C61)


def _cdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_finds_the_excerpt_minhash_misses(spark):
    """A 5-token doc quoted whole inside a 40-token doc: Jaccard ~0.125
    (invisible to minhash at 0.5) but containment 1.0."""
    big = " ".join(f"tok{i}" for i in range(40))
    small = " ".join(f"tok{i}" for i in range(10, 15))
    df = _cdocs(spark, [(1, small), (2, big), (3, "unrelated words only here")])
    got = dedup.containment_pairs(df, "doc_id", "text", ngram=1, threshold=0.8)
    rows = got.collect()
    assert [(r["id1"], r["id2"], r["containment"]) for r in rows] == [(1, 2, 1.0)]
    assert rows[0]["jaccard"] < 0.2
    mh = dedup.minhash_lsh_dedup(
        df, "doc_id", "text", ngram=1, threshold=0.5
    ).collect()
    assert not any({r["id1"], r["id2"]} == {1, 2} for r in mh)


def test_containment_exact_threshold_boundary(spark):
    """inter/size == t exactly must survive BOTH the prefix index and
    the final filter (the fp-nudge in the prefix bound is under test:
    4 of A's 5 tokens in B is containment 0.8 at threshold 0.8)."""
    df = _cdocs(spark, [
        (1, "a b c d e"),                      # 5 tokens
        (2, "a b c d v w x y z"),              # shares 4 -> c = 0.8
        (3, "a b c q r s t u v"),              # shares 3 -> c = 0.6
    ])
    got = {
        (r["id1"], r["id2"]): r["containment"]
        for r in dedup.containment_pairs(
            df, "doc_id", "text", ngram=1, threshold=0.8
        ).collect()
    }
    assert got == {(1, 2): 0.8}


def test_containment_mutual_and_hot_gram_valve(spark):
    """Identical shingle sets emit BOTH directions at 1.0; a gram
    shared by more docs than max_gram_docs stops counting as evidence
    (the pair disappears when it was the only link)."""
    df = _cdocs(spark, [(1, "x y z"), (2, "z y x"), (3, "q r common"),
                        (4, "s t common"), (5, "u v common")])
    got = dedup.containment_pairs(df, "doc_id", "text", ngram=1, threshold=0.9)
    pairs = {(r["id1"], r["id2"]) for r in got.collect()}
    assert pairs == {(1, 2), (2, 1)}
    # 'common' sits in 3 docs; cap 2 kills it as a join key AND from
    # the sets (no 1/3-containment pairs can form either way)
    capped = dedup.containment_pairs(
        df, "doc_id", "text", ngram=1, threshold=0.3, max_gram_docs=2
    )
    assert not any(
        {r["id1"], r["id2"]} <= {3, 4, 5} for r in capped.collect()
    )


def test_containment_refusals(spark):
    df = _cdocs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="threshold"):
        dedup.containment_pairs(df, "doc_id", "text", threshold=0.0)
    with pytest.raises(ValueError, match="threshold"):
        dedup.containment_pairs(df, "doc_id", "text", threshold=1.5)
    with pytest.raises(ValueError, match="max_gram_docs"):
        dedup.containment_pairs(df, "doc_id", "text", max_gram_docs=0)


def test_drop_contained_chain_and_mutual(spark):
    """A subset-of B subset-of C keeps only C; a mutual pair keeps the
    min id; untouched docs pass through."""
    df = _cdocs(spark, [
        (1, "a b"),
        (2, "a b c d"),
        (3, "a b c d e f g h"),
        (10, "p q r"),
        (11, "r q p"),
        (20, "solo words here"),
    ])
    pairs = dedup.containment_pairs(df, "doc_id", "text", ngram=1, threshold=0.9)
    kept = sorted(
        r["doc_id"]
        for r in dedup.drop_contained(df, "doc_id", pairs).collect()
    )
    assert kept == [3, 10, 20]


def test_containment_dup_storm_valve(spark):
    """500 identical docs: above the hot-gram cap their shared grams
    stop being join keys entirely (no quadratic pair storm; the one
    surviving pair is the unrelated planted subset), below it the
    mutual pairs are real output — the documented mitigation for
    identical-doc storms is running exact dedup FIRST (curate stage
    order does)."""
    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(500)]
    rows += [(1000, "unrelated words one"),
             (1001, "unrelated words one two three four")]
    df = _cdocs(spark, rows)
    capped = dedup.containment_pairs(
        df, "doc_id", "text", ngram=1, threshold=0.8, max_gram_docs=100
    ).collect()
    assert [(r["id1"], r["id2"]) for r in capped] == [(1000, 1001)]


# ----------------------------------------------------------- consensus

def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id1 long, id2 long")


def test_consensus_votes_canonicalize_and_dedup(spark):
    """A pair emitted in opposite orientations across signals is ONE
    pair; a signal repeating a pair (directed both ways, duplicate
    bucket hits) votes once; min_votes filters."""
    sigs = {
        "a": _pairs(spark, [(1, 2), (2, 1), (3, 4)]),   # (1,2) twice
        "b": _pairs(spark, [(2, 1), (5, 6)]),
        "c": _pairs(spark, [(1, 2), (3, 4)]),
    }
    out = {
        (r["id1"], r["id2"]): (r["n_signals"], r["signals_csv"])
        for r in dedup.consensus_pairs(sigs, min_votes=2).collect()
    }
    assert out == {(1, 2): (3, "a,b,c"), (3, 4): (2, "a,c")}
    # min_votes=1 keeps the singletons too
    all_pairs = {
        (r["id1"], r["id2"]): r["n_signals"]
        for r in dedup.consensus_pairs(sigs, min_votes=1).collect()
    }
    assert all_pairs == {(1, 2): 3, (3, 4): 2, (5, 6): 1}


def test_consensus_guards(spark):
    with pytest.raises(ValueError, match="no signals"):
        dedup.consensus_pairs({})
    sigs = {"a": _pairs(spark, [(1, 2)])}
    with pytest.raises(ValueError, match="out of range"):
        dedup.consensus_pairs(sigs, min_votes=2)
    with pytest.raises(ValueError, match="out of range"):
        dedup.consensus_pairs(sigs, min_votes=0)


def test_consensus_single_exchange_plan(spark):
    """The voting pass adds exactly ONE exchange over the unioned pair
    frames — no per-signal distinct shuffles."""
    sigs = {
        "a": _pairs(spark, [(1, 2)]),
        "b": _pairs(spark, [(2, 1)]),
    }
    plan = (
        dedup.consensus_pairs(sigs, min_votes=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_consensus_feeds_clusters(spark):
    """Consensus pairs compose with near_dup_clusters exactly like any
    single-signal pair frame: transitive closure over the voted
    edges."""
    sigs = {
        "x": _pairs(spark, [(1, 2), (2, 3), (9, 10)]),
        "y": _pairs(spark, [(1, 2), (3, 2)]),
    }
    voted = dedup.consensus_pairs(sigs, min_votes=2)
    clusters = dedup.near_dup_clusters(voted).collect()
    got = {r["component"]: (r["n_members"], list(r["members"])) for r in clusters}
    # (9,10) had one vote -> excluded; 1-2-3 is one transitive cluster
    assert got == {1: (3, [1, 2, 3])}
