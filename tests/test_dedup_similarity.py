"""Semantic unit tests for dedup/similarity operators — known inputs with
hand-computable expectations (beyond the driver's oracle/rows checks)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_ocr_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from ner_ocr_spark.operators.similarity import brute_force_topk, lsh_topk


BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight")


def _docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1 (after normalization)
        (3, "  THE  QUICK brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight "),  # normalizes to BASE
        (4, BASE.replace("tonight", "tomorrow")),  # near-dup of 1
        (5, "completely different words about spark catalyst tungsten "
            "arrow shuffle partitions and adaptive query execution"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {r["doc_id"]: r["n_dups"] for r in exact_dedup(_docs(spark)).collect()}
    # 1,2,3 collapse (case/whitespace-normalized); 4 and 5 stand alone
    assert out == {1: 3, 4: 1, 5: 1}


def test_minhash_finds_near_dup_pair(spark):
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    near = pairs.get((1, 4))
    assert near is not None and 0.3 <= near < 1.0
    assert not any(5 in p for p in pairs)


def test_simhash_hamming_zero_for_dups(spark):
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_candidates(_docs(spark), prefix_bits=4).collect()}
    assert out.get((1, 2)) == 0
    assert out.get((1, 3)) == 0


def test_simhash_rotation_scheme_recall(spark):
    """A 1-2-bit flip landing INSIDE the top-prefix window breaks the
    single-table bucket (round-1 recall gap); with 4 rotations some table
    always buckets the pair together (Manku-style scheme)."""
    from ner_ocr_spark.operators.dedup import simhash_bucket_pairs

    v = 0x123456789ABCDEF0
    rows = [
        (1, v),
        (2, v ^ (1 << 60)),              # flip in bits 48-63 (rot-0 prefix)
        (3, v ^ ((1 << 60) | (1 << 3))), # 2 flips, one in the prefix
        (4, ~v & 0x7FFFFFFFFFFFFFFF),    # far away from everything
    ]
    sh = spark.createDataFrame(rows, "id long, simhash long")
    single = {(r["id_a"], r["id_b"])
              for r in simhash_bucket_pairs(sh, prefix_bits=16, rotations=1).collect()}
    assert (1, 2) not in single  # the round-1 gap, demonstrated
    multi = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_bucket_pairs(sh, prefix_bits=16, rotations=4).collect()}
    assert multi.get((1, 2)) == 1
    assert multi.get((1, 3)) == 2
    assert multi.get((2, 3)) == 1
    assert not any(4 in p for p in multi)


def test_ngram_jaccard_exact_values(spark):
    docs = _docs(spark).withColumn("block", F.lit("x"))
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, n=1, group_col="block").collect()}
    assert out[(1, 2)] == 1.0
    assert out[(1, 3)] == 1.0
    # doc4 replaces 1 distinct word of 17: J = 16/18
    assert abs(out[(1, 4)] - round(16 / 18, 4)) < 1e-9
    assert out[(1, 5)] < 0.1


def test_topk_self_is_best_and_lsh_agrees(spark):
    import math

    vecs = []
    for i in range(30):
        v = [math.cos(0.1 * i * (j + 1)) for j in range(8)]
        vecs.append((i, v))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 7").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    bf = brute_force_topk(emb, q, k=3)
    rows = sorted(bf.collect(), key=lambda r: r["rank"])
    assert rows[0]["vec_id"] == 7 and rows[0]["cosine"] == 1.0
    approx = lsh_topk(emb, q, k=3, dim=8, n_planes=4).collect()
    assert any(r["vec_id"] == 7 and r["rank"] == 1 for r in approx)


def test_lsh_multi_probe_recall(spark):
    """Multi-probe (Hamming-1 query fan-out) recalls at least as much of
    the brute-force top-k as the single-bucket table, and strictly more
    somewhere on a near-plane query set."""
    import math

    from ner_ocr_spark.operators.similarity import brute_force_topk, lsh_topk

    vecs = [(i, [math.cos(0.07 * i * (j + 1)) for j in range(8)])
            for i in range(80)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id in (3, 11, 29, 47)").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {}
    for r in brute_force_topk(emb, q, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(multi):
        got = {}
        for r in lsh_topk(emb, q, k=5, dim=8, n_planes=6,
                          multi_probe=multi).collect():
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        hits = sum(len(got.get(qid, set()) & t) for qid, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    single, multi = recall(False), recall(True)
    assert multi >= single
    assert multi >= 0.5  # multi-probe must recall at least half of truth


def test_ivf_tiny_corpus_degrades(spark):
    """Fewer vectors than n_centroids clamps to one list per vector
    instead of crashing; empty input raises a clear error."""
    import pytest

    from ner_ocr_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ivf_topk(emb, q, k=2, n_centroids=8, n_probe=8).collect()
    assert any(r["vec_id"] == 0 and r["rank"] == 1 for r in got)
    with pytest.raises(ValueError, match="empty"):
        train_ivf_centroids(emb.filter("vec_id < 0"))


def test_ivf_topk_recall_and_exact_limit(spark):
    """IVF: self-retrieval at rank 1, recall grows with n_probe, and
    probing every list reproduces brute force exactly."""
    import math

    vecs = [(i, [math.cos(0.1 * i * (j + 1)) for j in range(8)])
            for i in range(60)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id in (7, 23)").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    from ner_ocr_spark.operators.similarity import ivf_topk, train_ivf_centroids

    cents = train_ivf_centroids(emb, n_centroids=4, sample_n=60)
    got = ivf_topk(emb, q, k=3, centroids=cents, n_probe=2).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], {})[r["rank"]] = r["vec_id"]
    assert by_q[7][1] == 7 and by_q[23][1] == 23
    # n_probe = n_centroids == exact brute force (same top-k set + ranks)
    bf = {(r["query_id"], r["rank"]): r["vec_id"]
          for r in brute_force_topk(emb, q, k=3).collect()}
    full = {(r["query_id"], r["rank"]): r["vec_id"]
            for r in ivf_topk(emb, q, k=3, centroids=cents, n_probe=4).collect()}
    assert full == bf


# -- connected components / dup clusters --------------------------------------


def _uf_components(edges):
    """Reference union-find (driver-side) for cross-checking."""
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
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_path_graph(spark):
    """A 100-node path converges well inside max_iter=25 — star contraction
    is O(log n) rounds, not the O(n) of naive label propagation."""
    from ner_ocr_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(100)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(pairs, max_iter=25).collect()}
    assert got == {n: 0 for n in range(101)}


def test_connected_components_matches_union_find(spark):
    """Branchy multi-component graph (chains + bridges + cliques, shuffled
    edge directions) against a driver-side union-find."""
    import random

    from ner_ocr_spark.operators.dedup import connected_components

    rng = random.Random(42)
    edges = []
    for base in (0, 200, 400, 600):  # four chain clusters
        edges += [(base + i, base + i + 1) for i in range(rng.randint(3, 12))]
    edges += [(5, 205), (405, 603)]  # bridges merge two pairs of clusters
    edges += [(900 + a, 900 + b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(77, 77)]  # self-loop must be ignored
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    rng.shuffle(edges)

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(pairs).collect()}
    want = _uf_components([(a, b) for a, b in edges if a != b])
    want[77] = 77  # self-loop-only node is its own (singleton) component
    assert got == want


def test_dup_clusters_keeps_one_canonical_per_cluster(spark):
    from ner_ocr_spark.operators.dedup import dup_clusters

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 5)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dup_clusters(docs, pairs).collect()}
    assert got[1] == (1, 1) and got[4] == (1, 0) and got[7] == (1, 0)
    assert got[2] == (2, 1) and got[5] == (2, 0)
    # isolated docs keep themselves
    for i in (0, 3, 6, 8, 9):
        assert got[i] == (i, 1)
    assert sum(k for _, k in got.values()) == 7  # 10 docs - 3 dropped dups


def test_connected_components_empty_pairs(spark):
    from ner_ocr_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


def test_fingerprint_pairs_containment(spark):
    """Winnowing pair generation: a paragraph LIFTED into a larger doc
    shares fingerprints with its source (the containment case that
    whole-document jaccard dilutes); unrelated docs share none."""
    from ner_ocr_spark.operators.dedup import fingerprint_pairs

    para = ("the quick brown fox jumps over the lazy dog while the "
            "green table stands near the old stone house by the river")
    filler = ("completely different content about spark catalyst tungsten "
              "arrow shuffle partitions adaptive execution and columnar io "
              "with many more words that never mention the animals at all")
    docs = spark.createDataFrame(
        [(1, para), (2, filler + " " + para + " " + filler), (3, filler)],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r for r in
           fingerprint_pairs(docs, min_shared=2).collect()}
    assert (1, 2) in got  # containment detected
    pair = got[(1, 2)]
    assert pair["n_shared"] >= 2
    assert 0.0 < pair["fp_jaccard"] <= 1.0
    assert (1, 3) not in got  # unrelated docs share nothing


# --- stop-hash / bucket-df cap (round-5 scale hardening) -------------------

HOT = ("license header boilerplate the same in every file permission is "
       "hereby granted free of charge to any person obtaining a copy")
N_HOT = 400


def _skew_corpus(spark):
    """N_HOT identical boilerplate docs (ids 0..N_HOT-1) + a near-dup pair
    (1000, 1001) + one unrelated doc (1002) — the hot-bucket shape one
    templated page produces at corpus scale."""
    rows = [(i, HOT) for i in range(N_HOT)] + [
        (1000, BASE),
        (1001, BASE.replace("tonight", "tomorrow")),
        (1002, "entirely unrelated words about catalyst tungsten arrow "
               "shuffle partitions and adaptive query execution plans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_stop_hash_cap_bounds_hot_bucket(spark):
    """With the cap, the 400-doc hot bucket generates ZERO pairs (bounded
    join work — uncapped it alone is 79,800 pairs) while genuine near-dups
    outside it are still found; the dropped mass is reported, not silent."""
    from ner_ocr_spark.operators.dedup import minhash_hot_buckets

    docs = _skew_corpus(spark)
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, max_bucket_df=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert all(a >= 1000 or b >= 1000 for a, b in got)  # hot bucket dropped
    assert (1000, 1001) in got  # cold near-dup still found
    report = minhash_hot_buckets(
        docs, num_hashes=16, bands=4, max_bucket_df=8
    ).collect()
    # every band sees the identical-sig bucket: df=400, avoided=79,800
    assert len(report) == 4
    assert {r["bucket_df"] for r in report} == {N_HOT}
    assert {r["pairs_avoided"] for r in report} == {N_HOT * (N_HOT - 1) // 2}


def test_simhash_stop_hash_cap(spark):
    from ner_ocr_spark.operators.dedup import (
        simhash_hot_buckets,
        simhash_table,
    )

    docs = _skew_corpus(spark)
    pairs = simhash_candidates(docs, max_bucket_df=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert all(a >= 1000 or b >= 1000 for a, b in got)
    assert (1000, 1001) in got  # 1-word flip survives the rotation scheme
    report = simhash_hot_buckets(
        simhash_table(docs), max_bucket_df=8
    ).collect()
    # identical docs share the simhash => one df-400 bucket per rotation
    assert len(report) == 4
    assert {r["bucket_df"] for r in report} == {N_HOT}


def test_fingerprint_stop_hash_cap(spark):
    """Stop-hash semantics: hashes above the cap stop contributing to
    n_shared; the all-identical block's pairs (sharing ONLY hot hashes)
    vanish, the containment pair below the cap survives."""
    from ner_ocr_spark.operators.dedup import (
        fingerprint_hot_hashes,
        fingerprint_pairs,
    )

    para = ("the quick brown fox jumps over the lazy dog while the green "
            "table stands near the old stone house by the river")
    rows = [(i, HOT) for i in range(50)] + [
        (1000, para),
        (1001, "unrelated filler words " + para + " trailing filler words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           fingerprint_pairs(docs, min_shared=2, max_bucket_df=8).collect()}
    assert all(a >= 1000 or b >= 1000 for a, b in got)
    assert (1000, 1001) in got
    report = fingerprint_hot_hashes(docs, max_bucket_df=8).collect()
    assert report  # the boilerplate hashes are reported...
    assert {r["bucket_df"] for r in report} == {50}  # ...at df = block size
    assert {r["pairs_avoided"] for r in report} == {50 * 49 // 2}


def test_topk_temp_columns_never_clobber_caller_columns(spark):
    """Caller columns named like the norm temporaries (`_vn`, `_qn`) are
    neither overwritten nor made ambiguous: every top-k variant returns
    what it returns for frames without the colliding names."""
    import math

    from ner_ocr_spark.operators.similarity import ivf_topk, train_ivf_centroids

    vecs = [(i, [math.cos(0.1 * i * (j + 1)) for j in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id in (7, 23)").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # the embeddings themselves live in columns named _vn / _qn ...
    emb_c = emb.withColumnRenamed("embedding", "_vn")
    q_c = q.withColumnRenamed("query_vec", "_qn")
    # ... or ride next to them as unrelated caller columns
    emb_x = emb.withColumn("_qn", F.lit(-1.0)).withColumn("_vn", F.lit("x"))
    q_x = q.withColumn("_vn", F.lit(-1.0)).withColumn("_qn", F.lit("y"))
    cents = train_ivf_centroids(emb, n_centroids=4, sample_n=40)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(brute_force_topk(emb_c, q_c, k=3, vec_col="_vn",
                                 qvec_col="_qn")) == \
        rows(brute_force_topk(emb, q, k=3))
    assert rows(brute_force_topk(emb_x, q_x, k=3)) == \
        rows(brute_force_topk(emb, q, k=3))
    assert rows(lsh_topk(emb_x, q_x, k=3, dim=8, n_planes=4)) == \
        rows(lsh_topk(emb, q, k=3, dim=8, n_planes=4))
    assert rows(ivf_topk(emb_x, q_x, k=3, centroids=cents)) == \
        rows(ivf_topk(emb, q, k=3, centroids=cents))
