"""SemDeDup semantic dedup: keep rule vs a naive in-python replay,
determinism across partitioning, cap behavior, float-margin evidence for
the driver oracle's cross-engine assumptions."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.semdedup import (
    assign_semantic_cells,
    semantic_dedup_labels,
    semantic_duplicate_pairs,
)


def _survivors(df, cents, **kwargs) -> set[int]:
    """The ids SemDeDup keeps: one representative per duplicate group."""
    labels = semantic_dedup_labels(df, cents, **kwargs)
    return {r["vec_id"] for r in labels.filter(F.col("kept") == 1).collect()}


def _fixture(spark, n_per=6, n_clusters=4, dim=8, seed=3):
    """Well-separated gaussian clusters + planted exact copies: ids
    100+i copy id i for i in the first cluster."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 10
    rows = []
    for c in range(n_clusters):
        for j in range(n_per):
            v = centers[c] + rng.standard_normal(dim) * 0.05
            rows.append((c * n_per + j, [float(x) for x in v]))
    # exact copies of cluster-0 members
    for j in range(3):
        rows.append((100 + j, list(rows[j][1])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[float(x) for x in c] for c in centers]
    return df, cents, rows


def _naive(rows, cents, threshold):
    """Pure-python SemDeDup replay: argmin cell, within-cell pairs,
    union-find components, keep = (min cent_sim, min id)."""
    def cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    cell = {}
    sim = {}
    for i, v in rows:
        d2 = [sum((x - y) ** 2 for x, y in zip(v, c)) for c in cents]
        cell[i] = d2.index(min(d2))
        sim[i] = cos(v, cents[cell[i]])
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    vec = dict(rows)
    ids = sorted(vec)
    for a in ids:
        for b in ids:
            if a < b and cell[a] == cell[b] and cos(vec[a], vec[b]) >= threshold:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in ids}
    groups = defaultdict(list)
    for i in ids:
        groups[comp[i]].append(i)
    kept = {}
    for members in groups.values():
        rep = min(members, key=lambda i: (round(sim[i], 6), i))
        for i in members:
            kept[i] = 1 if i == rep else 0
    return cell, comp, kept


def test_labels_match_naive_replay(spark):
    df, cents, rows = _fixture(spark)
    got = {
        r["vec_id"]: (r["sem_cell"], r["component"], r["kept"])
        for r in semantic_dedup_labels(df, cents, threshold=0.999).collect()
    }
    cell, comp, kept = _naive(rows, cents, 0.999)
    assert set(got) == set(cell)
    for i in got:
        assert got[i] == (cell[i], comp[i], kept[i]), (i, got[i])


def test_exact_copies_collapse_to_one_representative(spark):
    df, cents, rows = _fixture(spark)
    # at 0.9999 the tight synthetic clusters are WHOLE semantic-dup
    # groups (0.5% relative noise) — survivors must be exactly the naive
    # replay's per-component representatives, and never a planted copy
    # AND its original together
    surv = _survivors(df, cents, threshold=0.9999)
    _, _, kept = _naive(rows, cents, 0.9999)
    assert surv == {i for i, k in kept.items() if k == 1}
    for j in range(3):
        assert not (j in surv and 100 + j in surv)


def test_keep_rule_prefers_farthest_from_centroid(spark):
    # two near-identical vectors in one cell, one slightly farther from
    # the centroid: SemDeDup keeps the atypical (farther) member even
    # though its id is larger
    cents = [[10.0, 0.0, 0.0], [-10.0, 0.0, 0.0]]
    base = np.array([9.0, 0.4, 0.0])
    rot = np.array([9.0, 0.473, 0.0])  # same cell, cosine(base, rot) > .9999
    rows = [(1, [float(x) for x in base]), (2, [float(x) for x in rot])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup_labels(df, cents, threshold=0.999).collect()
    got = {r["vec_id"]: r["kept"] for r in out}
    # rot has the larger angle to the centroid -> lower cent_sim -> kept
    assert got == {1: 0, 2: 1}


def test_deterministic_across_partitioning(spark):
    df, cents, _ = _fixture(spark, n_per=8, n_clusters=5)
    a = sorted(
        map(tuple, semantic_dedup_labels(df.repartition(1), cents).collect())
    )
    b = sorted(
        map(tuple, semantic_dedup_labels(df.repartition(16), cents).collect())
    )
    assert a == b


def test_labels_match_naive_above_expression_k_cutover(spark):
    """K above IVF_EXPR_MAX_K switches assignment to the Arrow/numpy
    matmul path (the 100 TB quantizer) — labels must still match the
    naive replay exactly (same argmin ties, same keep rule)."""
    from ocr_obsidian_spark.operators.similarity import IVF_EXPR_MAX_K

    k = IVF_EXPR_MAX_K + 6
    _, cents, rows = _fixture(spark, n_per=3, n_clusters=k, dim=8, seed=11)
    # the shared fixture plants copies at ids 100+j, which COLLIDE with
    # cluster-33/34 member ids once n_per*n_clusters > 100 — the copies
    # are the last three fixture rows; rebase exactly those
    rows = rows[:-3] + [(1_000_000 + j, rows[j][1]) for j in range(3)]
    # array<double>: the naive replay computes in float64, and with 76
    # tight clusters the float32 fixture column would make rounded keep
    # scores straddle 6-dp boundaries between engines
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["sem_cell"], r["component"], r["kept"])
        for r in semantic_dedup_labels(df, cents, threshold=0.999).collect()
    }
    cell, comp, kept = _naive(rows, cents, 0.999)
    assert set(got) == set(cell)
    for i in got:
        assert got[i] == (cell[i], comp[i], kept[i]), (i, got[i])


def test_invalid_embeddings_fail_soft(spark):
    """NULL, wrong-dimension and zero-norm vectors (all real failure
    modes of a corpus-scale encoder) must not kill the stage: they get
    sem_cell=-1, ride as their own singleton kept groups, never pair
    with each other, and valid rows dedup normally around them."""
    cents = [[10.0, 0.0], [-10.0, 0.0]]
    rows = [
        (1, [9.0, 0.1]),
        (2, None),          # NULL vector
        (3, [9.0]),         # wrong dimension
        (4, [0.0, 0.0]),    # zero norm (would divide by zero)
        (5, [9.0, 0.1]),    # exact copy of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["sem_cell"], r["component"], r["kept"])
        for r in semantic_dedup_labels(df, cents, threshold=0.999).collect()
    }
    assert got[2] == (-1, 2, 1) and got[3] == (-1, 3, 1) and got[4] == (-1, 4, 1)
    assert got[1] == (0, 1, 1) and got[5] == (0, 1, 0)
    assert _survivors(df, cents, threshold=0.999) == {1, 2, 3, 4}


def test_cell_restriction_blocks_cross_cell_pairs(spark):
    # identical vectors forced into different cells never pair (the
    # SemDeDup contract: comparisons are within-cluster only)
    cents = [[10.0, 0.0], [-10.0, 0.0]]
    rows = [(1, [9.0, 0.1]), (2, [-9.0, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert semantic_duplicate_pairs(df, cents, threshold=-1.0).count() == 0


def test_over_cap_cell_chains_and_components_survive(spark):
    # 12 exact copies in one cell with max_cell_size=4: chaining keeps
    # the component connected, so dedup still keeps exactly one
    cents = [[10.0, 0.0], [-10.0, 0.0]]
    rows = [(i, [9.0, 0.5]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert len(_survivors(df, cents, threshold=0.9999, max_cell_size=4)) == 1


def test_driver_oracle_margins(spark):
    """The driver query's cross-engine assumptions, measured on the real
    embeddings fixture with the DRIVER construction (exact copies +
    first-coordinate ×1.05 perturbations, threshold 0.999): (1) cell
    assignment margin (best vs second-best squared distance) is
    astronomically above the ~1e-15 engine skew; (2) within a duplicate
    component, rounded keep-rule scores are either exactly tied (id
    breaks the tie on both engines) or separated far above
    rounding-boundary risk; (3) pair cosines keep a real margin to the
    threshold; (4) every raw keep score sits far from a round-half
    boundary, so both engines round identically."""
    from ocr_obsidian_spark.operators.similarity import sample_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    head = emb.filter(F.col("vec_id") < 25)
    dup = head.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    pert = head.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) * F.lit(1.05)),
            F.slice(F.col("embedding"), F.lit(2), F.size("embedding") - 1),
        ).alias("embedding"),
    )
    both = emb.unionByName(dup).unionByName(pert)
    cents = sample_centroids(both, 32)
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]])
            for r in both.collect()]

    def cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    # (1) assignment margin
    min_margin = float("inf")
    cell, sim = {}, {}
    for i, v in rows:
        d2 = sorted(
            (sum((x - y) ** 2 for x, y in zip(v, c)), k)
            for k, c in enumerate(cents)
        )
        cell[i] = d2[0][1]
        sim[i] = cos(v, cents[cell[i]])
        if len(d2) > 1:
            min_margin = min(min_margin, d2[1][0] - d2[0][0])
    assert min_margin > 1e-6, min_margin

    # (3) threshold margin over within-cell pairs
    thr = 0.999
    ids = sorted(dict(rows))
    vec = dict(rows)
    thr_margin = min(
        (abs(cos(vec[a], vec[b]) - thr)
         for a in ids for b in ids
         if a < b and cell[a] == cell[b]),
        default=1.0,
    )
    assert thr_margin > 1e-6, thr_margin

    # (2) keep-rule score separation within components
    _, comp, _ = _naive_components(rows, cell, vec, thr)
    groups = defaultdict(list)
    for i in ids:
        groups[comp[i]].append(i)
    n_nontrivial = 0
    for members in groups.values():
        if len(members) > 1 and min(
            members, key=lambda i: (round(sim[i], 6), i)
        ) != min(members):
            n_nontrivial += 1
        scores = sorted(round(sim[i], 6) for i in members)
        for x, y in zip(scores, scores[1:]):
            assert y == x or y - x > 1e-9, (x, y)
    # the perturbed population makes real (non-tie) keep decisions
    assert n_nontrivial > 0

    # (4) raw scores keep clear of round-half boundaries
    for i in ids:
        frac = (sim[i] * 1e6) % 1.0
        assert abs(frac - 0.5) * 1e-6 > 1e-12, (i, sim[i])


def _naive_components(rows, cell, vec, threshold):
    def cos(a, b):
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    ids = sorted(vec)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in ids:
        for b in ids:
            if a < b and cell[a] == cell[b] and cos(vec[a], vec[b]) >= threshold:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comp = {i: find(i) for i in ids}
    return None, comp, None
