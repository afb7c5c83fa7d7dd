"""Similarity search over embedding columns (array<float>).

Two paths:
  * brute-force cosine top-k — the exact baseline: broadcast the (small)
    query set against the corpus, dot products via native higher-order
    functions (zip_with + aggregate, JVM-side), per-query top-k via window;
  * LSH-bucketed (random hyperplane signatures) — the scale path: corpus is
    hashed once into sign-pattern buckets; queries only score against their
    own bucket (and optionally neighboring probes), turning O(N·Q) into
    O(N/2^bits · Q).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _valid_embedding(vec_col: str, dim: int) -> F.Column:
    """Fail-soft gate for corpus-grade embedding tables: NULL vectors,
    wrong-dimension vectors and zero-norm vectors (a failed encoder
    emits all three) are flagged instead of crashing the stage — the
    zero norm would be an ANSI divide-by-zero in the cosine, and a
    ragged row kills the vectorized numpy assignment path."""
    vec = F.col(vec_col)
    nsq = F.aggregate(
        F.transform(vec, lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    return vec.isNotNull() & (F.size(vec) == F.lit(dim)) & (nsq > 0)


def _pair_cosine_udf():
    """Row-wise cosine over two equal-dim array columns, Arrow-batched:
    one numpy pass per batch replaces the zip_with+aggregate expression
    trees, which evaluate interpreted at ~3·dim lambda steps per row
    (round 6 — the scoring stage of every top-k path). float64 like the
    expression form; numpy's pairwise summation differs only at ~1e-16,
    inside every call site's measured rank margin (lsh_ann: 4.9e-6)."""

    @F.pandas_udf(T.DoubleType())
    def pc(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.asarray(a.tolist(), dtype=np.float64)
        mb = np.asarray(b.tolist(), dtype=np.float64)
        dots = (ma * mb).sum(axis=1)
        na = np.sqrt((ma * ma).sum(axis=1))
        nb = np.sqrt((mb * mb).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(dots / (na * nb))

    return pc


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank<=k) over ``(vec_id,
    embedding)`` rows; excludes self-matches.

    The query side is broadcast — the corpus is never shuffled; ranking
    shuffles only (query_id, candidate) pairs, already reduced to top-k per
    partition by the window's partial sort.
    """
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        )
    )
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine_udf()(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# random-hyperplane LSH over embeddings (Charikar 2002): the plane seed,
# and the default n_bits x n_tables layout (OR-amplification across
# tables, see embedding_near_duplicates)
LSH_SEED = 7
LSH_BITS = 8
LSH_TABLES = 8


def _table_signatures_udf(dim: int, n_bits: int, n_tables: int):
    """Arrow-vectorized multi-table signatures: one numpy matmul per batch.

    The pure-expression alternative (n_tables × n_bits dot-product
    expression trees) degenerates to ~1 ms/row in codegen; the batched
    matmul is ~1000× cheaper — the documented exception to
    "built-ins first" (PLANS.md): vectorized UDF beats a degenerate
    expression forest.
    """
    planes = np.stack(
        [
            np.random.default_rng(LSH_SEED + 1000 * t).standard_normal((n_bits, dim))
            for t in range(n_tables)
        ]
    )  # (T, B, D)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType(), False))
    def sigs(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (n, D)
        if mat.ndim != 2 or mat.shape[0] == 0:
            return pd.Series([[0] * planes.shape[0]] * len(v))
        out = np.empty((mat.shape[0], planes.shape[0]), dtype=np.int64)
        for t in range(planes.shape[0]):
            proj = mat @ planes[t].T  # (n, B)
            out[:, t] = ((proj > 0).astype(np.int64) * weights).sum(axis=1)
        return pd.Series(out.tolist())

    return sigs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    *,
    dim: int = 64,
    n_bits: int = LSH_BITS,
    n_tables: int = LSH_TABLES,
) -> DataFrame:
    """Approximate top-k over ``(vec_id, embedding)`` rows: candidates are
    corpus vectors sharing the query's bucket in ANY of ``n_tables``
    independent hash tables, then exact cosine re-ranking within the
    candidate set. Cost is linear in corpus size
    (each row hashes into n_tables buckets); recall is tuned by
    (n_bits, n_tables) — OR-amplification across tables."""
    sig_udf = _table_signatures_udf(dim, n_bits, n_tables)
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.posexplode(sig_udf(F.col("embedding"))).alias("table", "sig"),
    )
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            F.posexplode(sig_udf(F.col("embedding"))).alias("table", "sig"),
        )
    )
    scored = (
        c.join(q, ["table", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            # expression cosine on purpose: lsh candidate volume is
            # Q × bucket-size (thousands), where the Arrow round-trip's
            # fixed cost exceeds the interpreted-HOF cost it saves
            # (measured 1.19 -> 1.68 s with the UDF at sf1.0 — reverted);
            # the high-volume scorers (brute-force, IVF) use the UDF
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# above this K the coarse quantizer switches from pure column expressions to
# the Arrow-batched matmul: K expression trees + a depth-K when-chain choke
# Catalyst codegen well before the K≈10^3-10^5 a 100 TB corpus needs, while
# one (batch x K) numpy matmul is ~constant per row (same documented
# exception as _table_signatures_udf — PLANS.md)
IVF_EXPR_MAX_K = 64

# bound the transient (rows x K) distance matrix to ~128 MB per chunk so a
# large-K quantizer never OOMs an executor regardless of Arrow batch size
_IVF_CHUNK_ELEMS = 1 << 24


def _ivf_assign_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-vectorized coarse quantizer: per batch, one (n x K) matmul and
    an argmin/argpartition — returns the ``n_probe`` nearest cell ids in
    ascending distance order (n_probe=1 is plain assignment).

    Uses the expanded form  argmin_c ||x-c||^2 = argmin_c (||c||^2 - 2 x.c)
    (the ||x||^2 term is constant per row). Ties break on the lowest cell
    id on EVERY path: n_probe=1 via argmin (first minimum), n_probe>1 via a
    stable argsort over the distances (equal distances keep index order) —
    matching the expression path's (distance, cell) struct sort, so the two
    quantizers stay bit-reproducible even with duplicate centroids.
    """
    cents = np.asarray(centroids, dtype=np.float64)  # (K, D)
    cnorm = (cents * cents).sum(axis=1)  # (K,)
    k_cells = cents.shape[0]
    chunk = max(1, _IVF_CHUNK_ELEMS // max(1, k_cells))

    @F.pandas_udf(T.ArrayType(T.IntegerType(), False))
    def probe_cells(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (n, D)
        out = np.empty((mat.shape[0], n_probe), dtype=np.int32)
        for lo in range(0, mat.shape[0], chunk):
            d2 = mat[lo : lo + chunk] @ cents.T * -2.0 + cnorm  # (c, K)
            if n_probe == 1:
                out[lo : lo + chunk, 0] = np.argmin(d2, axis=1)
            else:
                # stable full argsort, NOT argpartition: partition order
                # among exactly-equal distances is arbitrary, which would
                # break tie reproducibility vs the expression path
                out[lo : lo + chunk] = np.argsort(d2, axis=1, kind="stable")[
                    :, :n_probe
                ]
        return pd.Series(list(out), dtype=object)

    return probe_cells


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
    method: str = "auto",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF coarse quantizer).

    Centroids are driver-supplied (e.g. seeded k-means or a deterministic
    sample); assignment is map-only either way — no shuffle. ``method``:

      * ``"expression"`` — argmin over K squared-distance column
        expressions, JVM-side whole-stage codegen. Oracle-stable (the
        driver's ivf_ann query pins this path) but degenerates above
        K≈64: K literal expression trees. The argmin is
        ``array_position(dists, array_min(dists))`` — first index on
        ties, i.e. the lowest centroid id — built over ONE array of the
        K distances, keeping the tree O(K·dim); the earlier
        least()+when-chain form duplicated every distance K+1 times
        (O(K²·dim) nodes) and cost ~20 s of per-call Catalyst analysis
        at K=32.
      * ``"vectorized"`` — Arrow-batched numpy matmul argmin
        (``_ivf_assign_udf``), the 100 TB path for K up to ~10^5.
      * ``"auto"`` (default) — expression for ``len(centroids) <=
        IVF_EXPR_MAX_K``, vectorized above.
    """
    if method not in ("auto", "expression", "vectorized"):
        raise ValueError(f"unknown ivf_assign method: {method!r}")
    if method == "vectorized" or (
        method == "auto" and len(centroids) > IVF_EXPR_MAX_K
    ):
        cells = _ivf_assign_udf(centroids, 1)(F.col(vec_col))
        return df.withColumn(out_col, F.element_at(cells, 1))
    dists = []
    for c in centroids:
        lit = F.array(*[F.lit(float(v)) for v in c])
        d2 = F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dists.append(d2)
    dist_arr = F.array(*dists)
    cell = (F.array_position(dist_arr, F.array_min(dist_arr)) - 1).cast("int")
    return df.withColumn(out_col, cell)


def sample_centroids(df: DataFrame, k: int) -> list[list[float]]:
    """Deterministic centroid seed: the k lowest-``vec_id`` embeddings.
    Kept as the ORACLE-STABLE quantizer (the driver's ivf_ann query must
    reproduce bit-identically round to round); real deployments use
    ``kmeans_centroids`` below."""
    rows = df.orderBy("vec_id").limit(k).select("embedding").collect()
    return [[float(v) for v in r[0]] for r in rows]


KMEANS_SEED = 7
KMEANS_MAX_ITER = 20


def kmeans_centroids(
    df: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Fitted IVF coarse quantizer: pyspark.ml KMeans (seed ``KMEANS_SEED``,
    at most ``KMEANS_MAX_ITER`` iterations) over the
    embedding column (the at-scale replacement for ``sample_centroids`` —
    the fit is one MLlib job; the returned k centroids are tiny and ride
    into ``ivf_assign`` as literals, so assignment stays map-only)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vdf = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=KMEANS_SEED, maxIter=KMEANS_MAX_ITER).fit(vdf)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    *,
    n_probe: int = 2,
) -> DataFrame:
    """IVF approximate top-k over ``(vec_id, embedding)`` rows: corpus is
    partitioned once into centroid
    cells; each query scores only against its ``n_probe`` nearest cells.

    Scale shape: assignment is map-only; the probe join is an equi-join on
    cell id, so candidate generation is linear and the per-query candidate
    set is |corpus| * n_probe / K. Round 6: both the corpus quantizer and
    the query-side probe ranking use the Arrow-batched matmul at EVERY K
    (``_ivf_assign_udf``) — the small-K expression forest evaluated
    interpreted at ~K·dim lambda steps per row, and the vectorized path
    is tie-compatible by construction (stable argsort == the
    (distance, cell) struct sort; pinned by
    test_ivf_assign_vectorized_agrees_with_expression_path). The
    expression path remains available via ``ivf_assign(method=
    "expression")`` for plan-shape comparisons.
    """
    c = ivf_assign(
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")),
        centroids, vec_col="c_vec", out_col="cell", method="vectorized",
    )
    # per-query probe cells: rank centroid distances, keep n_probe
    qd = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    probes = _ivf_assign_udf(centroids, min(n_probe, len(centroids)))(
        F.col("q_vec")
    )
    q = F.broadcast(
        qd.select("query_id", "q_vec", F.explode(probes).alias("cell"))
    )
    scored = (
        c.join(q, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _pair_cosine_udf()(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# members per LSH bucket before a pair generator degrades to chaining
# (bucketed_candidate_pairs) or keeps the lowest ids (the incremental
# near-dup match); every bucketed path shares it
MAX_BUCKET_SIZE = 4096


def require_bucket_cap(max_bucket_size: int) -> None:
    """Every bucketed pair generator is capped: an uncapped mega-bucket
    emits m²/2 pairs, so ``None`` is rejected instead of meaning "no cap"."""
    if max_bucket_size is None:
        raise ValueError("max_bucket_size must be an int; buckets are always capped")


def bucketed_candidate_pairs(
    keyed: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket_size: int,
) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from bucket co-membership, with
    a skew guard: buckets larger than ``max_bucket_size`` degrade from the
    all-pairs self-join (O(m²) — job-killing for a 10⁶-member boilerplate
    bucket) to SORTED-ADJACENT CHAINING (O(m) consecutive pairs by id).
    Chaining preserves connected-components for true duplicate clusters —
    every member still reaches the cluster via its neighbor — while bounding
    the candidate volume; general near-dup pairs inside an over-cap bucket
    may be missed (report them via ``bucket_cap_stats``, never silently:
    PLANS.md no-silent-caps rule).
    """
    require_bucket_cap(max_bucket_size)
    w = Window.partitionBy(*bucket_cols)
    sized = keyed.withColumn("_bsize", F.count(F.lit(1)).over(w))

    small = sized.filter(F.col("_bsize") <= max_bucket_size)
    l, r = small.alias("l"), small.alias("r")
    cond = (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    pairs = l.join(r, cond).select(
        F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
    )

    big = sized.filter(F.col("_bsize") > max_bucket_size)
    wo = Window.partitionBy(*bucket_cols).orderBy(id_col)
    chained = (
        big.withColumn("_next", F.lead(id_col).over(wo))
        .filter(F.col("_next").isNotNull())
        .select(F.col(id_col).alias("id_a"), F.col("_next").alias("id_b"))
    )
    return pairs.unionByName(chained).distinct()


def bucketed_cosine_pairs(
    keyed: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    vec_col: str,
    threshold: float,
    max_bucket_size: int,
) -> DataFrame:
    """(id_a, id_b, cosine) — within-bucket pairs with cosine >= threshold,
    computed per bucket group with one BLAS matmul (``applyInPandas``).

    This is the fused form of ``bucketed_candidate_pairs`` + vector
    join-back + per-pair cosine for callers whose verification IS cosine:
    instead of materializing every candidate pair as a row (a same-bucket
    self-join emits sum-of-bucket-sizes² rows, each then carrying TWO full
    vectors through a join into an interpreted higher-order-function dot
    product), each bucket's vectors are grouped once and the full cosine
    matrix comes from a blocked numpy matmul — candidate pairs that fail
    the threshold never exist as rows. Semantics are identical to the
    unfused pipeline (pinned by tests/test_similarity.py +
    test_semdedup.py): all-pairs (id_a < id_b) within a bucket, buckets
    above ``max_bucket_size`` degrade to sorted-adjacent CHAINING exactly
    like ``bucketed_candidate_pairs``, and the cosine is
    dot/(norm·norm) in float64 (numpy's pairwise summation differs from
    the expression fold only at ~1e-16 — far inside every call site's
    measured decision margin). The one shuffle is the groupBy hash
    exchange of (id, bucket, vec) rows.
    """
    require_bucket_cap(max_bucket_size)
    id_type = keyed.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    cap = max_bucket_size
    thr = float(threshold)
    # bound the per-block gram matrix to ~32M float64 elements (~256 MB)
    blk_elems = 1 << 25

    def one_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        empty = pd.DataFrame(
            {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.empty(0)}
        )
        m = len(ids)
        if m < 2:
            return empty
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.asarray(
            pdf[vec_col].to_numpy()[order].tolist(), dtype=np.float64
        )
        norms = np.sqrt((mat * mat).sum(axis=1))
        if m > cap:
            # sorted-adjacent chaining (bucketed_candidate_pairs contract)
            dots = (mat[:-1] * mat[1:]).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (norms[:-1] * norms[1:])
            # a duplicated id is never its own near-duplicate
            keep = (cos >= thr) & (ids[:-1] != ids[1:])
            return pd.DataFrame(
                {"id_a": ids[:-1][keep], "id_b": ids[1:][keep], "cosine": cos[keep]}
            )
        outs = []
        blk = max(1, blk_elems // m)
        col_idx = np.arange(m)
        for lo in range(0, m, blk):
            hi = min(m, lo + blk)
            g = mat[lo:hi] @ mat.T
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = g / (norms[lo:hi, None] * norms[None, :])
            valid = (
                (cos >= thr)
                & (col_idx[None, :] > np.arange(lo, hi)[:, None])
                & (ids[None, :] != ids[lo:hi, None])
            )
            r, c = np.nonzero(valid)
            if r.size:
                outs.append(
                    pd.DataFrame(
                        {"id_a": ids[r + lo], "id_b": ids[c], "cosine": cos[r, c]}
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    return keyed.groupBy(*bucket_cols).applyInPandas(one_bucket, out_schema)


def bucket_cap_stats(
    keyed: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> dict[str, int]:
    """Eager, log-visible cap report: how many buckets exceeded the cap and
    the largest bucket seen (call sites log this — caps are never silent)."""
    row = (
        keyed.groupBy(*bucket_cols)
        .count()
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("count") > max_bucket_size, 1).otherwise(0)).alias("n_over_cap"),
            F.max("count").alias("max_bucket"),
        )
        .first()
    )
    return {
        "n_buckets": int(row["n_buckets"] or 0),
        "n_over_cap": int(row["n_over_cap"] or 0),
        "max_bucket": int(row["max_bucket"] or 0),
    }


def embedding_near_duplicates(
    df: DataFrame,
    *,
    dim: int = 64,
    threshold: float = 0.95,
    max_bucket_size: int = MAX_BUCKET_SIZE,
) -> DataFrame:
    """(id_a, id_b, cosine >= threshold) — embedding-cosine near-dup pass
    over ``(vec_id, embedding)`` rows:
    multi-table LSH candidate generation (linear), exact cosine only on
    candidates.

    Recall comes from OR-amplification across ``LSH_TABLES`` independent
    hyperplane tables: a pair at exactly ``threshold`` collides in one table
    w.p. p_bit^n_bits with p_bit = 1 − arccos(threshold)/π, and survives
    w.p. 1 − (1 − p_bit^n_bits)^n_tables — ≈0.99 at threshold 0.95 with
    8 bits x 8 tables; exact copies collide in every table. At larger
    scale raise LSH_BITS (smaller buckets) and LSH_TABLES together.

    Skew: buckets above ``max_bucket_size`` (duplicate mega-clusters) chain
    instead of all-pairs joining — see ``bucketed_candidate_pairs``.

    Invalid vectors (see ``_valid_embedding``) are dropped before keying:
    they have no cosine, so they can never be near-duplicates.
    """
    sig_udf = _table_signatures_udf(dim, LSH_BITS, LSH_TABLES)
    keyed = df.filter(_valid_embedding("embedding", dim)).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.posexplode(sig_udf(F.col("embedding"))).alias("table", "sig"),
    )
    # fused candidate+verify (see bucketed_cosine_pairs): per (table, sig)
    # bucket one blocked matmul replaces the pair self-join + two vector
    # joins + per-pair HOF cosine — sub-threshold candidates never become
    # rows. A pair colliding in several tables is emitted once per table
    # with the identical float64 cosine; dropDuplicates restores the
    # distinct-pair contract of the unfused plan.
    pairs = bucketed_cosine_pairs(
        keyed, "vec_id", ["table", "sig"], "embedding", threshold, max_bucket_size
    )
    return pairs.dropDuplicates(["id_a", "id_b"])
