"""Document deduplication at training-corpus scale.

All variants are expressed with native DataFrame ops only (explode, groupBy,
joins) — no Python in the hot path — so every stage is whole-stage-codegen'd
and shuffles are the explicit, necessary ones:

  * exact:        1 shuffle (groupBy on content hash)
  * minhash LSH:  explode shingles → 1 groupBy (signatures) → explode bands
                  → 1 groupBy (buckets) → in-bucket pair join
  * simhash:      explode tokens → 1 groupBy (64 bit-count aggs) → band join
  * n-gram jaccard: explode shingles → self-join on shingle → 1 groupBy

At 100 TB the LSH paths are the ones that survive: candidate generation is
linear in corpus size, and only same-bucket pairs are ever joined.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .xengine import WS_RE as _NORM_WS, broadcast_if_small, truncate_lineage


def normalized_text(col: str = "text") -> F.Column:
    """Whitespace-collapsed, lowercased content key for exact dedup.

    NULL text coalesces to '' so NULL-text docs hash into the SAME group as
    empty docs (matching the DuckDB oracles' coalesce(text,'') and
    textstats._norm) instead of vanishing into a NULL hash.
    """
    return F.lower(
        F.trim(F.regexp_replace(F.coalesce(F.col(col), F.lit("")), _NORM_WS, " "))
    )


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(content_hash, n_docs, keep_id) per duplicate group — hash-groupBy
    exact dedup; map-side partial agg makes this one efficient shuffle."""
    return (
        df.select(F.sha2(normalized_text(text_col), 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group.

    Single-shuffle formulation: ``row_number() over (partition by
    content_hash order by id) = 1``. The groupBy + left-semi alternative
    shuffles twice (narrow hash/id agg, then the full rows again for the
    join) and measured ~1.6× slower at sf0.1; the window moves the full
    rows exactly once, hash-partitioned, with column pruning keeping the
    shuffle to the columns the caller actually selects.
    """
    w = Window.partitionBy(F.sha2(normalized_text(text_col), 256)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def word_shingles(text_col: str = "text", k: int = 3) -> F.Column:
    """Distinct word k-shingles as an array column (native, no UDF).
    NULL text → the single-shingle [''] of an empty doc (coalesce, see
    normalized_text).

    Built from k parallel ``slice`` views zipped element-wise (round 6):
    shingle i is ``concat_ws(" ", toks[i], ..., toks[i+k-1])`` — the
    identical string the old per-index ``array_join(slice(toks, i+1,
    k))`` form produced (verified bit-equal at k=3 and k=8), but with k
    array slices per DOCUMENT instead of one freshly-allocated subarray
    per SHINGLE (measured 3.4× on the sf corpus)."""
    toks = F.split(normalized_text(text_col), " ")
    n = F.size(toks)
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, n - k + 1).alias(f"w{j}") for j in range(k)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(k)])
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array(F.array_join(toks, " "))
    )


# element budget per Arrow batch for the two per-batch transients: the
# (total_shingles x hash_chunk) products in minhash_signatures' family_min
# and the (total_tokens x bit_slice) votes in simhash64's fingerprint,
# ~128 MB each (heavy-tailed corpora carry 10^6-shingle docs); module-level
# so tests can force the chunked paths at small scale
_MINHASH_CHUNK_ELEMS = 1 << 24


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 64
) -> DataFrame:
    """(id, minhash array) — MAP-ONLY signature computation, zero shuffles.

    One JVM-side ``xxhash64`` per shingle (inside whole-stage codegen over
    the shingles array), then the ``num_hashes``-member family is derived by
    universal hashing ``h_i = a_i·h + b_i (mod 2^64, a_i odd ⇒ bijective)``
    in ONE numpy broadcast + ``minimum.reduceat`` per Arrow batch. Replaces
    the round-1 explode + 64-aggregate groupBy: that formulation shuffled
    every (doc, shingle) pair and evaluated 64 string hashes per shingle;
    this one hashes each shingle once and never shuffles — the only
    shuffles left in the whole LSH pipeline are the band-bucket joins.
    """
    rng = np.random.default_rng(1337)
    mult = (rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    add = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType(), False))
    def family_min(hs: pd.Series) -> pd.Series:
        lens = np.fromiter((len(a) for a in hs), dtype=np.int64, count=len(hs))
        if lens.sum() == 0:
            return pd.Series([[0] * num_hashes] * len(hs))
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in hs]).astype(np.uint64)
        starts = np.zeros(len(hs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        # rows with 0 shingles can't occur (word_shingles always yields >=1).
        # Iterate over hash-family slices so the (total_shingles x H)
        # transient stays ~128 MB even when a heavy-tailed batch carries
        # 10^6-shingle documents (identical results, bounded peak memory).
        mins = np.empty((len(hs), num_hashes), dtype=np.uint64)
        h_chunk = max(1, _MINHASH_CHUNK_ELEMS // max(1, flat.shape[0]))
        for lo in range(0, num_hashes, h_chunk):
            prod = (
                flat[:, None] * mult[None, lo : lo + h_chunk]
                + add[None, lo : lo + h_chunk]
            )  # (total, chunk) mod 2^64
            mins[:, lo : lo + h_chunk] = np.minimum.reduceat(prod, starts, axis=0)
        return pd.Series(mins.astype(np.int64).tolist())

    base = df.select(
        F.col(id_col),
        F.transform(word_shingles(text_col), lambda s: F.xxhash64(s)).alias("hs"),
    )
    return base.select(F.col(id_col), family_min(F.col("hs")).alias("minhash"))


def minhash_banded_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, bucket) — each document's LSH bucket per minhash band
    (exposed so call sites can run ``bucket_cap_stats`` on the same keys)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes)
    # bucket = xxhash64 over the band's signature values DIRECTLY
    # (round 6): bucket ids are internal join keys — two docs co-bucket
    # iff their band slice is equal, which holds for any injective-w.h.p.
    # hash of the slice — so the old stringify+join+hash per band
    # (rows_per_band string casts + a comma join each) is pure overhead.
    def band_bucket(b: F.Column) -> F.Column:
        return F.xxhash64(
            F.lit("band"),
            b,
            *[
                F.element_at(F.col("minhash"), b * rows_per_band + j + 1)
                for j in range(rows_per_band)
            ],
        )

    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_bucket)
        ).alias("band", "bucket"),
    )


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from banded minhash.

    Documents sharing ANY band bucket become candidates. Real corpora have
    mega-buckets (boilerplate pages, empty docs): one m-member band bucket
    emits m²/2 pairs, so buckets above ``max_bucket_size`` degrade to
    sorted-adjacent chaining (O(m), connectivity-preserving for true
    duplicate clusters) — see similarity.bucketed_candidate_pairs; the cap
    is reportable via ``bucket_cap_stats(minhash_banded_buckets(df), ...)``
    (no silent caps).
    """
    from .similarity import bucketed_candidate_pairs

    banded = minhash_banded_buckets(df, text_col, id_col, num_hashes, bands)
    return bucketed_candidate_pairs(banded, id_col, ["band", "bucket"], max_bucket_size)


def _jaccard(n_inter: F.Column, n_a: F.Column, n_b: F.Column) -> F.Column:
    """Set Jaccard ``|A∩B| / |A∪B|`` from the intersection and set sizes."""
    return n_inter / (n_a + n_b - n_inter)


def _verified_pairs(
    cands: DataFrame, left: DataFrame, right: DataFrame | None, a: str, b: str,
    *, text_col: str, id_col: str, k: int, threshold: float,
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs with shingle-set Jaccard
    >= threshold — the one candidate → verified-pairs composition.

    Decide with small rows: the candidate table is cut once
    (``truncate_lineage``; the id sets and the pair join all read it) and
    its id sets semi-join the corpus (``xengine.broadcast_if_small``)
    BEFORE shingle arrays are built, so only candidate rows pay for
    shingles. ``right=None`` is the self-join: one ``a ∪ b`` id set, one
    semi-join and one shingle frame feed both sides; otherwise ``a`` ids
    come from ``left`` and ``b`` ids from ``right``. Candidate ids missing
    from their corpus drop out of the inner joins."""
    cands = truncate_lineage(cands)

    def shingled(src: DataFrame, *cols: str) -> DataFrame:
        ids = cands.select(F.explode(F.array(*cols)).alias(id_col)).distinct()
        return src.join(broadcast_if_small(ids), id_col, "left_semi").select(
            F.col(id_col), word_shingles(text_col, k).alias("shs")
        )

    if right is None:
        sh_a = sh_b = shingled(left, a, b)
    else:
        sh_a, sh_b = shingled(left, a), shingled(right, b)
    # join the shingle frames unrenamed and rename after: the two sides of
    # a self-join are then one plan, whose exchange AQE builds once
    c, sa, sb = cands.alias("c"), sh_a.alias("sa"), sh_b.alias("sb")
    return (
        c.join(sa, F.col(f"c.{a}") == F.col(f"sa.{id_col}"))
        .join(sb, F.col(f"c.{b}") == F.col(f"sb.{id_col}"))
        .select(f"c.{a}", f"c.{b}",
                F.col("sa.shs").alias("_sa"), F.col("sb.shs").alias("_sb"))
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard", _jaccard(F.col("_inter"), F.size("_sa"), F.size("_sb"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    candidate_pairs: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with shingle-set Jaccard >= threshold.

    Two physical strategies, same semantics:

    * with ``candidate_pairs`` (the 100 TB path every near-dup caller
      takes): ``_verified_pairs`` — shingles for candidate rows only and
      one set intersection per pair, never an all-pairs explosion;
    * without candidates (exact, small-corpus/oracle path): inverted-index
      self-join on shingles. Beware: frequency-skewed shingles make this
      superlinear — at scale always pass LSH candidates.
    """
    if candidate_pairs is not None:
        return _verified_pairs(
            candidate_pairs, df, None, "id_a", "id_b",
            text_col=text_col, id_col=id_col, k=k, threshold=threshold,
        )

    # each posting carries its doc's set size, so no size table joins back
    sh = df.select(F.col(id_col), word_shingles(text_col, k).alias("shs"))
    inv = sh.select(F.col(id_col), F.size("shs").alias("n"), F.explode("shs").alias("sh"))
    a = inv.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"), "sh")
    b = inv.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn("jaccard", _jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def pair_components(
    pairs: DataFrame,
    *,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int | None = 2_000_000,
) -> DataFrame:
    """(node, component) — connected components of the near-dup pair graph;
    ``component`` is the minimum node id reachable. This is the stage that
    turns candidate/verified PAIRS into duplicate GROUPS (and makes the
    over-cap bucket chaining safe: a chained 10⁶-member cluster still
    resolves to ONE component here).

    Distributed min-label propagation with POINTER DOUBLING: each round
    does (1) label(v) ← min(label(v), min over neighbours' labels) — one
    join + groupBy — then (2) label(v) ← label(label(v)) — one self-join —
    so convergence is O(log diameter) rounds, not O(diameter): a
    1000-long chain resolves in ~10 rounds instead of 1000. Each round is
    a fixed number of shuffles on (node, label) pairs only; convergence is
    checked with a count per round (driver-side loop, standard for
    iterative algorithms on Spark).

    The edge table and every round's labels are cut with
    ``xengine.truncate_lineage``: reliable checkpoints into the session's
    checkpoint dir when one is set (they survive executor loss), local
    checkpoints otherwise.

    ``driver_max_edges`` gates a SMALL-GRAPH fast path: the input here is
    the *verified duplicate-pair* graph, which is orders of magnitude
    smaller than the corpus that produced it (a 1%-dup corpus yields
    ~0.01× pairs), and each distributed round costs a fixed 2-job latency
    regardless of size. A single ``limit(threshold+1).collect()`` job
    both decides the gate and fetches the complete deduped edge list —
    (long, long) tuples, ~32 bytes/row, so the 2M default is ~64 MB
    driver heap — which one union-find pass resolves into labels
    returned as a DataFrame. Identical output by construction (min reachable id); the
    equivalence is fuzz-pinned in tests/test_dedup.py. Set
    ``driver_max_edges=None`` (or 0) to force the distributed path.
    """
    # edges are consumed more than once whichever path wins (the gate
    # probe + either the union-find collect or every distributed round)
    # — truncate FIRST so the upstream candidate pipeline
    # (signatures/banding/verification) executes exactly once; gating on
    # the raw plan would re-execute all of it on the over-threshold path
    edges = truncate_lineage(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
    )
    if driver_max_edges:
        # one cheap job over the truncated blocks decides the gate AND
        # fetches the edges: limit(N+1) either returns the complete
        # deduped edge list or proves the graph is over-threshold
        rows = edges.limit(driver_max_edges + 1).collect()
        if len(rows) <= driver_max_edges:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for row in rows:
                s, d = row[0], row[1]
                parent.setdefault(s, s)
                parent.setdefault(d, d)
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by min so the root IS the component label
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
            out = [(n, find(n)) for n in parent]
            schema = T.StructType(
                [
                    T.StructField("node", edges.schema[0].dataType, False),
                    T.StructField("component", edges.schema[0].dataType, False),
                ]
            )
            return pairs.sparkSession.createDataFrame(out, schema)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    labels = truncate_lineage(labels)  # truncate lineage per round
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nl"))
            .select(F.col("src").alias("node"), "nl")
        )
        stepped = (
            labels.join(neigh_min, "node", "left")
            .select("node", F.least(F.col("label"), F.coalesce("nl", "label")).alias("label"))
        )
        # pointer doubling: label ← label(label)
        lab2 = stepped.select(F.col("node").alias("_n2"), F.col("label").alias("_l2"))
        doubled = (
            stepped.join(lab2, stepped.label == lab2._n2, "left")
            .select("node", F.least(F.col("label"), F.coalesce("_l2", "label")).alias("label"))
        )
        doubled = truncate_lineage(doubled)
        changed = (
            doubled.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = doubled
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"pair_components did not converge within {max_iter} rounds — "
            "labels are an upper bound, not final components; raise max_iter "
            "(diameter > 2^rounds is astronomically unlikely for dedup graphs)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    keep_by: str | None = None,
    keep_desc: bool = True,
) -> DataFrame:
    """Keep one representative per near-duplicate component; docs in no
    pair survive untouched. The end-to-end near-dedup resolution:
    candidates → verified pairs → components → keep-list anti-join.

    ``keep_by=None`` (default): min id — the cheapest deterministic rule.
    ``keep_by="quality_score"`` (or any df column): keep the BEST-scoring
    member per component (desc by default; ``keep_desc=False`` for
    cost-like scores), id-asc tiebreak — the curation rule real pipelines
    use so dedup removes the redundant copies, not the good one
    (RefinedWeb-style keep-best). Scale shape: components exist only for
    docs that appear in a verified pair (tiny vs the corpus); the score
    join touches a two-column projection of df and the per-component
    window runs on that small table — the corpus itself only sees the
    final anti-join."""
    comps = pair_components(pairs)
    if keep_by is None:
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        scored = comps.join(
            df.select(F.col(id_col).alias("node"), F.col(keep_by).alias("_s")),
            "node",
        )
        # nulls LAST in both directions: an unscored member must never
        # beat a scored one to the representative slot (Spark's bare
        # asc() puts NULLs first)
        order = [
            F.col("_s").desc_nulls_last() if keep_desc
            else F.col("_s").asc_nulls_last(),
            F.col("node").asc(),
        ]
        w = Window.partitionBy("component").orderBy(*order)
        losers = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(F.col("node").alias(id_col))
        )
    return df.join(losers, id_col, "left_anti")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bigint): sign-sum of token-hash bits, MAP-ONLY.

    One JVM ``xxhash64`` per token (inside the tokens array — same hash,
    same multiset of per-occurrence votes as the original explode
    formulation), then the 64 sign-sums are computed per document in one
    vectorized Arrow pass. Round 6 replaced the (doc, token) explode +
    64-partial-sum groupBy: that shuffled every token occurrence and
    evaluated 64 conditional aggregates per token row; this computes the
    identical fingerprints — integer vote counts, the same ``sum > 0``
    bit rule, the same bit-63 two's-complement wrap — with zero
    shuffles (the minhash_signatures shape).
    """

    @F.pandas_udf(T.LongType())
    def fingerprint(hs: pd.Series) -> pd.Series:
        if len(hs) == 0:
            return pd.Series([], dtype="int64")
        lens = np.fromiter((len(a) for a in hs), dtype=np.int64, count=len(hs))
        # split() always yields >= 1 token per row, so every doc votes
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hs]
        ).view(np.uint64)
        starts = np.zeros(len(hs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        fp = np.zeros(len(hs), dtype=np.uint64)
        # bit positions per slice sized from the element budget, so the
        # (tokens x bits) transient stays bounded however many tokens the
        # batch carries (identical results, bounded peak memory)
        width = max(1, min(64, _MINHASH_CHUNK_ELEMS // flat.shape[0]))
        for lo in range(0, 64, width):
            shifts = np.arange(lo, min(lo + width, 64), dtype=np.uint64)
            bits = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            cnt = np.add.reduceat(bits, starts, axis=0)
            set_bits = (2 * cnt - lens[:, None]) > 0
            fp |= np.bitwise_or.reduce(
                set_bits.astype(np.uint64) << shifts[None, :], axis=1
            )
        return pd.Series(fp.view(np.int64))

    base = df.select(
        F.col(id_col),
        F.transform(
            F.split(normalized_text(text_col), " "), lambda t: F.xxhash64(t)
        ).alias("hs"),
    )
    return base.select(F.col(id_col), fingerprint(F.col("hs")).alias("simhash"))


def simhash64_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Oracle-reachable simhash twin: identical sign-sum vote logic to
    ``simhash64``, but the per-token hash is the first 64 bits of ``md5``
    (hex) — a function DuckDB shares bit-for-bit, unlike xxhash64 — and the
    fingerprint is returned as two unsigned 32-bit halves ``(sim_hi,
    sim_lo)`` so neither engine ever represents an unsigned 64-bit value.
    This is what moves the simhash family from rows-only to a full
    rows+schema+hash driver oracle; ``simhash64`` stays the production
    fingerprint (one hash op per token vs md5's string round-trip).
    """
    h = F.md5(F.col("tok"))
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalized_text(text_col), " ")).alias("tok"),
    ).select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hhi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("hlo"),
    )
    bit_sums = []
    for i in range(64):
        src = F.col("hlo") if i < 32 else F.col("hhi")
        s = i % 32
        bit_sums.append(
            F.sum(
                F.when(F.shiftright(src, s).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b_{i}")
        )
    agg = toks.groupBy(id_col).agg(*bit_sums)
    lo = None
    hi = None
    for i in range(64):
        bit = F.when(F.col(f"b_{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i % 32)
        if i < 32:
            lo = term if lo is None else lo.bitwiseXOR(term)
        else:
            hi = term if hi is None else hi.bitwiseXOR(term)
    return agg.select(F.col(id_col), hi.alias("sim_hi"), lo.alias("sim_lo"))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Near-dup candidates: equal 16-bit simhash band ⇒ hamming ≤ 48 filter
    stage; exact hamming check on the candidates (bit_count of xor).

    Same mega-bucket guard as the minhash path: over-cap band buckets
    (identical boilerplate ⇒ identical simhash ⇒ one bucket) chain instead
    of all-pairs joining; the fingerprints join back by id so the pair
    generation itself stays narrow.
    """
    from .similarity import bucketed_candidate_pairs

    sh = simhash64(df, text_col, id_col)
    width = 64 // bands
    banded = sh.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    cands = bucketed_candidate_pairs(banded, id_col, ["band", "band_val"], max_bucket_size)
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))).alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (corpus-vs-corpus) dedup: each new crawl snapshot is deduped
# against the ACCUMULATED corpus without re-deduping the accumulated corpus
# itself — the standard snapshot-ingest shape (e.g. per-dump CommonCrawl
# pipelines). The existing side only ever ships narrow derived keys
# (content hashes / band buckets / shingle arrays), never full rows.
# ---------------------------------------------------------------------------


def drop_exact_duplicates_against(
    new: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the new rows whose normalized content does NOT already exist
    in the accumulated corpus. One anti-join on sha2(norm): both sides
    shuffle only the 64-hex key column (AQE broadcasts the smaller side
    when it fits)."""
    key = F.sha2(normalized_text(text_col), 256)
    seen = existing.select(key.alias("_k")).distinct()
    return new.withColumn("_k", key).join(seen, "_k", "left_anti").drop("_k")


def near_duplicate_matches_against(
    new: DataFrame,
    existing: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 3,
    threshold: float = 0.95,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """(new_id, existing_id, jaccard) — cross-corpus near-duplicate
    matches: banded-minhash candidates restricted to NEW×EXISTING bucket
    co-membership, verified with the exact shingle Jaccard.

    Scale shape: signatures are the map-only minhash path on both sides;
    the candidate join is an equi-join on (band, bucket); the EXISTING
    side is capped per bucket (``max_bucket_size`` lowest ids — a
    mega-bucket of boilerplate would otherwise emit |new∩bucket| × m
    pairs; the cap is deterministic and reportable via
    ``bucket_cap_stats`` on the existing bucket keys, never silent).
    Verification is ``_verified_pairs`` with ``existing`` as the right
    side (shingles for candidate rows only)."""
    from .similarity import require_bucket_cap

    require_bucket_cap(max_bucket_size)
    nb = minhash_banded_buckets(new, text_col, id_col, num_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    eb = minhash_banded_buckets(
        existing, text_col, id_col, num_hashes, bands
    ).select(F.col(id_col).alias("existing_id"), "band", "bucket")
    w = Window.partitionBy("band", "bucket").orderBy("existing_id")
    eb = eb.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_bucket_size
    )
    cands = nb.join(eb, ["band", "bucket"]).select("new_id", "existing_id").distinct()
    return _verified_pairs(
        cands, new, existing, "new_id", "existing_id",
        text_col=text_col, id_col=id_col, k=k, threshold=threshold,
    )
