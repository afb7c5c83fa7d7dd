"""Semantic deduplication over embeddings (SemDeDup-style).

SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" — public) removes *semantic*
duplicates that exact/near-text dedup misses: cluster the corpus
embeddings with k-means, compare pairs only WITHIN a cluster, call a
pair duplicated when cosine similarity exceeds a threshold, and keep
exactly one member per duplicate group — the member with the LOWEST
cosine similarity to its cluster centroid (the most atypical example;
the paper's keep rule, §3.1).

This module is that recipe composed from the repo's existing
100 TB-shaped pieces — nothing here is new plan machinery:

  1. cell assignment + centroid similarity (the keep-rule score) = ONE
     map-only Arrow pass (``_assign_sim_udf``: a single (n × K) matmul
     per batch — the numpy form of the coarse quantizer IVF uses, and
     SemDeDup's own clustering step; round 6 replaced the K
     zip_with/aggregate expression trees, which evaluate interpreted at
     ~K·dim lambda steps per row). Centroids come from
     ``kmeans_centroids`` (seeded MLlib fit) in deployments and from the
     deterministic ``sample_centroids`` in the driver oracle;
  3. within-cell duplicate pairs = ``similarity.bucketed_cosine_pairs``
     on the cell key: candidate generation and exact-cosine verification
     fused into one blocked matmul per cell (round 6 — sub-threshold
     pairs never materialize as rows), all-pairs only inside a bounded
     cell, and cells above ``max_cell_size`` degrade to sorted-adjacent
     chaining instead of O(m²) (components survive chaining for true
     duplicate clusters; general pairs lost to the cap are reported via
     ``bucket_cap_stats``, never silently);
  4. duplicate groups = ``dedup.pair_components`` (pointer doubling,
     O(log diameter) narrow self-joins);
  5. the keep rule is ONE row_number window over (component) ordered by
     (rounded centroid similarity asc, id) — a narrow shuffle of
     (id, component, cent_sim) triples; the rounding keeps the
     cross-engine order stable (CLAUDE.md: order by the ROUNDED score
     on both sides), and exact copies tie on the score and fall back to
     the id order deterministically.

The paper compares every pair inside a cluster; the cell cap is the one
at-scale deviation and it is parameterized + reported. Everything else
is the published semantics.

Reference tie-in: the reference has no embedding operators at all
(SURVEY §2 maps its span-merge dedup to A7); this is part of the
training-data-pipeline extension surface, the embedding-side sibling of
webprep.drop_duplicated_lines / substrdedup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .dedup import pair_components
from .similarity import _valid_embedding, bucketed_cosine_pairs
from .xengine import truncate_lineage


def _assign_sim_udf(centroids: list[list[float]]):
    """Arrow-vectorized fused quantizer + keep-score: per batch ONE
    (n × K) matmul yields both the nearest cell (expanded-form squared
    distance, first-minimum tie rule — the same argmin contract as
    ``similarity._ivf_assign_udf``) and the cosine to that own cell's
    centroid (the SemDeDup keep score). Replaces K zip_with/aggregate
    distance expressions + an element_at dot-product expression per row —
    those higher-order functions evaluate interpreted, ~K·dim lambda
    steps per row, and were the whole map-stage cost at K=32. Float
    agreement with the expression path is ~1e-13 relative, far inside
    the measured population margins (assignment 8.2e-4, keep-score
    rounding distance ≥1.4e-9 — tests/test_semdedup.py)."""
    cents = np.asarray(centroids, dtype=np.float64)  # (K, D)
    cnorm2 = (cents * cents).sum(axis=1)
    cnorm = np.sqrt(cnorm2)

    from pyspark.sql import types as T

    out_t = T.StructType(
        [
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("sim", T.DoubleType(), True),
        ]
    )

    @F.pandas_udf(out_t)
    def assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            return pd.DataFrame(
                {"cell": pd.Series([], dtype="int32"), "sim": pd.Series([], dtype="float64")}
            )
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (n, D)
        proj = mat @ cents.T  # (n, K)
        cell = np.argmin(cnorm2 - 2.0 * proj, axis=1)
        dots = np.take_along_axis(proj, cell[:, None], axis=1)[:, 0]
        vnorm = np.sqrt((mat * mat).sum(axis=1))
        denom = vnorm * cnorm[cell]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = dots / denom
        return pd.DataFrame({"cell": cell.astype("int32"), "sim": sim})

    return assign


def assign_semantic_cells(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cell_col: str = "sem_cell",
    sim_col: str = "cent_sim",
) -> DataFrame:
    """Map-only: nearest-centroid cell plus the keep-rule score
    (cosine to the OWN cell's centroid). Zero shuffles.

    Invalid embeddings (see ``_valid_embedding``) get ``cell = -1`` and
    a NULL score — they ride through every downstream stage as their own
    singleton groups (the extract stage's ``parse_ok`` fail-soft
    pattern: a bad row must never kill a 100 TB job). The cosine and
    the numpy assignment only ever see a valid or zero-substituted
    vector, so neither can throw."""
    dim = len(centroids[0])
    base = df.withColumn("_valid", _valid_embedding(vec_col, dim)).withColumn(
        "_safe",
        F.when(F.col("_valid"), F.col(vec_col)).otherwise(
            F.array_repeat(F.lit(0.0), dim)
        ),
    )
    # one fused Arrow pass computes (cell, keep-score) together — see
    # _assign_sim_udf; the zero-substituted invalid rows produce a NaN
    # score inside the UDF, masked to NULL here exactly like before
    out = base.withColumn("_as", _assign_sim_udf(centroids)(F.col("_safe")))
    out = out.withColumn(
        cell_col,
        F.when(F.col("_valid"), F.col("_as.cell")).otherwise(F.lit(-1)),
    ).withColumn(
        sim_col,
        F.when(F.col("_valid"), F.col("_as.sim")).otherwise(
            F.lit(None).cast("double")
        ),
    )
    return out.drop("_valid", "_safe", "_as")


def semantic_duplicate_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9999,
    max_cell_size: int = 4096,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) pairs with cosine >= ``threshold`` among CELL-MATES.

    The cell restriction is the SemDeDup contract (and the scale bound):
    candidate volume is sum of cell sizes squared, never corpus², and
    cells above ``max_cell_size`` chain instead of self-joining.
    ``assigned`` lets a caller that already holds the (truncated)
    assignment table pass it in instead of recomputing it; it must carry
    ``id_col`` and a ``_cell`` column."""
    if assigned is None:
        assigned = truncate_lineage(
            assign_semantic_cells(
                df, centroids, vec_col=vec_col, cell_col="_cell"
            ).select(F.col(id_col), F.col("_cell"))
        )
    # cell -1 = invalid embeddings (fail-soft): they must never pair —
    # bucketing them together would join every broken row to every other
    keyed = assigned.select(F.col(id_col), F.col("_cell")).filter(
        F.col("_cell") >= 0
    )
    # fused candidate+verify (similarity.bucketed_cosine_pairs): attach
    # each valid row's vector to its narrow (id, cell) assignment and let
    # one blocked matmul per cell produce exactly the >= threshold pairs —
    # the cell self-join, the two vector join-backs and the per-pair
    # interpreted HOF cosine all collapse into a single groupBy(cell)
    # pass; over-cap cells keep the sorted-adjacent chaining contract.
    withv = keyed.join(df.select(F.col(id_col), F.col(vec_col)), id_col)
    return bucketed_cosine_pairs(
        withv, id_col, ["_cell"], vec_col, threshold, max_cell_size
    ).select("id_a", "id_b")


def semantic_dedup_labels(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9999,
    max_cell_size: int = 4096,
) -> DataFrame:
    """One row per input row: ``(id_col, sem_cell, component, kept)``.

    ``component`` is the duplicate group (min reachable id; a row in no
    duplicate pair is its own component), ``kept`` (0/1 long) marks the
    group representative under the paper's rule — lowest centroid
    similarity, id ascending as the tie-break (exact copies have equal
    scores). Integer-only output: the driver oracle hashes no float.

    The assignment is computed ONCE and lineage-truncated — pairs,
    components and the keep window all read the narrow (id, cell, sim)
    table, never the K×dim-literal plan."""
    # cut at the assignment boundary: the K×dim-literal argmin tree left
    # in the lineage is re-planned on every downstream action (measured:
    # 31 s of driver planning for a 0.5 s job at K=32)
    assigned = truncate_lineage(
        assign_semantic_cells(
            df, centroids, vec_col=vec_col, cell_col="sem_cell"
        ).select(F.col(id_col), "sem_cell", "cent_sim")
    )
    pairs = semantic_duplicate_pairs(
        df,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        max_cell_size=max_cell_size,
        assigned=assigned.select(
            F.col(id_col), F.col("sem_cell").alias("_cell")
        ),
    )
    comps = pair_components(pairs).select(
        F.col("node").alias(id_col), "component"
    )
    labeled = assigned.join(comps, id_col, "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    # the keep rule: rounded score first (cross-engine order stability —
    # raw float dust must not flip ranks), id as the deterministic tie
    w = Window.partitionBy("component").orderBy(
        F.round(F.col("cent_sim"), 6).asc(), F.col(id_col).asc()
    )
    return labeled.select(
        F.col(id_col),
        F.col("sem_cell").cast("long").alias("sem_cell"),
        F.col("component"),
        (F.row_number().over(w) == 1).cast("long").alias("kept"),
    )
