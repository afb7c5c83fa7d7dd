"""Cross-document repeated-substring removal (ExactSubstr-style dedup).

Lee et al. 2021, "Deduplicating Training Data Makes Language Models
Better", removes every substring above a length threshold that occurs
verbatim more than once in the corpus (their ExactSubstr tool; public
knowledge). Their implementation builds a corpus-wide suffix array — a
global sorted structure no Spark job should attempt. This module ships
the standard distributed approximation, shaped like
``webprep.drop_duplicated_lines``:

  * anchor every duplicated passage by its fixed-width word shingles
    (``width`` consecutive normalized words, stride 1). A passage of
    >= ``width`` words shared verbatim by two documents shares ALL its
    internal shingles, and every word position lies inside at least one
    of them — shared passages are excised COMPLETELY, not just their
    anchor heads. Passages shorter than ``width`` words are below the
    removal threshold by definition (ExactSubstr's 50-char floor);
  * a shingle shared by >= ``min_docs`` DISTINCT documents marks all its
    occurrences' word positions as duplicated (remove-ALL-copies, the
    ExactSubstr policy — boilerplate passages should survive in zero
    documents, not one arbitrary winner);
  * each document is rebuilt from its uncovered words in original order.

Scale shape (narrow rows everywhere; the wide text column never rides
past the per-document scan projection):

  1. map-side shingling — ``transform`` over a materialized split-words
     column builds the anchor-hash array with zero shuffles (xxhash64
     in production: 8-byte keys; md5 for the DuckDB oracle twin), then
     ONE posexplode emits (doc, pos, hash) rows — never text;
  2. groupBy(hash) countDistinct(doc) with map-side partial aggregation
     → the duplicated-anchor set (post-filter minority);
  3. left-semi join of occurrences against that set on the SAME hash key
     (co-partitioned with the aggregation output);
  4. groupBy(doc) collect_set of covered positions — bounded by the
     document's own word count, so the per-group state is O(doc), never
     O(corpus);
  5. join the narrow (doc, covered-positions) rows back to the corpus on
     doc id and excise map-side with a position filter.

No all-pairs step, no global sort, no window. Unlike suffix-array
ExactSubstr this never materializes anything proportional to corpus² —
the only corpus-sized intermediate is the (doc, pos, hash) explode,
which is linear in corpus token count exactly like the MinHash shingle
pass in dedup.py.

Reference tie-in: the reference deduplicates at whole-span granularity
only (ingest/spans.py merge step); it has no sub-document text dedup —
this operator is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import _norm
from .xengine import truncate_lineage


def drop_duplicated_substrings(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_docs: int = 2,
    out_col: str | None = None,
    anchor_hash: str = "xxhash64",
) -> DataFrame:
    """Remove every ``width``-word shingle (and thus every shared passage
    of >= ``width`` words) that appears in >= ``min_docs`` distinct
    documents; rebuild each document from the surviving words.

    Returns one row per input row:
    ``(id_col, out_col, n_words_kept, n_words_dropped)`` — ``out_col``
    (default ``text_col``) is the normalized rebuilt text, empty string
    when the whole document was duplicated passage.

    Text is whitespace-normalized + lowercased first (the shared
    textstats normal form), so the output is in normal form — callers
    that must preserve raw bytes should map positions back themselves;
    corpus-prep pipelines dedup *after* normalization anyway.

    ``anchor_hash``: ``"xxhash64"`` (production default — one JVM hash
    op per shingle and an 8-byte shuffle key; a 64-bit collision marks
    one extra shingle duplicated with p ≈ n²/2⁶⁵, the standard
    hash-keyed-dedup trade, same as drop_duplicated_lines) or ``"md5"``
    (the driver-oracle twin — the one hash DuckDB shares bit-for-bit;
    32-char keys, ~2× slower end-to-end, identical semantics — the
    simhash64 / simhash64_md5 precedent).

    The narrow (id, pos, hash) occurrence table is materialized once with
    ``xengine.truncate_lineage`` (step 1's stage boundary), so the text
    scan and the shingle hashing run once for both consumers.
    """
    if width < 2:
        raise ValueError("width must be >= 2 words")
    if anchor_hash not in ("xxhash64", "md5"):
        raise ValueError(f"unknown anchor_hash {anchor_hash!r}")
    hash_fn = F.md5 if anchor_hash == "md5" else F.xxhash64
    out = out_col or text_col

    words = (
        df.select(F.col(id_col), _norm(text_col).alias("_norm"))
        .withColumn(
            "_ws",
            F.when(F.length("_norm") == 0, F.array().cast("array<string>"))
            .otherwise(F.split(F.col("_norm"), " ")),
        )
        .drop("_norm")
    )

    # anchor hashes, built map-side: _ws is a materialized column (NOT an
    # inline split() expression) so the HOF lambdas capture a cheap
    # attribute. Anchors come from ``width`` parallel slice views zipped
    # element-wise (round 6, the word_shingles construction): anchor i is
    # hash(concat_ws(" ", _ws[i..i+width-1])) — the identical string the
    # per-index array_join(slice(...)) form hashed, with ``width`` slices
    # per document instead of one fresh subarray per anchor position.
    empty_type = "array<string>" if anchor_hash == "md5" else "array<bigint>"
    n_ws = F.size("_ws")
    zipped = F.arrays_zip(
        *[
            F.slice("_ws", j + 1, n_ws - width + 1).alias(f"w{j}")
            for j in range(width)
        ]
    )
    shingles = F.when(
        n_ws >= width,
        F.transform(
            zipped,
            lambda s: hash_fn(
                F.concat_ws(" ", *[s[f"w{j}"] for j in range(width)])
            ),
        ),
    ).otherwise(F.array().cast(empty_type))

    occ = words.select(
        F.col(id_col), F.posexplode(shingles).alias("_pos", "_h")
    )
    # the (id, pos, hash) table feeds BOTH the duplicate-hash groupBy
    # and the coverage semi-join; without a boundary each branch re-runs
    # the normalize + split + shingle-hash transform over the whole corpus
    occ = truncate_lineage(occ)
    dup = (
        occ.groupBy("_h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= int(min_docs))
        .select("_h")
    )
    covered = (
        occ.join(dup, "_h", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("_pos"), F.col("_pos") + width - 1)).alias("_cp"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("_cp")).alias("_cov"))
    )

    joined = words.join(covered, id_col, "left").withColumn(
        "_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    )
    # surviving positions via array_except (hash-set build over _cov,
    # one ordered pass over the index sequence): O(n + c) per document.
    # An array_contains scan per word is O(n·c) — quadratic on a
    # heavily-duplicated giant doc, the exact straggler class the
    # page-local linearity rule exists for. sequence() needs the
    # empty-doc guard: sequence(0, -1) DESCENDS in Spark.
    kept_idx = F.when(
        F.size("_ws") > 0,
        F.array_except(
            F.sequence(F.lit(0), F.size("_ws") - 1), F.col("_cov")
        ),
    ).otherwise(F.array().cast("array<int>"))
    staged = joined.select(
        F.col(id_col),
        F.size("_ws").alias("_n"),
        F.col("_ws"),
        kept_idx.alias("_ki"),
    )
    return staged.select(
        F.col(id_col),
        F.array_join(
            F.transform("_ki", lambda i: F.element_at("_ws", i + 1)), " "
        ).alias(out),
        F.size("_ki").cast("long").alias("n_words_kept"),
        (F.col("_n") - F.size("_ki")).cast("long").alias("n_words_dropped"),
    )
