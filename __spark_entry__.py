"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every SURVEY.md §2 operator family onto the driver's
testdata tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL for each
SQL-expressible one. Rows-only (no-oracle) entries are the pandas-UDF paths
(extraction pipeline, xxhash-based sketches) — their correctness is pinned
against the reference implementation by tests/ instead.

All computed columns are aliased identically on both sides; double-typed
aggregates are rounded on both sides so value hashes are FP-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # The sf test tables are single-row-group files, so the scan physically
    # cannot split below 1-2 partitions. spread=True adds one content-
    # neutral round-robin repartition of the narrow input (a few MB) for
    # queries whose downstream is CPU-heavy map work (shingle hashing,
    # simhash votes, per-block features) — measured ~2x on those; left OFF
    # for cheap JVM-only queries where the extra exchange plus a 2-wave
    # task schedule costs more than it buys. On a real corpus the scan
    # already yields >= cores partitions and this branch never fires.
    if spread:
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full extraction pipeline (tokenize → segment → clean →
    printed-page window) over pages derived from sf0.001 documents."""
    from ocr_obsidian_spark.operators.extract import extract_pages
    from ocr_obsidian_spark.operators.printed_page import apply_printed_page_mode
    from ocr_obsidian_spark.sources.doc_pages import pages_from_documents

    docs = _t(spark, SF_DEFAULT, "documents")
    corpus = apply_printed_page_mode(extract_pages(pages_from_documents(docs)))
    return corpus.select(
        "url", "extracted_text", "char_count", "line_count",
        "printed_page", "printed_page_kind", "is_garbage",
    )


# ---------------------------------------------------------------------------
# relational operator family (TPC-H-ish tables)
# ---------------------------------------------------------------------------

def q_agg_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """A1 bbox-union analog: per-group min/min/max/max + count."""
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.min("l_quantity").alias("q_min"),
            F.max("l_quantity").alias("q_max"),
            F.min("l_shipdate").alias("ship_min"),
            F.max("l_shipdate").alias("ship_max"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_line_concat(spark: SparkSession, sf: str) -> DataFrame:
    """A2/A3 ordered-concat analog: event types joined in (ts, event_id)
    order per user."""
    ev = _t(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            " ",
        ).alias("event_seq")
    )


def q_topk_rank(spark: SparkSession, sf: str) -> DataFrame:
    """W3 deterministic top-1 ranking: per user's best event by a total
    order (value desc, ts, event_id)."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("ts"), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", F.round("value", 6).alias("best_value"))
    )


def q_context_window(spark: SparkSession, sf: str) -> DataFrame:
    """W1 context-window analog: ±2-row sliding sum per user in time order."""
    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return ev.select(
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("ctx_sum"),
        F.count(F.lit(1)).over(w).alias("ctx_n"),
    )


def q_mode_switch(spark: SparkSession, sf: str) -> DataFrame:
    """W4 mode-switch analog: flag set iff a STRICTLY EARLIER order of the
    same customer crossed the threshold (unbounded-preceding..-1 frame)."""
    o = _t(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    big = F.when(F.col("o_totalprice") >= 200000.0, 1).otherwise(0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.max(big).over(w), F.lit(0)).alias("mode_on"),
    )


def q_filter_agg(spark: SparkSession, sf: str) -> DataFrame:
    """F-family pushdown filter + projection + aggregation."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """J1 multi-way equi-join with broadcast dims: revenue per region."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J5 semi-join: customers with at least one order, per segment."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return (
        c.join(o, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Anti-join: customers with no high-value order, per nation."""
    c = _t(spark, sf, "customer")
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.join(o, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_theta_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3 theta-join analog: lineitems shipped >60 days after order date."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate > F.date_add(F.col("o_orderdate"), 60)),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late"))
    )


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """J4 nearest/as-of analog: for each purchase event, the user's latest
    click at or before it (deterministic tie-break on event_id)."""
    ev = _t(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),  # distinct name: both sides derive
        F.col("ts").alias("c_ts"),            # from ev — avoids the self-join
    )                                         # trivially-true-predicate trap
    j = p.join(c, (p.user_id == c.c_user_id) & (c.c_ts <= p.p_ts)).drop("c_user_id")
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("c_ts").desc(), F.col("click_id").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("purchase_id", F.col("click_id").alias("asof_click_id"))
    )


def q_sorted_limit(spark: SparkSession, sf: str) -> DataFrame:
    """F2/O4 sorted limit: top-50 orders by a total order."""
    return (
        _t(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


def q_window_slice(spark: SparkSession, sf: str) -> DataFrame:
    """W5 top-N-per-group: 5 longest documents per source."""
    d = _t(spark, sf, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "n_chars", F.col("rn").cast("long").alias("rn"))
    )


def q_latest_per_key(spark: SparkSession, sf: str) -> DataFrame:
    """S10/W6 latest-run analog: each user's most recent event."""
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("latest_event_id"))
    )


def q_regex_filter(spark: SparkSession, sf: str) -> DataFrame:
    """F5 regex-predicate filter: documents matching (table|spark)."""
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("text").rlike("(table|spark)"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# text-analysis / dedup family (documents table)
# ---------------------------------------------------------------------------

def q_text_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """A5 text-metrics analog, regex-based (relational path; the byte-exact
    Python-semantics version lives in the UDF pipeline)."""
    d = _t(spark, sf, "documents", spread=True)
    text = F.col("text")
    # counts via regexp_count (round 6): same values as the original
    # length(regexp_replace(...)) forms — every counted class is a
    # single-code-unit BMP char, so match count == kept/removed units —
    # without allocating a rewritten string per row per feature
    n_ws = F.regexp_count(text, F.lit(r"\s"))
    nonspace = F.length(text) - n_ws
    alnum = F.regexp_count(text, F.lit("[a-zA-Z0-9]"))
    alpha = F.regexp_count(text, F.lit("[a-zA-Z]"))
    garbage = F.length(text) - alnum - n_ws
    pipes = F.length(text) - F.length(F.replace(text, F.lit("|"), F.lit("")))
    return d.select(
        "doc_id",
        F.length(text).cast("long").alias("char_count"),
        F.round(alpha / F.nullif(alnum, F.lit(0)), 6).alias("alpha_ratio"),
        F.round(garbage / F.nullif(nonspace, F.lit(0)), 6).alias("garbage_ratio"),
        F.round(pipes / F.nullif(nonspace, F.lit(0)), 6).alias("pipe_ratio"),
    )


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword tokens."""
    from ocr_obsidian_spark.operators.textstats import with_token_counts

    d = _t(spark, sf, "documents", spread=True)
    return with_token_counts(d).select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_subword_tokens").cast("long").alias("n_subword_tokens"),
    )


def _accent_injected(spark: SparkSession, sf: str) -> DataFrame:
    """Shared WordPiece driver input: the corpus is fully ascii-matchable,
    so plant accented words on every third doc to force the whole-word
    fold down BOTH paths (char fallback and word-[UNK])."""
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" résumé café naïveté")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_subword_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Vocab-driven greedy longest-match WordPiece over the fixture
    vocabulary: the exact piece sequence (joined with '|') plus the count.
    The oracle replays the same greedy matches with a DuckDB recursive
    CTE over the SAME vocab literals, so the two engines must agree on
    every piece boundary, not just the totals."""
    from ocr_obsidian_spark.operators.tokenize import tokenize_wordpiece

    injected = _accent_injected(spark, sf)
    return tokenize_wordpiece(injected, unk_mode="both").select(
        "doc_id",
        F.array_join("wordpiece_tokens", "|").alias("tokens_str"),
        F.col("n_wordpiece_tokens"),
        F.array_join("wordpiece_tokens_ww", "|").alias("tokens_ww_str"),
        F.col("n_wordpiece_tokens_ww").alias("n_ww_tokens"),
    )


def q_token_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Driver fold (round 5, keeps the registry at exactly 50 with
    bpe_tokens added): the q_subword_tokens WordPiece columns plus the
    cheap regex token counts that were the standalone token_counts entry
    through round 4 — same doc grain, same injected text, one map-only
    pipeline. bench.py still times q_token_counts and q_subword_tokens
    separately, so their floor rows keep the round-4 definitions."""
    from ocr_obsidian_spark.operators.textstats import with_token_counts
    from ocr_obsidian_spark.operators.tokenize import tokenize_wordpiece

    injected = _accent_injected(spark, sf)
    return tokenize_wordpiece(
        with_token_counts(injected), unk_mode="both"
    ).select(
        "doc_id",
        F.array_join("wordpiece_tokens", "|").alias("tokens_str"),
        F.col("n_wordpiece_tokens"),
        F.array_join("wordpiece_tokens_ww", "|").alias("tokens_ww_str"),
        F.col("n_wordpiece_tokens_ww").alias("n_ww_tokens"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_subword_tokens").cast("long").alias("n_subword_tokens"),
    )


def q_bpe_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Character-level BPE (Sennrich et al. 2016) over the checked-in
    fixture merge table: the exact token sequence (joined with '|') plus
    the count. The oracle replays the SAME merge table with a DuckDB
    recursive CTE — per distinct word, the lowest-rank adjacent pair
    present is merged (first occurrence per step; provably equal to the
    published pass-per-pair loop because merging (a,b) can never create
    a new (a,b) adjacency), so both engines must agree on every merge
    decision, not just the totals. Injected repeated-pair words (aaaa /
    banana / abcabcabc) force the overlapping-occurrence path; U+001F is
    stripped on both sides because the oracle uses it as the symbol
    separator in its state strings."""
    from ocr_obsidian_spark.operators.tokenize import tokenize_bpe

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")), "\x1f", ""
            ),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit(" aaaa banana bananas abcabcabc"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return tokenize_bpe(injected).select(
        "doc_id",
        F.array_join("bpe_tokens", "|").alias("bpe_str"),
        F.col("n_bpe_tokens"),
    )


def _bpe_unigram_injected(spark: SparkSession, sf: str) -> DataFrame:
    """Shared injected input for the bpe/unigram driver fold: U+001F
    stripped (both oracles use it as a state/path separator), repeated-
    pair words on every 4th doc (BPE overlapping-occurrence path),
    accented words + a 30-char word on every 5th doc (unigram UNK-char
    cost and the >24-char whole-word fallback)."""
    d = _t(spark, sf, "documents", spread=True)
    return d.select(
        "doc_id",
        F.concat(
            F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")), "\x1f", ""
            ),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit(" aaaa banana bananas abcabcabc"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" résumé écran " + "ab" * 15),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_unigram_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style, Kudo 2018) Viterbi tokenization
    over the checked-in integer-quantized cost table: exact token
    sequence, count, and the integer Viterbi objective (a real -log10
    likelihood in micro units). Standalone for bench; the driver row is
    the q_bpe_suite fold."""
    from ocr_obsidian_spark.operators.tokenize import tokenize_unigram

    return tokenize_unigram(_bpe_unigram_injected(spark, sf)).select(
        "doc_id",
        F.array_join("unigram_tokens", "|").alias("unigram_str"),
        F.col("n_unigram_tokens"),
        F.col("unigram_cost_micro"),
    )


def q_bpe_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Driver fold (keeps the registry at exactly 50 with the unigram
    tokenizer added): the q_bpe_tokens columns plus the unigram-LM
    Viterbi columns over the same injected input — same doc grain, both
    map-only, one pipeline. The oracle replays BOTH: the BPE recursive
    CTE (every merge decision) and a generated unrolled-DP twin of the
    Viterbi (min over (cost, n_pieces, path) at every position over the
    SAME cost literals), so the engines must agree on every merge AND
    every DP argmin, not just totals. bench.py times q_bpe_tokens and
    q_unigram_tokens separately so floor rows keep per-op definitions."""
    from ocr_obsidian_spark.operators.tokenize import (
        tokenize_bpe,
        tokenize_unigram,
    )

    injected = _bpe_unigram_injected(spark, sf)
    return tokenize_unigram(tokenize_bpe(injected)).select(
        "doc_id",
        F.array_join("bpe_tokens", "|").alias("bpe_str"),
        F.col("n_bpe_tokens"),
        F.array_join("unigram_tokens", "|").alias("unigram_str"),
        F.col("n_unigram_tokens"),
        F.col("unigram_cost_micro"),
    )


def q_quality_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-scoring features (ratios rounded for FP-stable hashing)."""
    from ocr_obsidian_spark.operators.textstats import with_quality_score

    d = _t(spark, sf, "documents", spread=True)
    return with_quality_score(d).select(
        "doc_id",
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


def q_quality_clf(spark: SparkSession, sf: str) -> DataFrame:
    """Supervised linear quality classifier (operators/qualityclf.py,
    the fastText-style LLaMA/GPT-3 filter recipe): exact integer
    count-linear score under the fixture-trained quantized model, and
    the integer decision ``score >= 0``. Integer-only output — not even
    a rounding boundary to defend."""
    from ocr_obsidian_spark.operators.qualityclf import with_quality_label

    d = _t(spark, sf, "documents", spread=True)
    return with_quality_label(d).select(
        "doc_id", "clf_score_micro", "clf_label"
    )


def q_quality_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Driver fold (round 5, keeps the registry at exactly 50 with the
    quality classifier added): the feature-ratio stats plus the
    classifier score/label table, tagged by a variant column with
    -1/-1.0 sentinels (NULL-free compound-union rule). bench.py still
    times q_quality_stats and q_quality_clf separately."""
    stats = q_quality_stats(spark, sf).select(
        F.lit("stats").alias("variant"),
        F.col("doc_id"),
        F.col("alpha_ratio").alias("d1"),
        F.col("punct_ratio").alias("d2"),
        F.col("stopword_ratio").alias("d3"),
        F.col("quality_score").alias("d4"),
        F.lit(-1).cast("long").alias("v1"),
        F.lit(-1).cast("long").alias("v2"),
    )
    clf = q_quality_clf(spark, sf).select(
        F.lit("clf").alias("variant"),
        F.col("doc_id"),
        F.lit(-1.0).alias("d1"),
        F.lit(-1.0).alias("d2"),
        F.lit(-1.0).alias("d3"),
        F.lit(-1.0).alias("d4"),
        F.col("clf_score_micro").alias("v1"),
        F.col("clf_label").alias("v2"),
    )
    return stats.unionByName(clf)


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Cascade language ID (operators/langid.py): the 4-language
    stopword-marker heuristic decides when confident (>= 3 hits, pure
    codegen); otherwise the 17-language char-n-gram Naive Bayes scores
    inside the Arrow UDF. ``lang_nb``/``nb_feature_hits`` are NULL where
    the pre-filter skipped the model — the skip itself is oracled."""
    from ocr_obsidian_spark.operators.langid import with_language

    d = _t(spark, sf, "documents", spread=True)
    return with_language(d).select(
        "doc_id", "lang_marker", "lang_nb", "nb_feature_hits", "lang_id"
    )


def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint over normalized content."""
    d = _t(spark, sf, "documents", spread=True)
    norm = F.lower(F.trim(F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\s+", " ")))
    return d.select("doc_id", F.md5(norm).alias("fingerprint_md5"))


def _docs_with_dups(spark: SparkSession, sf: str, spread: bool = False) -> DataFrame:
    """documents ∪ exact copies of doc_id<25 shifted by +100000 — a known
    duplicate population for dedup checks."""
    d = _t(spark, sf, "documents", spread=spread)
    dup = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return d.unionByName(dup)


def q_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup over a known-duplicates population: surviving doc ids."""
    from ocr_obsidian_spark.operators.dedup import drop_exact_duplicates

    return drop_exact_duplicates(_docs_with_dups(spark, sf)).select("doc_id")


def _incremental_new_pop(spark: SparkSession, sf: str) -> DataFrame:
    """A synthetic 'next crawl snapshot' against the documents corpus:
    exact copies (+100000 of doc_id<25), near-duplicates (+200000 of
    25<=doc_id<50 with one appended token — shingle Jaccard ≈ n/(n+3),
    above 0.95 for long docs, below for short ones: both engines compute
    the same exact Jaccard so the split is consistent), and genuinely
    new rows (+300000, fresh text)."""
    d = _t(spark, sf, "documents")
    copies = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = d.filter((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyxtoken")).alias("text"),
    )
    fresh = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.lit("entirely new snapshot document "),
            F.col("doc_id").cast("string"),
            F.lit(" qqfresh"),
        ).alias("text"),
    )
    return copies.unionByName(near).unionByName(fresh)


def q_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental (snapshot-vs-corpus) dedup, dedup.py round 5:
    ``exact_kept`` = new rows surviving the content-hash anti-join;
    ``near_match`` = cross-corpus LSH candidates verified at exact
    shingle-Jaccard ≥ 0.95 (J ≥ 0.95 band-collision probability is
    1 - (1-J⁴)¹⁶ ≥ 1 - 6.4e-12, so the LSH set equals the oracle's
    exhaustive set on this population; pinned by test_dedup.py too)."""
    from ocr_obsidian_spark.operators.dedup import (
        drop_exact_duplicates_against,
        near_duplicate_matches_against,
    )

    new = _incremental_new_pop(spark, sf)
    existing = _t(spark, sf, "documents", spread=True).select("doc_id", "text")
    kept = drop_exact_duplicates_against(new, existing).select(
        F.lit("exact_kept").alias("variant"),
        F.col("doc_id").alias("a"),
        F.lit(-1).cast("long").alias("b"),
    )
    matches = near_duplicate_matches_against(
        new, existing, threshold=0.95
    ).select(
        F.lit("near_match").alias("variant"),
        F.col("new_id").alias("a"),
        F.col("existing_id").alias("b"),
    )
    return kept.unionByName(matches)


def q_dedup_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Driver fold (round 5, keeps the registry at exactly 50 with
    incremental dedup added): the in-corpus exact-dedup survivors plus
    the snapshot-vs-corpus exact/near results, all integer columns.
    bench.py still times q_exact_dedup and q_incremental_dedup
    separately."""
    exact = q_exact_dedup(spark, sf).select(
        F.lit("exact").alias("variant"),
        F.col("doc_id").alias("a"),
        F.lit(-1).cast("long").alias("b"),
    )
    return exact.unionByName(q_incremental_dedup(spark, sf))


def q_dedup_groups(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-duplicate group stats: groups with more than one member."""
    from ocr_obsidian_spark.operators.dedup import exact_duplicate_groups

    g = exact_duplicate_groups(_docs_with_dups(spark, sf))
    return g.filter(F.col("n_docs") > 1).select("n_docs", "keep_id")


def q_jaccard_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Unrestricted n-gram Jaccard near-dup pairs (inverted-index self-join,
    no LSH pre-filter — the exact-verification path, fully SQL-checkable)."""
    from ocr_obsidian_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs_with_dups(spark, sf, spread=True), threshold=0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 5 vectors (exact baseline)."""
    from ocr_obsidian_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings", spread=True)
    q = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


def q_embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pass over a known-duplicates population
    (LSH-bucketed Spark path; oracle checks the same pair set exhaustively)."""
    from ocr_obsidian_spark.operators.similarity import embedding_near_duplicates

    emb = _t(spark, sf, "embeddings", spread=True)
    dup = emb.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    return embedding_near_duplicates(both, dim=64, threshold=0.9999).select("id_a", "id_b")


def _semdedup_population(spark: SparkSession, sf: str) -> DataFrame:
    """embeddings ∪ exact copies (+100000) ∪ first-coordinate ×1.05
    perturbations (+200000) of the first 25 vectors, as array<double> —
    the perturbed members give the SemDeDup keep rule non-trivial
    decisions (25 three-member duplicate groups; in 14 the perturbed
    copy is farther from its centroid and wins over the lower ids).
    Measured margins on this input (tests/test_semdedup.py pins the
    construction): assignment 8.2e-4, threshold 8.8e-4, every keep score
    ≥1.4e-9 from a rounding boundary — all astronomically above the
    ~1e-15 cross-engine float skew."""
    emb = _t(spark, sf, "embeddings", spread=True).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    head = emb.filter(F.col("vec_id") < 25)
    copies = head.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    perturbed = head.select(
        (F.col("vec_id") + 200000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) * F.lit(1.05)),
            F.slice(F.col("embedding"), F.lit(2), F.size("embedding") - 1),
        ).alias("embedding"),
    )
    return emb.unionByName(copies).unionByName(perturbed)


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, operators/semdedup.py): k=32
    lowest-id-sample centroids (k bounds the within-cell pair volume —
    the paper's own scaling knob; k=8 left 264k candidate pairs at
    sf0.1, k=32 cuts that ~4×), within-cell cosine ≥ 0.999 duplicate
    groups, keep = lowest centroid similarity (rounded, id tie-break).
    Integer-only output; the oracle replays assignment, pairing,
    components (recursive CTE) and the keep window from the SAME
    centroid rows — no literal floats ride in the SQL."""
    from ocr_obsidian_spark.operators.semdedup import semantic_dedup_labels
    from ocr_obsidian_spark.operators.similarity import sample_centroids

    both = _semdedup_population(spark, sf)
    cents = sample_centroids(both, 32)
    # the oracle computes EXHAUSTIVE within-cell pairs, so the Spark side
    # must never degrade a cell to chaining: the default cell cap (4096)
    # exceeds the whole population at the sf0.01/sf0.1 test scales (2,050
    # rows at sf0.1), so no cell can reach it; the cap path is pinned by
    # tests/test_semdedup.py instead
    return semantic_dedup_labels(both, cents, threshold=0.999)


def q_embedding_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Driver fold (round 5, keeps the registry at exactly 50 with
    semantic_dedup added): the embedding_near_dup LSH pair set plus the
    SemDeDup label table, tagged by a variant column with -1 padding
    (NULL-free: long sentinels, per the compound-union rule). bench.py
    still times q_embedding_near_dup and q_semantic_dedup separately."""
    pair = q_embedding_near_dup(spark, sf).select(
        F.lit("pair").alias("variant"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.lit(-1).cast("long").alias("c"),
        F.lit(-1).cast("long").alias("d"),
    )
    sem = q_semantic_dedup(spark, sf).select(
        F.lit("sem").alias("variant"),
        F.col("vec_id").alias("a"),
        F.col("sem_cell").alias("b"),
        F.col("component").alias("c"),
        F.col("kept").alias("d"),
    )
    return pair.unionByName(sem)


def q_block_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Block-salience classification, web-graft form (SURVEY §2.11 #3):
    fixed-size token blocks scored by text/link density, pure native
    expressions. The pixel-space detection twin (HSV mask → morphology →
    components, operators/blocks.detect_blocks) is pinned against
    independent naive oracles + the reference span functions by
    tests/test_blocks.py — its strokes payload is not SQL-reachable."""
    from ocr_obsidian_spark.operators.blocks import classify_text_blocks

    d = _t(spark, sf, "documents", spread=True)
    return classify_text_blocks(d).select(
        "doc_id", "block_idx", "n_tokens", "n_chars",
        "alpha_ratio", "link_density",
        F.col("is_content").cast("long").alias("is_content"),
    )


def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Payload size + content hash over the UTF-8 bytes of each document:
    a pure JVM projection (NULL text hashes as the empty payload)."""
    payload = F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8")
    return _t(spark, sf, "documents").select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("content_sha256"),
    )


# ---------------------------------------------------------------------------
# rows-only (non-SQL-expressible) pipeline queries
# ---------------------------------------------------------------------------

def q_extract_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """Full extraction pipeline over document-derived pages (UDF path —
    byte-identity vs the reference is pinned by tests/, not SQL)."""
    from ocr_obsidian_spark.operators.extract import extract_pages
    from ocr_obsidian_spark.operators.printed_page import apply_printed_page_mode
    from ocr_obsidian_spark.sources.doc_pages import pages_from_documents

    docs = _t(spark, sf, "documents", spread=True)
    corpus = apply_printed_page_mode(extract_pages(pages_from_documents(docs)))
    return corpus.select(
        "url", "extracted_text", "char_count", "printed_page", "is_garbage"
    )


def q_book_export(spark: SparkSession, sf: str) -> DataFrame:
    """export-book-text analog (reference cli.py:162-215): one concatenated
    markdown document per source from a corpus-shaped projection of the
    documents table — fully relational, so the reference's part-join +
    strip semantics (4-newline separators, str.strip) are DuckDB-oracled.
    The UDF-extracted corpus variant of the same operator is pinned
    byte-for-byte by tests/test_export_lineage.py."""
    from ocr_obsidian_spark.operators.export_text import export_book_text

    d = _t(spark, sf, "documents")
    corpus = d.select(
        F.col("source").alias("book_id"),
        F.col("doc_id").cast("int").alias("page_num"),
        F.lit(None).cast("int").alias("printed_page"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("scan_relpath"),
        F.col("text").alias("extracted_text"),
    )
    return export_book_text(corpus, fmt="md")


def q_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH candidate pairs over the known-duplicates population.

    xxhash64 signatures have no DuckDB analog, but the ORACLE is the exact
    shingle-Jaccard pair set: at 64 hashes / 16 bands on this deterministic
    corpus the banded candidates coincide exactly with the >=0.8 Jaccard
    pairs (verified: no band collision below threshold, no missed pair), so
    any regression in the signature/banding path breaks the hash match."""
    from ocr_obsidian_spark.operators.dedup import minhash_lsh_candidate_pairs

    return minhash_lsh_candidate_pairs(_docs_with_dups(spark, sf, spread=True))


def q_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit simhash fingerprints, FULLY ORACLED (round-2 verdict #8):
    the md5-token-hash twin shares the exact sign-sum vote logic with the
    xxhash64 production fingerprint (simhash64, pinned by the simhash_dups
    oracle + tests) but is recomputable bit-for-bit in DuckDB. Fingerprint
    rides as two unsigned 32-bit halves so neither engine touches an
    unrepresentable unsigned 64-bit value."""
    from ocr_obsidian_spark.operators.dedup import simhash64_md5

    return simhash64_md5(_t(spark, sf, "documents", spread=True))


def q_simhash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Simhash banding completeness, SQL-oracled: identical normalized text
    ⇒ identical fingerprint ⇒ co-bucketed in EVERY band, so restricting the
    banded candidates to equal-content pairs must reproduce the exhaustive
    exact-duplicate pair set — a banding/fingerprint regression that drops
    a bucket match breaks the hash comparison. (Raw hamming-0 pairs are a
    strict superset here: this corpus contains near-identical doc pairs
    whose few differing tokens don't flip any of the 64 sign-sums — correct
    simhash behaviour, but not SQL-expressible, hence the equality filter.)
    """
    from ocr_obsidian_spark.operators.dedup import (
        normalized_text,
        simhash_candidate_pairs,
    )

    docs = _docs_with_dups(spark, sf, spread=True)
    cands = simhash_candidate_pairs(docs).filter(F.col("hamming") == 0)
    keyed = docs.select("doc_id", F.sha2(normalized_text("text"), 256).alias("h"))
    ka = keyed.select(F.col("doc_id").alias("id_a"), F.col("h").alias("_ha"))
    kb = keyed.select(F.col("doc_id").alias("id_b"), F.col("h").alias("_hb"))
    return (
        cands.join(ka, "id_a")
        .join(kb, "id_b")
        .filter(F.col("_ha") == F.col("_hb"))
        .select("id_a", "id_b")
    )



def _lsh_verified(spark: SparkSession, sf: str):
    """(docs, verified >=0.8-Jaccard pairs over MinHash candidates) — the
    candidate → verify composition the recipe runs."""
    from ocr_obsidian_spark.operators.dedup import (
        minhash_lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    docs = _docs_with_dups(spark, sf, spread=True)
    pairs = ngram_jaccard_pairs(
        docs, threshold=0.8, candidate_pairs=minhash_lsh_candidate_pairs(docs)
    )
    return docs, pairs


def q_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """n-gram Jaccard >= 0.8 over LSH candidates (the 100 TB path:
    candidate-restricted array_intersect verification). Oracled against the
    UNRESTRICTED exact-Jaccard SQL: the LSH candidate set provably contains
    every >=0.8 pair on this corpus (see q_minhash_pairs), so the filtered
    output must equal the exhaustive pair set, values included."""
    _, pairs = _lsh_verified(spark, sf)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup PAIRS → duplicate GROUPS: distributed connected components
    (min-label propagation with pointer doubling) over the verified
    >=0.8-Jaccard pair graph. Oracle: DuckDB recursive-CTE transitive
    closure over the same exhaustive pair set — every node must resolve to
    the minimum id reachable in its component."""
    from ocr_obsidian_spark.operators.dedup import pair_components

    _, pairs = _lsh_verified(spark, sf)
    return pair_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_near_dedup_keep(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end near-dedup resolution: candidates → verified >=0.8
    Jaccard pairs → connected components → min-id survivors. The oracle
    recomputes the keep-list from the recursive-CTE component closure."""
    from ocr_obsidian_spark.operators.dedup import drop_near_duplicates

    docs, pairs = _lsh_verified(spark, sf)
    return drop_near_duplicates(docs, pairs).select("doc_id")


def q_lsh_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate NN via multi-table hyperplane LSH. ORACLED since round
    3: the seeded hyperplanes are deterministic, so DuckDB rebuilds the
    same signatures/candidates/re-rank from plane literals (_lsh_ann_sql);
    the output is integer-only so no float formatting enters the hash."""
    from ocr_obsidian_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings", spread=True)
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, q, k=5, dim=64, n_bits=6, n_tables=8).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """IVF cell-partitioned NN with EXHAUSTIVE probing (n_probe = n_cells):
    probing every cell makes the result provably the exact top-k, which
    oracles the whole IVF plumbing (assignment, probe join, ranking) against
    the brute-force SQL; approximate-recall behaviour at n_probe < n_cells
    is pinned by tests/test_similarity.py."""
    from ocr_obsidian_spark.operators.similarity import ivf_topk, sample_centroids

    emb = _t(spark, sf, "embeddings", spread=True)
    cents = sample_centroids(emb, 8)
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, q, cents, k=5, n_probe=8).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


# ---------------------------------------------------------------------------
# web-corpus preparation (operators/webprep.py) — domain caps, deterministic
# sampling, decontamination, PII scrub
# ---------------------------------------------------------------------------

def _docs_with_urls(spark: SparkSession, sf: str) -> DataFrame:
    """documents + a deterministic synthetic url (source x doc_id%7 hosts) —
    the same expression is rebuilt in the DuckDB oracles."""
    d = _t(spark, sf, "documents", spread=True)
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".test/doc/"),
        F.col("doc_id").cast("string"),
    )
    return d.withColumn("url", url)


_URL_SQL = (
    "'https://' || source || '-' || CAST(doc_id % 7 AS VARCHAR) "
    "|| '.test/doc/' || CAST(doc_id AS VARCHAR)"
)


def q_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document quota (web corpora are mega-host-dominated):
    keep at most 2 docs per host, deterministically by url order (2 so
    the cap genuinely binds on the ~3.6-doc hosts of the test corpus)."""
    from ocr_obsidian_spark.operators.webprep import cap_per_domain, extract_domain

    d = _docs_with_urls(spark, sf)
    return cap_per_domain(d, 2).select(
        "doc_id", extract_domain().alias("domain")
    )


def q_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic content-keyed 37% sample — reproducible across runs,
    engines, and parallelism levels (md5 bucket, not rand())."""
    from ocr_obsidian_spark.operators.webprep import hash_sample

    return hash_sample(_docs_with_urls(spark, sf), 37).select("doc_id")


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Eval-set decontamination: drop documents sharing any word 8-shingle
    with the benchmark set (here: doc_id < 10). Corpus explodes map-side
    and semi-joins the broadcast benchmark shingles — never shuffles."""
    from ocr_obsidian_spark.operators.webprep import decontaminate

    d = _t(spark, sf, "documents", spread=True)
    bench = d.filter(F.col("doc_id") < 10)
    return decontaminate(d, bench).select("doc_id")


def q_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """The driver registry row for decontamination runs the BLOOM scale
    path (distributed bitset build -> map-side probe -> exact confirm
    join) against an exact-semantics SQL oracle — a driver-visible proof
    that the Bloom pre-filter changes the plan shape, not the result.
    Round-5 upgrade: the row now emits the per-doc contamination REPORT
    (distinct-shingle totals + contaminated counts — the published
    threshold-decontamination measure) plus the integer kept flag, whose
    1-rows are exactly decontaminate()'s keep set (pinned by the
    max_overlap_pct=0 equivalence test). bench.py keeps timing
    q_decontaminate (the exact broadcast path) so its floor row stays
    definition-comparable."""
    from ocr_obsidian_spark.operators.webprep import contamination_report

    d = _t(spark, sf, "documents", spread=True)
    bench = d.filter(F.col("doc_id") < 10)
    rep = contamination_report(d, bench, method="bloom")
    return rep.select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        (F.col("n_contaminated") == 0).cast("long").alias("kept"),
    )


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction over text with deterministically injected emails /
    phones / IPs (the raw corpus has none); emails scrub before phones so
    address digits never half-match."""
    from ocr_obsidian_spark.operators.webprep import scrub_pii

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or +1 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    return scrub_pii(injected).select("doc_id", F.col("text").alias("scrubbed"))


def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (dup-line fraction, top-bigram
    share), computed map-only per row with array folds; the oracle
    recomputes the bigram mode with a per-doc group-by."""
    from ocr_obsidian_spark.operators.textstats import with_repetition_stats

    d = _t(spark, sf, "documents", spread=True)
    return with_repetition_stats(d).select(
        "doc_id", "n_lines", "dup_line_frac", "n_bigrams", "top_bigram_frac"
    )


def q_url_canon(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization over deterministically 'dirtied' urls — four
    rotating noise variants (tracking params + fragment, trailing slash,
    gclid-only query, clean) on an uppercased host with a default port."""
    from ocr_obsidian_spark.operators.webprep import canonicalize_url

    d = _t(spark, sf, "documents", spread=True)
    noisy = d.select("doc_id", "source", _noisy_url(F.col("doc_id")).alias("url"))
    return canonicalize_url(noisy, out_col="canon_url").select(
        "doc_id", "canon_url"
    )


# rotating internationalized-host fixtures for q_url_canon_idn; the
# expected punycode forms are derived at oracle-build time from the
# python stdlib `idna` codec (an independent implementation of IDNA
# ToASCII) and embedded as literals — same precedent as the lsh_ann
# hyperplane literals
_IDN_FIXTURE_HOSTS = [
    "BÜCHER.example",  # latin-1 + uppercase: lower() must run before ToASCII
    "münchen.de",
    "пример.испытание",  # cyrillic host AND cyrillic TLD
    "日本語.example",
    "plain-ascii.test",  # ascii fast path: must pass through untouched
]


def q_url_canon_idn(spark: SparkSession, sf: str) -> DataFrame:
    """IDN-aware canonicalization (idn=True): rotating unicode hosts with
    a default port and a lowercase-hex unreserved escape in the path, so
    the query pins the expression chain + punycode-UDF composition."""
    from ocr_obsidian_spark.operators.webprep import canonicalize_url

    d = _t(spark, sf, "documents", spread=True)
    host = F.lit(_IDN_FIXTURE_HOSTS[-1])
    for i, h in enumerate(_IDN_FIXTURE_HOSTS[:-1]):
        host = F.when(F.col("doc_id") % 5 == i, F.lit(h)).otherwise(host)
    noisy = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"), host, F.lit(":443/x%7ey/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return canonicalize_url(noisy, out_col="canon_url", idn=True).select(
        "doc_id", "canon_url"
    )


def _crawlish_docs(spark: SparkSession, sf: str) -> DataFrame:
    """documents + synthetic urls, with the text SHAPED into crawl-like
    prose: the sf tables carry single-line unpunctuated word salad, which
    the C4 line gate vacuously empties (no terminal punctuation) — the
    full-pipeline bench would then time a hollow tail. Shaping = break
    into 12-word period-terminated lines and append one stopword-bearing
    closing line, so every gate (C4 lines, Gopher shape + stopwords,
    line/exact/near dedup) does real, corpus-proportional work.

    The shaped frame is lineage-truncated (round 6): CollapseProject
    re-inlines the shape regex into every downstream gate expression
    that references ``text`` (measured: 37 copies of the shape pattern
    in the fused gate-chain plan — an exchange alone does not stop it,
    the optimizer pulls the projection back through a round-robin
    repartition), so the shape+url projection is materialized once
    behind a checkpoint and every gate reads plain attributes.
    Downstream is also UDF-heavy (lang NB + repetition) and the sf scan
    is a single row group — the spread conditioning rides the same
    materialization."""
    from ocr_obsidian_spark.operators.xengine import truncate_lineage

    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".test/doc/"),
        F.col("doc_id").cast("string"),
    )
    d = d.withColumn("url", url)
    d = d.withColumn("text", crawl_shape(F.col("text")))
    target = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        d = d.repartition(target)
    return truncate_lineage(d)


def crawl_shape(text: F.Column) -> F.Column:
    """The one shaping rule: 12-word period-terminated lines + a
    stopword-bearing closing line."""
    return F.concat(
        F.regexp_replace(
            F.coalesce(text, F.lit("")),
            r"((?:\S+ ){11}\S+) ",
            "$1.\n",
        ),
        F.lit(".\nthe rest of the data is that we have it with care."),
    )


def q_prepare_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Bench-only body (NOT in the driver registry — every component is
    individually oracled there): the composed one-job corpus recipe
    (operators/recipe.py prepare_web_corpus — url dedup → lang → Gopher
    shape+repetition → C4 → line/exact/near dedup → decontamination →
    PII) end-to-end over the crawl-shaped documents table, the pipeline
    a real training-data run would execute per snapshot."""
    from ocr_obsidian_spark.operators.recipe import prepare_web_corpus

    docs = _crawlish_docs(spark, sf)
    bench = docs.limit(5).select("doc_id", "text")
    return prepare_web_corpus(docs, langs=None, benchmark=bench).df


# q_mix_corpus source weights, shared with the mix_suite oracle
_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.05}


def q_mix_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted per-source corpus mixing (keep fractions per source,
    md5-bucket deterministic)."""
    from ocr_obsidian_spark.operators.webprep import mix_corpus

    d = _docs_with_urls(spark, sf)
    # sources are src0..src19; weight a spread of fractions incl. 0-keep
    # (absent sources) and full-keep
    kept = mix_corpus(d, _MIX_WEIGHTS)
    return kept.select("doc_id", "source")


def q_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023, operators/dsir.py):
    fixture-trained hashed-bigram log-ratio model (data-INDEPENDENT, like
    FIXTURE_LM — the oracle's lam table must be static SQL), exact
    integer micro log-weights, deterministic md5-Gumbel top-100 without
    replacement. Output is integer-only."""
    from ocr_obsidian_spark.operators.dsir import dsir_select

    docs = _t(spark, sf, "documents", spread=True)
    return dsir_select(docs, 100)


def q_alpha_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Multilingual alpha-sampling (temperature re-weighting, Conneau et
    al. 2020 — operators/webprep.py alpha_sample) over a deterministic
    skewed 3-group split (80/15/5 by doc_id % 20) at alpha=0, the
    equal-kept-counts setting where the waterfilling cap loop actually
    fires: both small groups cap at weight 1.0 and the surplus
    re-normalizes onto the big one. alpha=0 keeps every weight in pure
    integer-count + IEEE-division arithmetic (p_g = c^0 = 1.0 exactly;
    no transcendental pow crosses engines), so the mix_suite oracle
    replays the loop round by round, bit-identically."""
    from ocr_obsidian_spark.operators.webprep import alpha_sample

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("g"),
            F.when(F.col("doc_id") % 20 < 16, F.lit(0))
            .when(F.col("doc_id") % 20 < 19, F.lit(1))
            .otherwise(F.lit(2))
            .cast("string"),
        ).alias("grp"),
    )
    kept = alpha_sample(
        d, alpha=0.0, keep_frac=0.5, group_col="grp", key_col="doc_id"
    )
    return kept.select("doc_id", "grp")


def q_mix_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Driver fold (round 5, keeps the registry at exactly 50 with dsir
    added): the source-keyed mix_corpus keep-set plus the content-keyed
    DSIR weight/selection table plus the alpha-sampling keep-set, tagged
    by a variant column with ''/-1 sentinels (NULL-free compound-union
    rule). bench.py still times q_mix_corpus and q_dsir separately."""
    mix = q_mix_corpus(spark, sf).select(
        F.lit("mix").alias("variant"),
        F.col("doc_id"),
        F.col("source").alias("s"),
        F.lit(-1).cast("long").alias("v1"),
        F.lit(-1).cast("long").alias("v2"),
        F.lit(-1).cast("long").alias("v3"),
    )
    dsir = q_dsir(spark, sf).select(
        F.lit("dsir").alias("variant"),
        F.col("doc_id"),
        F.lit("").alias("s"),
        F.col("n_grams").alias("v1"),
        F.col("logw_micro").alias("v2"),
        F.col("selected").alias("v3"),
    )
    alpha = q_alpha_sample(spark, sf).select(
        F.lit("alpha").alias("variant"),
        F.col("doc_id"),
        F.col("grp").alias("s"),
        F.lit(-1).cast("long").alias("v1"),
        F.lit(-1).cast("long").alias("v2"),
        F.lit(-1).cast("long").alias("v3"),
    )
    return mix.unionByName(dsir).unionByName(alpha)


def _noisy_url(base_id: F.Column) -> F.Column:
    """Deterministically 'dirtied' url for a given id expression — six
    rotating noise variants (tracking params + fragment, trailing slash,
    gclid-only query, clean, lowercase-hex percent escapes of unreserved
    chars, their decoded twin) on an uppercased host with a default port.
    Shared by q_url_canon (id = doc_id, all distinct) and q_url_dedup
    (id = doc_id // 2, so noise-variant pairs collide after
    canonicalization)."""
    bid = base_id.cast("string")
    return F.concat(
        F.lit("HTTPS://"),
        F.upper(F.col("source")),
        F.lit("-"),
        (base_id % 7).cast("string"),
        F.lit(".Test:443/Doc/"),
        bid,
        F.when(F.col("doc_id") % 6 == 0, F.lit("?utm_source=x&b=2&a=1#top"))
        .when(F.col("doc_id") % 6 == 1, F.lit("/"))
        .when(F.col("doc_id") % 6 == 2, F.lit("?gclid=abc"))
        .when(F.col("doc_id") % 6 == 3, F.lit(""))
        # %7e → ~, %31 → 1 (unreserved: decoded); %2f is '/' (reserved:
        # hex case normalized only) — variant 5 is the decoded twin, so
        # the (4,5) pair must collide after canonicalization
        .when(F.col("doc_id") % 6 == 4, F.lit("/%7eu%31%2fv"))
        .otherwise(F.lit("/~u1%2Fv")),
    )


def q_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup: ids are paired onto the same base url with
    DIFFERENT noise variants. The gclid/clean pairs and the
    percent-escape/decoded-twin pairs (two thirds of them) canonicalize
    identically and must collapse to the lowest id; the utm/slash pairs
    keep their REAL query params (a=1&b=2) and must NOT collapse —
    500 docs → 334 kept."""
    from ocr_obsidian_spark.operators.webprep import drop_url_duplicates

    d = _t(spark, sf, "documents", spread=True)
    # constant host (not per-doc source) so a pair's urls differ ONLY in
    # noise — the gclid/clean variant pairs must actually collide
    fixed = d.select("doc_id", F.lit("site").alias("source"))
    noisy = fixed.select(
        "doc_id", _noisy_url(F.col("doc_id") - (F.col("doc_id") % 2)).alias("url")
    )
    return drop_url_duplicates(noisy).select("doc_id", "url")


def q_script_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode-script composition over deterministically injected
    multilingual tails (the raw corpus is latin-only): cyrillic, arabic
    or CJK appended by doc_id class."""
    from ocr_obsidian_spark.operators.textstats import with_script_mix

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 4 == 1, F.lit(" " + _CYR_SAMPLE))
            .when(F.col("doc_id") % 4 == 2, F.lit(" " + _ARA_SAMPLE))
            .when(F.col("doc_id") % 4 == 3, F.lit(" " + _CJK_SAMPLE))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return with_script_mix(injected).select(
        "doc_id", "latin_frac", "cyrillic_frac", "arabic_frac", "cjk_frac",
        "dominant_script",
    )


# injected multilingual samples, chr()-built so the SAME python string is
# embedded in the Spark literal and the UTF-8 oracle SQL
_CYR_SAMPLE = "".join(chr(c) for c in range(0x0430, 0x0450)) * 8
_ARA_SAMPLE = "".join(chr(c) for c in range(0x0627, 0x063B)) * 8
_CJK_SAMPLE = "".join(chr(c) for c in range(0x4E00, 0x4E20)) * 8


def q_gopher_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher rule-set features over documents with injected spam tails
    (hash runs, bullet lists, ellipsis endings) so each rule sees
    non-trivial values."""
    from ocr_obsidian_spark.operators.textstats import with_gopher_flags

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 5 == 1, F.lit("\n# # # # # # # # # #"))
            .when(F.col("doc_id") % 5 == 2, F.lit("\n- alpha\n* beta\n• gamma"))
            .when(F.col("doc_id") % 5 == 3, F.lit("\nread more...\nclick here…"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return with_gopher_flags(injected).select(
        "doc_id", "symbol_word_ratio", "bullet_line_frac",
        "ellipsis_line_frac", "alpha_word_frac", "stop_distinct",
        "n_words", "mean_word_len", "gopher_pass",
    )


# repetition-injection literals shared by q_gopher_rep and its oracle
_REP_GRAMS = " the quick brown fox jumps over the lazy dog again" * 3
_REP_LINES = "\nSubscribe to our newsletter today!" * 3
_REP_PARAS = "\n\nCopyright footer paragraph rides here." * 2


def q_gopher_rep(spark: SparkSession, sf: str) -> DataFrame:
    """Full Gopher repetition rule set over documents with injected
    repetition tails (inline repeated phrase → dup 5-10-grams; repeated
    lines; repeated paragraphs) so every fraction sees non-trivial
    values. Oracled by explode + group-by SQL replaying the same
    set-union coverage."""
    from ocr_obsidian_spark.operators.repetition import with_gopher_repetition

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 4 == 1, F.lit(_REP_GRAMS))
            .when(F.col("doc_id") % 4 == 2, F.lit(_REP_LINES))
            .when(F.col("doc_id") % 4 == 3, F.lit(_REP_PARAS))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = with_gopher_repetition(injected)
    from ocr_obsidian_spark.operators.repetition import GOPHER_REP_THRESHOLDS

    return out.select(
        "doc_id", *GOPHER_REP_THRESHOLDS.keys(), "gopher_rep_pass"
    )


def q_c4_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line cleaning over documents with injected junk lines
    (short, javascript, curly-brace, lorem-ipsum) plus one clean
    sentence that must survive."""
    from ocr_obsidian_spark.operators.webprep import c4_line_filter

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(
                "\nshort one\nThis line has javascript inside it.\n"
                "A clean closing sentence stays right here.\n"
                "curly { brace } lines go away fast."
            ),
        ).alias("text"),
    )
    return c4_line_filter(injected, out_col="clean_text").select(
        "doc_id", "clean_text", "n_lines_kept", "n_lines_dropped"
    )


def q_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-level boilerplate removal (drop_duplicated_lines with a
    blank-line separator): a shared subscription paragraph is appended to
    every third doc alongside a unique paragraph that must survive."""
    from ocr_obsidian_spark.operators.webprep import drop_duplicated_lines

    d = _t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\n\nSubscribe to our newsletter for updates."),
            ).otherwise(F.lit("")),
            F.lit("\n\nUnique closing paragraph "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return drop_duplicated_lines(
        injected, min_docs=2, out_col="clean_text", sep="\n\n"
    ).select("doc_id", "clean_text", "n_lines_kept", "n_lines_dropped")


def q_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Domain blocklist gate over the synthetic urls (hosts
    srcN-K.test): two exact hosts blocked; subdomain-suffix semantics are
    pinned by the unit test."""
    from ocr_obsidian_spark.operators.webprep import (
        extract_domain,
        filter_blocked_domains,
    )

    d = _docs_with_urls(spark, sf)
    kept = filter_blocked_domains(d, ["src0-0.test", "src1-3.test"])
    return kept.select("doc_id", extract_domain().alias("domain"))


def q_domain_suite(spark: SparkSession, sf: str) -> DataFrame:
    """domain_cap + blocklist folded into one driver row (registry
    round-5: frees a slot for page_rank while both domain gates keep
    driver-verified rows). Each branch is the UNCHANGED original query
    body; bench.py still times q_domain_cap / q_blocklist individually."""
    tag = lambda df, shape: df.select(  # noqa: E731
        F.lit(shape).alias("shape"), "doc_id", "domain"
    )
    return tag(q_domain_cap(spark, sf), "domain_cap").unionByName(
        tag(q_blocklist(spark, sf), "blocklist")
    )


def _host_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synthetic host-link graph over the documents
    hosts (sourceX-K.test, the _docs_with_urls universe): each doc
    emits two md5-derived out-links from its own host, distinct. Both
    dst coordinates are md5 buckets so the in-degree distribution is
    hash-uniform while src hosts follow the corpus host sizes — the
    oracle rebuilds the same expressions (`_PR_EDGES_SQL`)."""
    from ocr_obsidian_spark.operators.xengine import md5_bucket

    d = _t(spark, sf, "documents")
    src = F.concat(
        F.col("source"), F.lit("-"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".test"),
    )

    def dst(salt_a: str, salt_b: str) -> F.Column:
        key = lambda s: F.concat(  # noqa: E731
            F.col("doc_id").cast("string"), F.lit(s)
        )
        return F.concat(
            F.lit("src"), md5_bucket(key(salt_a), 20).cast("string"),
            F.lit("-"), md5_bucket(key(salt_b), 7).cast("string"),
            F.lit(".test"),
        )

    return (
        d.select(src.alias("src"), dst("#a", "#b").alias("dst"))
        .union(d.select(src.alias("src"), dst("#c", "#d").alias("dst")))
        .distinct()
    )


def q_page_rank(spark: SparkSession, sf: str) -> DataFrame:
    """Host-graph PageRank (Common Crawl-style domain ranking): 4
    integer-exact power iterations at scale 10^12 over the synthetic
    host-link graph. Every rank is a 64-bit integer on both sides —
    the oracle replays the identical iteration as unrolled materialized
    CTEs, so the driver hash compares exact integers, never floats."""
    from ocr_obsidian_spark.operators.graphrank import page_rank

    return page_rank(_host_edges(spark, sf), iters=4, node_col="host")


def q_pack_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget shard packing: whitespace token counts → md5-bucket
    groups → streaming-concat packing at 500 tokens/shard (8 groups so
    each holds ~62 test docs and the budget genuinely binds)."""
    from ocr_obsidian_spark.operators.textstats import with_token_counts
    from ocr_obsidian_spark.operators.webprep import pack_shards

    d = _docs_with_urls(spark, sf)
    packed = pack_shards(
        with_token_counts(d), 500, tokens_col="n_ws_tokens", groups=8
    )
    return packed.select(
        "doc_id", "shard_group", "shard_idx",
        F.col("n_ws_tokens").cast("long").alias("n_tokens"),
    )


def q_quality_tiers(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style head/middle/tail tiering: exact ntile(3) by rounded
    quality score within language (desc, doc_id tiebreak — both sides
    order on the ROUNDED score so cross-engine float dust can't flip
    ranks)."""
    from ocr_obsidian_spark.operators.textstats import (
        with_quality_score,
        with_quality_tiers,
    )

    d = _t(spark, sf, "documents", spread=True)
    scored = with_quality_score(d).withColumn(
        "q_score", F.round("quality_score", 6)
    )
    tiered = with_quality_tiers(scored, score_col="q_score", by="lang", tiers=3)
    return tiered.select(
        "doc_id", "lang", "q_score", F.col("tier").cast("long").alias("tier")
    )


def q_relational_suite(spark: SparkSession, sf: str) -> DataFrame:
    """Nine relational shapes (filter_agg, semi_join, anti_join,
    sorted_limit, window_slice, latest_per_key, text_metrics,
    line_concat, context_window — the F/J/W/O/A-family coverage rows,
    stable since round 1) normalized to one (shape, k1, k2, v1..v4)
    schema and unioned, so every shape keeps a driver-verified row now
    that the registry fits the 50-row window (round-4 verdict item #2).
    Each branch is the UNCHANGED original query body; bench.py still
    times the originals individually so floors stay comparable."""

    def norm(df: DataFrame, shape: str, k1: str, k2: str | None, vs: tuple) -> DataFrame:
        cols = [
            F.lit(shape).alias("shape"),
            F.col(k1).cast("string").alias("k1"),
            (F.col(k2).cast("string") if k2 else F.lit("")).alias("k2"),
        ]
        for i in range(4):
            v = F.col(vs[i]) if i < len(vs) else F.lit(None)
            cols.append(v.cast("double").alias(f"v{i + 1}"))
        return df.select(*cols)

    parts = [
        norm(q_filter_agg(spark, sf), "filter_agg", "l_linestatus", None,
             ("sum_qty", "revenue", "n_rows")),
        norm(q_semi_join(spark, sf), "semi_join", "c_mktsegment", None,
             ("n_customers",)),
        norm(q_anti_join(spark, sf), "anti_join", "c_nationkey", None,
             ("n_customers",)),
        norm(q_sorted_limit(spark, sf), "sorted_limit", "o_orderkey", None,
             ("price",)),
        norm(q_window_slice(spark, sf), "window_slice", "source", "doc_id",
             ("n_chars", "rn")),
        norm(q_latest_per_key(spark, sf), "latest_per_key", "user_id", None,
             ("latest_event_id",)),
        norm(q_text_metrics(spark, sf), "text_metrics", "doc_id", None,
             ("char_count", "alpha_ratio", "garbage_ratio", "pipe_ratio")),
        norm(q_line_concat(spark, sf), "line_concat", "user_id", "event_seq",
             ()),
        norm(q_context_window(spark, sf), "context_window", "event_id", None,
             ("ctx_sum", "ctx_n")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_simhash_suite(spark: SparkSession, sf: str) -> DataFrame:
    """simhash + simhash_dups folded into one driver row (registry
    consolidation): 'fp' rows carry the md5-twin fingerprint halves per
    document, 'dup' rows the banding-completeness pair set over the
    known-duplicates population. Both branches unchanged from their
    round-2/round-4 definitions."""
    fp = q_simhash(spark, sf).select(
        F.lit("fp").alias("shape"),
        F.col("doc_id").cast("long").alias("a"),
        F.col("sim_hi").cast("long").alias("b"),
        F.col("sim_lo").cast("long").alias("c"),
    )
    dup = q_simhash_dups(spark, sf).select(
        F.lit("dup").alias("shape"),
        F.col("id_a").cast("long").alias("a"),
        F.col("id_b").cast("long").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    return fp.unionByName(dup)


def q_jaccard_suite(spark: SparkSession, sf: str) -> DataFrame:
    """jaccard_exact + jaccard_pairs folded into one driver row: the
    'exact' path is the unrestricted inverted-index self-join, the 'lsh'
    path the candidate-restricted 100 TB verification — both must equal
    the same exhaustive oracle pair set, values included."""
    exact = q_jaccard_exact(spark, sf).select(
        F.lit("exact").alias("path"), "id_a", "id_b", "jaccard"
    )
    lsh = q_jaccard_pairs(spark, sf).select(
        F.lit("lsh").alias("path"), "id_a", "id_b", "jaccard"
    )
    return exact.unionByName(lsh)


def q_url_canon_suite(spark: SparkSession, sf: str) -> DataFrame:
    """url_canon + url_canon_idn folded into one driver row: 'std' rows
    exercise the RFC 3986 expression chain on dirtied ascii urls, 'idn'
    rows the punycode-UDF composition on rotating unicode hosts."""
    std = q_url_canon(spark, sf).select(
        F.lit("std").alias("variant"), "doc_id", "canon_url"
    )
    idn = q_url_canon_idn(spark, sf).select(
        F.lit("idn").alias("variant"), "doc_id", "canon_url"
    )
    return std.unionByName(idn)


def q_lm_ppl(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/lm.py): per-document
    token count, exact integer micro-nll under the checked-in quantized
    KN-bigram fixture model, and a head/middle/tail perplexity band from
    fixed integer cutoffs (2.37 / 2.40 avg -log10 cost per token —
    chosen to split the sf corpus non-degenerately). Integer-only output:
    the float perplexity never enters the hash."""
    from ocr_obsidian_spark.operators.lm import with_lm_perplexity

    d = _t(spark, sf, "documents", spread=True)
    # plant a literal '<s>' token on every fourth doc: it must score as
    # an ordinary OOV word (<unk>), never as the BOS sentinel — pins the
    # oracle's position-keyed (not string-keyed) BOS handling
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" <s> the")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    scored = with_lm_perplexity(injected)
    n, c = F.col("n_tokens"), F.col("nll_micro")
    band = (
        F.when(n == 0, -1)
        .when(c <= 2_370_000 * n, 0)
        .when(c <= 2_400_000 * n, 1)
        .otherwise(2)
    )
    return scored.select(
        "doc_id", "n_tokens", "nll_micro", band.cast("long").alias("ppl_band")
    )


def q_substr_dedup(
    spark: SparkSession, sf: str, anchor_hash: str = "md5"
) -> DataFrame:
    """ExactSubstr-style repeated-substring removal (Lee et al. 2021,
    shingle-anchored distributed approximation — substrdedup.py) with
    deterministically planted shared passages: passage A on every fifth
    doc, passage B on every seventh, a unique numeric tail everywhere.
    Natural cross-document 8-grams in the corpus text are removed too —
    the oracle replays the full semantics, not just the plants."""
    from ocr_obsidian_spark.operators.substrdedup import drop_duplicated_substrings

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" boilerplate passage alpha beta gamma delta epsilon zeta"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 1,
                F.lit(" repeated footer one two three four five six seven eight"),
            ).otherwise(F.lit("")),
            F.lit(" unique tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    # the driver oracle needs md5 (the DuckDB-shared hash); bench times
    # the xxhash64 production path (narrower keys) — equivalence pinned
    # by tests/test_substrdedup.py
    return drop_duplicated_substrings(
        injected, width=8, min_docs=2, out_col="clean_text",
        anchor_hash=anchor_hash,
    ).select("doc_id", "clean_text", "n_words_kept", "n_words_dropped")


def q_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level boilerplate removal with deterministically injected
    cross-document footers (the raw corpus is single-line): a footer on
    every doc, a newsletter line on every third, a unique tail line that
    must survive."""
    from ocr_obsidian_spark.operators.webprep import drop_duplicated_lines

    d = _t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("\nCopyright Fixture Footer"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\nSubscribe To Our Newsletter"))
            .otherwise(F.lit("")),
            F.lit("\nunique tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return drop_duplicated_lines(injected, min_docs=2, out_col="clean_text").select(
        "doc_id", "clean_text", "n_lines_kept", "n_lines_dropped"
    )


# the synthetic page skeleton, shared verbatim by the Spark build and the
# DuckDB oracle's `||` concatenation (no single quotes — safe SQL literals):
# head with style+script, link-farm nav, short h1 (below CONTENT_MIN_CHARS), the
# document text as the body paragraph, an entity tail, link-farm footer
_HTML_HEAD = (
    "<html><head><title>t</title><style>p{margin:0}</style>"
    "<script>if (1 < 2) track();</script></head><body>"
    "<nav><a href=/>Home</a> <a href=/search>Search</a>"
    " <a href=/login>Login</a></nav><h1>Doc "
)
_HTML_MID1 = "</h1><p>"
_HTML_MID2 = (
    "</p><p>Entities &amp; escapes &lt;ok&gt; plus a tail long"
    " enough to keep for doc "
)
_HTML_TAIL = (
    ".</p><footer><a href=/tos>Terms</a> <a href=/privacy>Privacy</a>"
    " <a href=/cookies>Cookies</a></footer></body></html>"
)


def _synthetic_html(d: DataFrame) -> DataFrame:
    did = F.col("doc_id").cast("string")
    return d.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_HEAD), did, F.lit(_HTML_MID1),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_HTML_MID2), did, F.lit(_HTML_TAIL),
        ).alias("html_str"),
    )


def q_html_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Tag-level HTML block segmentation + link-density boilerplate
    features over deterministically synthesized pages (the documents text
    wrapped in a nav/footer skeleton). All-native regexp expressions; the
    oracle replays the exact Java∩RE2 patterns in DuckDB."""
    from ocr_obsidian_spark.operators.htmltext import html_blocks

    d = _t(spark, sf, "documents", spread=True)
    return html_blocks(_synthetic_html(d)).select(
        "doc_id", "block_idx", "block_text", "n_chars", "link_chars",
        "link_density", "is_content",
    )


def q_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Main-content extraction: content blocks of the synthetic pages
    reassembled in order; nav/footer/script boilerplate must vanish."""
    from ocr_obsidian_spark.operators.htmltext import extract_main_content

    d = _t(spark, sf, "documents", spread=True)
    return extract_main_content(_synthetic_html(d)).select(
        "doc_id", "main_text", "n_blocks_kept", "n_blocks_dropped"
    )


def q_html_suite(spark: SparkSession, sf: str) -> DataFrame:
    """html_blocks + html_extract folded into one driver row (round-5
    registry consolidation, freeing a slot for pack_sequences): 'block'
    rows carry per-block segmentation features, 'doc' rows the
    reassembled main content. Both branches unchanged."""
    blocks = q_html_blocks(spark, sf).select(
        F.lit("block").alias("part"),
        "doc_id",
        F.col("block_idx").cast("long").alias("idx"),
        F.col("block_text").alias("text"),
        F.col("n_chars").cast("long").alias("n1"),
        F.col("link_chars").cast("long").alias("n2"),
        F.col("link_density").cast("double").alias("dens"),
        F.col("is_content").cast("boolean").alias("flag"),
    )
    doc = q_html_extract(spark, sf).select(
        F.lit("doc").alias("part"),
        "doc_id",
        F.lit(0).cast("long").alias("idx"),
        F.col("main_text").alias("text"),
        F.col("n_blocks_kept").cast("long").alias("n1"),
        F.col("n_blocks_dropped").cast("long").alias("n2"),
        # explicit sentinels, not NULLs: cross-engine NULL boolean/double
        # stringification differs in the driver compare
        F.lit(-1.0).alias("dens"),
        F.lit(False).alias("flag"),
    )
    return blocks.unionByName(doc)


def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence packing (webprep.pack_token_sequences): the
    whitespace token streams of each md5-bucket group, EOS-terminated
    per document, chopped into 32-token training examples; documents
    span boundaries, only each group's final sequence may be short. The
    oracle replays offsets, positions and chopping with DuckDB window
    prefix sums."""
    from ocr_obsidian_spark.operators.textstats import _norm
    from ocr_obsidian_spark.operators.webprep import pack_token_sequences

    d = _t(spark, sf, "documents", spread=True)
    norm = _norm("text")
    toks = d.select(
        "doc_id",
        F.when(F.length(norm) == 0, F.array().cast("array<string>"))
        .otherwise(F.split(norm, " "))
        .alias("tokens"),
    )
    out = pack_token_sequences(
        toks, tokens_col="tokens", id_col="doc_id", key_col="doc_id",
        seq_len=32, groups=8,
    )
    return out.select(
        F.col("shard_group").cast("long").alias("shard_group"),
        "seq_idx",
        "n_tokens",
        F.array_join("tokens", "|").alias("tokens_str"),
    )


def q_unicode_nfc(spark: SparkSession, sf: str) -> DataFrame:
    """Unicode NFC canonicalization with deterministically injected
    DECOMPOSED sequences (combining acute, combining ring) — NFC must
    compose them; the oracle replays with DuckDB nfc_normalize."""
    from ocr_obsidian_spark.operators.webprep import normalize_unicode

    d = _t(spark, sf, "documents", spread=True)
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" café suffix Å end")
        ).alias("text"),
    )
    out = normalize_unicode(injected)
    return out.select(
        "doc_id",
        F.col("text").alias("norm_text"),
        F.length("text").cast("long").alias("n_chars"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # EXACTLY 50 entries — the driver records correctness rows for the
    # first 50, so every registered query now gets a driver row every
    # round (round-4 verdict item #2; the invisible tail is gone). The
    # nine TPC-relational shapes ride inside relational_suite;
    # simhash(+dups), jaccard(exact+lsh) and url_canon(std+idn) are
    # folded unions with a tag column. The original per-shape functions
    # still exist and bench.py times them individually, so bench rows
    # keep their round-4 definitions and floors stay comparable.
    return {
        "agg_bounds": q_agg_bounds,
        "topk_rank": q_topk_rank,
        "mode_switch": q_mode_switch,
        "join_agg": q_join_agg,
        "theta_join": q_theta_join,
        "asof_join": q_asof_join,
        "regex_filter": q_regex_filter,
        # round 5: token_counts folded into the subword_tokens row (same
        # doc grain, same injected text) to free the slot for bpe_tokens;
        # q_token_counts / q_subword_tokens keep their bench rows
        "subword_tokens": q_token_suite,
        # round 5 (late): unigram-LM tokenizer folded onto the BPE row —
        # q_bpe_tokens / q_unigram_tokens keep separate bench rows
        "bpe_tokens": q_bpe_suite,
        # round 5 (late): supervised quality classifier folded onto the
        # stats row — q_quality_stats / q_quality_clf keep bench rows
        "quality_suite": q_quality_suite,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        # round 5 (late): incremental snapshot-vs-corpus dedup folded
        # onto the exact-dedup row — q_exact_dedup / q_incremental_dedup
        # keep separate bench rows
        "dedup_suite": q_dedup_suite,
        "dedup_groups": q_dedup_groups,
        "embedding_topk": q_embedding_topk,
        # round 5 (late): SemDeDup labels folded onto the near-dup row —
        # q_embedding_near_dup / q_semantic_dedup keep separate bench rows
        "embedding_dedup": q_embedding_dedup,
        "multimodal_meta": q_multimodal_meta,
        "block_candidates": q_block_candidates,
        "book_export": q_book_export,
        "minhash_pairs": q_minhash_pairs,
        "jaccard_pairs": q_jaccard_suite,
        "ivf_ann": q_ivf_ann,
        "simhash": q_simhash_suite,
        "dedup_components": q_dedup_components,
        "near_dedup_keep": q_near_dedup_keep,
        "lsh_ann": q_lsh_ann,
        # round 5 (late): blocklist folded onto the domain-cap row —
        # q_domain_cap / q_blocklist keep separate bench rows; the freed
        # slot carries page_rank (integer-exact host-graph ranking)
        "domain_suite": q_domain_suite,
        "page_rank": q_page_rank,
        "hash_sample": q_hash_sample,
        # round 5 (late): the driver row runs the Bloom scale path; its
        # exact-SQL oracle pins bloom == exact every round
        "decontaminate": q_decontaminate_bloom,
        "pii_scrub": q_pii_scrub,
        "unicode_nfc": q_unicode_nfc,
        "repetition_stats": q_repetition_stats,
        "quality_tiers": q_quality_tiers,
        "substr_dedup": q_substr_dedup,
        "lm_ppl": q_lm_ppl,
        "line_dedup": q_line_dedup,
        "html_suite": q_html_suite,
        "pack_sequences": q_pack_sequences,
        "url_canon": q_url_canon_suite,
        # round 5 (late): DSIR folded onto the corpus-composition row —
        # q_mix_corpus / q_dsir keep separate bench rows
        "mix_suite": q_mix_suite,
        "pack_shards": q_pack_shards,
        "url_dedup": q_url_dedup,
        "script_mix": q_script_mix,
        "paragraph_dedup": q_paragraph_dedup,
        "gopher_flags": q_gopher_flags,
        "gopher_rep": q_gopher_rep,
        "c4_filter": q_c4_filter,
        "relational_suite": q_relational_suite,
        # rows-only: extract_pipeline is the pandas-UDF extraction spine
        # (pinned byte-identical to the reference by tests/ — the ONE
        # genuinely non-SQL-expressible query left)
        "extract_pipeline": q_extract_pipeline,
    }


# constants the oracle SQL below renders (one definition each)
from ocr_obsidian_spark.operators import blocks as _blocks  # noqa: E402
from ocr_obsidian_spark.operators.webprep import (  # noqa: E402
    C4_MIN_WORDS,
    EOS_TOKEN,
    MIX_BUCKETS,
)

# whitespace via the shared explicit class — Java \s includes \x0B, RE2's
# does not, so a bare \s in a both-engines pattern is a latent divergence
from ocr_obsidian_spark.operators.xengine import WS_RE as _WS_RE  # noqa: E402

_NORM_SQL = (
    f"lower(trim(regexp_replace(coalesce(text, ''), '{_WS_RE}', ' ', 'g')))"
)

# DSIR fixture model as a (bucket, lam_micro) VALUES literal — the fit is
# data-independent (embedded fixture corpora), so this is static SQL
from ocr_obsidian_spark.operators.dsir import (  # noqa: E402
    dsir_sql_lam_table as _dsir_sql_lam_table,
)

_DSIR_LAM = _dsir_sql_lam_table()

# quality classifier fixture model (also data-independent/static): the
# integer micro weight table and bias for the oracle twin
from ocr_obsidian_spark.operators.qualityclf import (  # noqa: E402
    clf_sql_tables as _clf_sql_tables,
)

_CLF = _clf_sql_tables()


def _lang_id_sql() -> str:
    """DuckDB replay of the q_lang_id cascade: the marker heuristic in
    plain SQL, the quantized NB model (operators/langid.py — same
    checked-in tables both engines consume) as VALUES literals, n-grams
    via codepoint substr (verified equivalent to python slicing across
    9 scripts in tests/test_langid.py), all scores 64-bit integers,
    argmin tie-broken on the language code."""
    from ocr_obsidian_spark.operators.langid import model_sql_tables

    t = model_sql_tables()
    return f"""
        WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
        mk AS (
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                        WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                        WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                        ELSE 'es' END AS lang_marker,
                   greatest(s_en, s_de, s_fr, s_es) AS best
            FROM (
                SELECT doc_id,
                    len(list_filter(w, x -> x IN ('the','and','of','to','is','that'))) AS s_en,
                    len(list_filter(w, x -> x IN ('der','die','und','das','nicht','ist'))) AS s_de,
                    len(list_filter(w, x -> x IN ('le','la','les','des','est','une'))) AS s_fr,
                    len(list_filter(w, x -> x IN ('el','los','las','una','por','que'))) AS s_es
                FROM (SELECT doc_id, string_split(norm, ' ') AS w FROM n))),
        pos AS (SELECT doc_id, norm,
                       unnest(generate_series(1, len(norm))) AS i
                FROM n WHERE len(norm) > 0),
        tg AS (SELECT doc_id, substr(norm, i, o.n) AS tg
               FROM pos CROSS JOIN (VALUES (1), (2), (3)) AS o(n)
               WHERE i + o.n - 1 <= len(norm)),
        hits AS (SELECT doc_id, tg.tg
                 FROM tg JOIN {t['feats']} AS f(tg) ON tg.tg = f.tg),
        nm AS (SELECT doc_id, count(*) AS m FROM hits GROUP BY doc_id),
        delta AS (SELECT h.doc_id, s.lang, sum(s.dm) AS dsum
                  FROM hits h
                  JOIN {t['sparse']} AS s(tg, lang, dm) ON h.tg = s.tg
                  GROUP BY h.doc_id, s.lang),
        score AS (SELECT nm.doc_id, l.lang,
                         CAST(nm.m * l.def_lpm + coalesce(d.dsum, 0)
                              AS BIGINT) AS sc
                  FROM nm CROSS JOIN {t['langs']} AS l(lang, def_lpm)
                  LEFT JOIN delta d
                      ON d.doc_id = nm.doc_id AND d.lang = l.lang),
        nb AS (SELECT doc_id, lang FROM (
                   SELECT doc_id, lang,
                          row_number() OVER (PARTITION BY doc_id
                                             ORDER BY sc, lang) AS rn
                   FROM score) WHERE rn = 1)
        SELECT n.doc_id, mk.lang_marker,
               CASE WHEN mk.best >= 3 THEN NULL
                    ELSE coalesce(nb.lang, 'und') END AS lang_nb,
               CASE WHEN mk.best >= 3 THEN NULL
                    ELSE CAST(coalesce(nm.m, 0) AS BIGINT)
                    END AS nb_feature_hits,
               CASE WHEN mk.best >= 3 THEN mk.lang_marker
                    ELSE coalesce(nb.lang, 'und') END AS lang_id
        FROM n
        JOIN mk ON n.doc_id = mk.doc_id
        LEFT JOIN nb ON n.doc_id = nb.doc_id
        LEFT JOIN nm ON n.doc_id = nm.doc_id
    """


def _pr_md5_bucket_sql(salt: str, buckets: int) -> str:
    """DuckDB twin of xengine.md5_bucket over doc_id || salt."""
    return (
        f"('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 8))"
        f"::BIGINT % {buckets}"
    )


def _page_rank_sql() -> str:
    """The page_rank oracle: rebuild _host_edges' synthetic graph with
    the shared md5-bucket twin, then replay the SAME integer power
    iteration via graphrank.page_rank_oracle_sql (unrolled materialized
    CTEs — exact 64-bit arithmetic, no float ever hashed)."""
    from ocr_obsidian_spark.operators.graphrank import page_rank_oracle_sql

    src = "source || '-' || CAST(doc_id % 7 AS VARCHAR) || '.test'"
    dst_ab = (
        f"'src' || CAST({_pr_md5_bucket_sql('#a', 20)} AS VARCHAR)"
        f" || '-' || CAST({_pr_md5_bucket_sql('#b', 7)} AS VARCHAR) || '.test'"
    )
    dst_cd = (
        f"'src' || CAST({_pr_md5_bucket_sql('#c', 20)} AS VARCHAR)"
        f" || '-' || CAST({_pr_md5_bucket_sql('#d', 7)} AS VARCHAR) || '.test'"
    )
    edges_sql = (
        "SELECT DISTINCT src, dst FROM ("
        f"SELECT {src} AS src, {dst_ab} AS dst FROM documents"
        " UNION ALL "
        f"SELECT {src} AS src, {dst_cd} AS dst FROM documents)"
    )
    return page_rank_oracle_sql(edges_sql, iters=4, node_col="host")


def _lm_ppl_sql() -> str:
    """DuckDB replay of q_lm_ppl: the quantized KN-bigram fixture model
    (operators/lm.py — trained at import from the embedded corpus, so
    both engines consume the SAME integer tables) embedded as VALUES
    literals; scoring = seen-bigram lookup else integer backoff+cont
    sum, per-doc totals as exact BIGINT sums, band from the same integer
    cutoffs as the Spark side."""
    from ocr_obsidian_spark.operators.lm import model_sql_tables

    t = model_sql_tables()
    return f"""
        WITH inj AS (SELECT doc_id,
                            coalesce(text, '') ||
                            CASE WHEN doc_id % 4 = 0 THEN ' <s> the'
                                 ELSE '' END AS text
                     FROM documents),
        n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM inj),
        w AS (SELECT doc_id, string_split(norm, ' ') AS ws
              FROM n WHERE norm <> ''),
        tok AS (SELECT doc_id, i, ws[i] AS cur,
                       CASE WHEN i = 1 THEN '<s>' ELSE ws[i-1] END AS prev
                FROM (SELECT doc_id, ws,
                             unnest(generate_series(1, len(ws))) AS i
                      FROM w)),
        m AS (SELECT doc_id,
                     coalesce(vc.tok, '<unk>') AS cur_m,
                     -- BOS keys on the POSITION, not the sentinel string:
                     -- a document containing a literal '<s>' token must
                     -- map it to <unk> like any other OOV word (the
                     -- Spark side never sees the sentinel as text)
                     CASE WHEN tok.i = 1 THEN '<s>'
                          ELSE coalesce(vp.tok, '<unk>') END AS prev_m
              FROM tok
              LEFT JOIN {t['vocab']} AS vc(tok) ON tok.cur = vc.tok
              LEFT JOIN {t['vocab']} AS vp(tok) ON tok.prev = vp.tok),
        sc AS (SELECT doc_id,
                      coalesce(bg.lpm, up.bo_lpm + uc.cont_lpm) AS lpm
               FROM m
               LEFT JOIN {t['bigram']} AS bg(u, w, lpm)
                   ON m.prev_m = bg.u AND m.cur_m = bg.w
               JOIN {t['uni']} AS up(tok, bo_lpm, cont_lpm)
                   ON m.prev_m = up.tok
               JOIN {t['uni']} AS uc(tok, bo_lpm, cont_lpm)
                   ON m.cur_m = uc.tok),
        agg AS (SELECT doc_id, count(*) AS nt,
                       CAST(sum(lpm) AS BIGINT) AS nll
                FROM sc GROUP BY doc_id)
        SELECT n.doc_id,
               CAST(coalesce(a.nt, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(a.nll, 0) AS BIGINT) AS nll_micro,
               CAST(CASE WHEN coalesce(a.nt, 0) = 0 THEN -1
                         WHEN a.nll <= 2370000 * a.nt THEN 0
                         WHEN a.nll <= 2400000 * a.nt THEN 1
                         ELSE 2 END AS BIGINT) AS ppl_band
        FROM n LEFT JOIN agg a ON n.doc_id = a.doc_id
    """


def _lsh_ann_sql(dim: int = 64, n_bits: int = 6, n_tables: int = 8, seed: int = 7) -> str:
    """DuckDB recomputation of q_lsh_ann: the seeded hyperplanes are
    embedded as literals (same np.random.default_rng construction as
    similarity._table_signatures_udf), signatures rebuilt per table via
    list_inner_product sign bits, candidates joined on (table, sig), exact
    cosine re-rank. Safe determinism margin measured on this corpus:
    min |projection| 4.9e-6 vs cross-engine summation skew 2.9e-15, and the
    output is integer-only (ids + rank), so float formatting never enters
    the hash."""
    import numpy as np

    planes = [
        np.random.default_rng(seed + 1000 * t).standard_normal((n_bits, dim))
        for t in range(n_tables)
    ]

    def sig_expr(t: int) -> str:
        bits = []
        for b in range(n_bits):
            lit = "[" + ", ".join(repr(float(x)) for x in planes[t][b]) + "]"
            bits.append(
                f"(CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << b} ELSE 0 END)"
            )
        return " + ".join(bits)

    sig_union = "\n            UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {sig_expr(t)} AS sig FROM e"
        for t in range(n_tables)
    )
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sig AS ({sig_union}),
        pairs AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.sig = c.sig
                AND c.vec_id != q.vec_id
            WHERE q.vec_id < 5
        ),
        ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY list_cosine_similarity(qe.v, ce.v) DESC,
                                neighbor_id) AS rn
            FROM pairs
            JOIN e qe ON qe.vec_id = query_id
            JOIN e ce ON ce.vec_id = neighbor_id
        )
        SELECT query_id, neighbor_id, rn AS rank FROM ranked WHERE rn <= 5
    """


def _html_oracle_sql(extract: bool) -> str:
    """DuckDB recomputation of q_html_blocks / q_html_extract: the page
    skeleton and every regex are imported from the operator module, so the
    oracle provably runs the same Java∩RE2-subset patterns (verified
    bit-identical split/extract semantics incl. trailing empties)."""
    from ocr_obsidian_spark.operators.htmltext import (
        _ANCHOR_RE,
        _ANY_TAG_RE,
        _BLOCK_TAG_RE,
        _COMMENT_RE,
        _SCRIPT_RE,
        _STYLE_RE,
        CONTENT_MAX_LINK_DENSITY,
        CONTENT_MIN_CHARS,
    )

    def decode(expr: str) -> str:
        for ent, ch in (
            ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
            ("&quot;", '"'), ("&#39;", "''"), ("&amp;", "&"),
        ):
            expr = "replace(%s, '%s', '%s')" % (expr, ent, ch)
        return expr

    def blocktext(x: str) -> str:
        inner = "regexp_replace(%s, '%s', ' ', 'g')" % (x, _ANY_TAG_RE)
        return "trim(regexp_replace(%s, '%s', ' ', 'g'))" % (decode(inner), _WS_RE)

    base = """
        WITH h AS (
            SELECT doc_id,
                   '{head}' || CAST(doc_id AS VARCHAR) || '{mid1}'
                   || coalesce(text, '') || '{mid2}'
                   || CAST(doc_id AS VARCHAR) || '{tail}' AS html
            FROM documents),
        s AS (SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(html,
                         '{script}', ' ', 'g'), '{style}', ' ', 'g'),
                         '{comment}', ' ', 'g') AS cleaned
              FROM h),
        c AS (SELECT doc_id, string_split_regex(cleaned, '{blocktag}') AS chunks
              FROM s),
        e AS (SELECT doc_id, i - 1 AS block_idx, chunks[i] AS chunk
              FROM (SELECT doc_id, chunks,
                           unnest(generate_series(1, len(chunks))) AS i
                    FROM c)),
        t AS (SELECT doc_id, block_idx,
                     {btext} AS block_text,
                     coalesce(list_sum(list_transform(
                         regexp_extract_all(chunk, '{anchor}', 1),
                         a -> length({atext}))), 0) AS link_chars
              FROM e),
        f AS (SELECT doc_id, block_idx, block_text,
                     length(block_text) AS n_chars, link_chars,
                     link_chars::DOUBLE / length(block_text) AS ld
              FROM t WHERE length(block_text) > 0)
    """.format(
        head=_HTML_HEAD, mid1=_HTML_MID1, mid2=_HTML_MID2, tail=_HTML_TAIL,
        script=_SCRIPT_RE, style=_STYLE_RE, comment=_COMMENT_RE,
        blocktag=_BLOCK_TAG_RE, anchor=_ANCHOR_RE,
        btext=blocktext("chunk"), atext=blocktext("a"),
    )
    content = f"n_chars >= {CONTENT_MIN_CHARS} AND ld <= {CONTENT_MAX_LINK_DENSITY}"
    if not extract:
        return base + f"""
            SELECT doc_id, CAST(block_idx AS BIGINT) AS block_idx, block_text,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(link_chars AS BIGINT) AS link_chars,
                   round(ld, 6) AS link_density,
                   ({content}) AS is_content
            FROM f
        """
    return base + f"""
        SELECT doc_id,
               coalesce(string_agg(
                   CASE WHEN {content} THEN block_text END,
                   chr(10) || chr(10) ORDER BY block_idx), '') AS main_text,
               CAST(count(*) FILTER (WHERE {content})
                    AS BIGINT) AS n_blocks_kept,
               CAST(count(*) FILTER (WHERE NOT ({content}))
                    AS BIGINT) AS n_blocks_dropped
        FROM f GROUP BY doc_id
    """


def _noisy_url_sql(bid: str) -> str:
    """DuckDB twin of _noisy_url: noise variants keyed on doc_id, base
    url keyed on ``bid`` (an SQL expression)."""
    return f"""'HTTPS://' || upper(source) || '-'
                       || CAST({bid} % 7 AS VARCHAR) || '.Test:443/Doc/'
                       || CAST({bid} AS VARCHAR)
                       || CASE WHEN doc_id % 6 = 0 THEN '?utm_source=x&b=2&a=1#top'
                               WHEN doc_id % 6 = 1 THEN '/'
                               WHEN doc_id % 6 = 2 THEN '?gclid=abc'
                               WHEN doc_id % 6 = 3 THEN ''
                               WHEN doc_id % 6 = 4 THEN '/%7eu%31%2fv'
                               ELSE '/~u1%2Fv' END"""


def _mix_thresholds_sql() -> str:
    """``mix_corpus``'s per-source bucket thresholds for _MIX_WEIGHTS."""
    return " ".join(
        f"WHEN '{src}' THEN {int(round(w * MIX_BUCKETS))}"
        for src, w in sorted(_MIX_WEIGHTS.items())
    )


def _gopher_stopwords_sql() -> str:
    from ocr_obsidian_spark.operators.textstats import GOPHER_STOPWORDS

    return "[" + ",".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"


def _gopher_pass_sql() -> str:
    """``with_gopher_flags``' pass conjunction over the oracle's ``r``
    columns, rendered from ``textstats.GOPHER_THRESHOLDS``."""
    from ocr_obsidian_spark.operators.textstats import GOPHER_THRESHOLDS

    terms = []
    for c, (lo, hi) in GOPHER_THRESHOLDS.items():
        col = "n_words_t" if c == "n_words" else c
        terms += [f"{col} >= {lo}"] * (lo is not None)
        terms += [f"{col} <= {hi}"] * (hi is not None)
    return " AND ".join(terms)


def _gopher_rep_sql() -> str:
    """DuckDB replay of q_gopher_rep: dup line/para chars by group-by
    over exploded units; top-n-gram chars by count×len of the
    (count desc, gram asc) winner; dup-n-gram chars by DISTINCT covered
    word positions (the same set-union coverage the UDF computes)."""
    from ocr_obsidian_spark.operators.repetition import (
        DUP_NS,
        GOPHER_REP_THRESHOLDS,
        TOP_NS,
    )

    def unit_cte(name: str, sep: str) -> str:
        return f"""
            {name}u AS (SELECT doc_id, unnest(string_split(raw, {sep})) AS u
                        FROM b),
            {name}c AS (SELECT doc_id, u, count(*) AS c FROM {name}u
                        GROUP BY doc_id, u),
            {name}f AS (SELECT doc_id,
                   round(coalesce(
                       sum(CASE WHEN c > 1 THEN (c - 1) * length(u) END)::DOUBLE
                       / NULLIF(sum(c * length(u)), 0), 0), 6) AS frac
                 FROM {name}c GROUP BY doc_id)"""

    all_ns = ", ".join(str(n) for n in (*TOP_NS, *DUP_NS))
    top_cols = ",\n               ".join(
        f"max(CASE WHEN tp.nn = {n} THEN tp.numer END) AS top{n}" for n in TOP_NS
    )
    dup_cols = ",\n               ".join(
        f"max(CASE WHEN cv.nn = {n} THEN cv.numer END) AS dup{n}" for n in DUP_NS
    )
    out_fracs = ",\n           ".join(
        [
            f"round(coalesce(top{n} / NULLIF(total, 0), 0), 6)"
            f" AS top_{n}gram_char_frac"
            for n in TOP_NS
        ]
        + [
            f"round(coalesce(dup{n} / NULLIF(total, 0), 0), 6)"
            f" AS dup_{n}gram_char_frac"
            for n in DUP_NS
        ]
    )
    gate = " AND ".join(
        f"{c} <= {thr}" for c, thr in GOPHER_REP_THRESHOLDS.items()
    )
    return f"""
        WITH inj AS (
            SELECT doc_id,
                   coalesce(text, '')
                   || CASE WHEN doc_id % 4 = 1 THEN {_sql_str(_REP_GRAMS)}
                           WHEN doc_id % 4 = 2 THEN {_sql_str(_REP_LINES)}
                           WHEN doc_id % 4 = 3 THEN {_sql_str(_REP_PARAS)}
                           ELSE '' END AS text
            FROM documents),
        b AS (SELECT doc_id, text AS raw, {_NORM_SQL} AS norm FROM inj),
        {unit_cte("l", "chr(10)")},
        {unit_cte("p", "chr(10) || chr(10)")},
        t AS (SELECT doc_id, string_split(norm, ' ') AS toks,
                     length(norm) AS total, len(string_split(norm, ' ')) AS m
              FROM b),
        tn AS (SELECT doc_id, toks, total, m, unnest([{all_ns}]) AS nn FROM t),
        g AS (SELECT doc_id, nn, i,
                     array_to_string(list_slice(toks, i, i + nn - 1), ' ')
                         AS gram
              FROM (SELECT doc_id, toks, nn,
                           unnest(generate_series(1, m - nn + 1)) AS i
                    FROM tn WHERE m >= nn AND total > 0)),
        gc AS (SELECT doc_id, nn, gram, count(*) AS c FROM g
               GROUP BY doc_id, nn, gram),
        topg AS (SELECT doc_id, nn, c * length(gram) AS numer,
                        row_number() OVER (PARTITION BY doc_id, nn
                                           ORDER BY c DESC, gram ASC) AS rn
                 FROM gc WHERE nn <= {max(TOP_NS)}),
        tp AS (SELECT doc_id, nn, numer FROM topg WHERE rn = 1),
        dsrc AS (SELECT g.doc_id, g.nn, g.i
                 FROM g JOIN gc ON g.doc_id = gc.doc_id AND g.nn = gc.nn
                                AND g.gram = gc.gram
                 WHERE gc.c > 1 AND g.nn >= {min(DUP_NS)}),
        covp AS (SELECT DISTINCT doc_id, nn, i + off AS p
                 FROM (SELECT doc_id, nn, i,
                              unnest(generate_series(0, nn - 1)) AS off
                       FROM dsrc)),
        cv AS (SELECT covp.doc_id, covp.nn,
                      sum(length(t.toks[covp.p]))::DOUBLE AS numer
               FROM covp JOIN t ON covp.doc_id = t.doc_id
               GROUP BY covp.doc_id, covp.nn),
        agg AS (SELECT t.doc_id, any_value(t.total) AS total,
               {top_cols},
               {dup_cols}
                FROM t LEFT JOIN tp ON t.doc_id = tp.doc_id
                       LEFT JOIN cv ON t.doc_id = cv.doc_id
                GROUP BY t.doc_id),
        fr AS (SELECT agg.doc_id,
           lf.frac AS dup_line_char_frac,
           pf.frac AS dup_para_char_frac,
           {out_fracs}
        FROM agg JOIN lf ON agg.doc_id = lf.doc_id
                 JOIN pf ON agg.doc_id = pf.doc_id)
        SELECT fr.*, ({gate}) AS gopher_rep_pass FROM fr
    """


def _sql_str(s: str) -> str:
    """Python string → DuckDB string literal (quotes escaped, newlines as
    chr(10) concatenations so the literal stays single-line-safe)."""
    parts = []
    for seg in s.split("\n"):
        parts.append("'" + seg.replace("'", "''") + "'")
    return "(" + " || chr(10) || ".join(parts) + ")"


def _subword_tokens_sql() -> str:
    """DuckDB twin of q_subword_tokens: a recursive CTE replays greedy
    longest-match WordPiece — per (doc, word) the iteration carries a
    cursor, the emitted-piece accumulator and the count; the longest
    matching vocab piece at the cursor is list_max over the lengths whose
    substring is in the (initial or continuation) vocab list, NULL → the
    '[UNK]' single-character fallback. The vocab literals are generated
    from the SAME python tuple the Spark UDF closes over."""
    from ocr_obsidian_spark.operators.tokenize import WORDPIECE_FIXTURE_VOCAB

    init = sorted({p for p in WORDPIECE_FIXTURE_VOCAB if not p.startswith("##")})
    cont = sorted(
        {p[2:] for p in WORDPIECE_FIXTURE_VOCAB if p.startswith("##") and len(p) > 2}
    )

    def lst(xs: list[str]) -> str:
        return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in xs) + "]"

    return f"""
        WITH RECURSIVE
        v AS (SELECT {lst(init)} AS vi, {lst(cont)} AS vc),
        inj AS (SELECT doc_id,
                       coalesce(text, '')
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' résumé café naïveté' ELSE '' END
                           AS text
                FROM documents),
        nrm AS (SELECT doc_id, {_NORM_SQL} AS norm FROM inj),
        words AS MATERIALIZED (SELECT doc_id, i AS wpos, toks[i] AS word
                  FROM (SELECT doc_id, toks,
                               unnest(generate_series(1, len(toks))) AS i
                        FROM (SELECT doc_id, string_split(norm, ' ') AS toks
                              FROM nrm))),
        rec AS (
            SELECT doc_id, wpos, word, 1 AS pos,
                   CAST('' AS VARCHAR) AS acc, 0 AS cnt
            FROM words
          UNION ALL
            SELECT doc_id, wpos, word,
                   pos + coalesce(bl, 1),
                   acc || CASE WHEN acc = '' THEN '' ELSE '|' END ||
                       CASE WHEN bl IS NULL THEN '[UNK]'
                            WHEN pos = 1 THEN substr(word, pos, bl)
                            ELSE '##' || substr(word, pos, bl) END,
                   cnt + 1
            FROM (SELECT doc_id, wpos, word, pos, acc, cnt,
                         list_max(list_filter(
                             generate_series(1, len(word) - pos + 1),
                             L -> CASE WHEN pos = 1
                                  THEN list_contains(vi, substr(word, pos, L))
                                  ELSE list_contains(vc, substr(word, pos, L))
                                  END)) AS bl
                  FROM rec, v
                  WHERE pos <= len(word))
        ),
        fin AS (SELECT doc_id, wpos, word, acc, cnt
                FROM rec WHERE pos > len(word)),
        -- whole-word [UNK] post-fold: greedy matching is identical in
        -- both modes up to the first failure, so a word whose
        -- char-fallback pieces contain [UNK] (or over BERT's 100-char
        -- cap) collapses to one [UNK]; pieces are lowercase so the
        -- uppercase marker cannot occur inside a real piece
        fold AS (SELECT doc_id, wpos, acc, cnt,
                        CASE WHEN len(word) > 100 OR contains(acc, '[UNK]')
                             THEN '[UNK]' ELSE acc END AS acc_ww,
                        CASE WHEN len(word) > 100 OR contains(acc, '[UNK]')
                             THEN 1 ELSE cnt END AS cnt_ww
                 FROM fin),
        agg AS (SELECT doc_id,
                       string_agg(CASE WHEN acc <> '' THEN acc END,
                                  '|' ORDER BY wpos) AS ts,
                       sum(cnt) AS nt,
                       string_agg(CASE WHEN acc_ww <> '' THEN acc_ww END,
                                  '|' ORDER BY wpos) AS ts_ww,
                       sum(cnt_ww) AS nt_ww
                FROM fold GROUP BY doc_id),
        -- the folded-in token_counts columns (round-5 registry fold):
        -- same expressions the standalone entry used through round 4,
        -- now over the SAME injected text as the WordPiece columns
        cnts AS (SELECT doc_id,
                        CASE WHEN length(norm) = 0 THEN 0
                             ELSE len(string_split(norm, ' ')) END
                            AS n_ws_tokens,
                        len(regexp_extract_all(
                            norm, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                            AS n_subword_tokens
                 FROM nrm)
        SELECT agg.doc_id, coalesce(ts, '') AS tokens_str,
               CAST(coalesce(nt, 0) AS BIGINT) AS n_wordpiece_tokens,
               coalesce(ts_ww, '') AS tokens_ww_str,
               CAST(coalesce(nt_ww, 0) AS BIGINT) AS n_ww_tokens,
               CAST(cnts.n_ws_tokens AS BIGINT) AS n_ws_tokens,
               CAST(cnts.n_subword_tokens AS BIGINT) AS n_subword_tokens
        FROM agg JOIN cnts USING (doc_id)
    """


def _unigram_dp_ctes() -> str:
    """Generated DuckDB twin of the unigram Viterbi (tokenize.py
    viterbi_segment): an UNROLLED DP — one CTE per character position
    (duckdb 1.0 recursive CTEs cannot keep a per-(word,pos) argmin, so
    the chain u1..u{N} states the recurrence directly). Step k takes,
    per word, the row minimizing (cost, n, path) over the last
    max_piece_len predecessors: the single-char branch coalesces a
    missing vocab entry to the UNK cost (full coverage), multi-char
    branches inner-join the cost table. The tuple order is prefix-
    monotone (U+001F sorts below every text character — module contract
    in tokenize.py), so per-position argmin IS the global optimum, and
    ORDER BY cost, n, path in the window is exactly python's tuple
    compare (DuckDB binary collation == code-point order == UTF-8 byte
    order). Words longer than the unroll cap take the whole-word
    fallback branch, same as the UDF. Cost literals are generated from
    the SAME dict the Spark UDF closes over; all arithmetic is 64-bit
    integer — no float is ever hashed."""
    from ocr_obsidian_spark.operators.tokenize import (
        UNIGRAM_FIXTURE_COSTS,
        UNIGRAM_MAX_PIECE_LEN,
        UNIGRAM_MAX_WORD_CHARS,
        UNIGRAM_UNK_COST,
    )

    rows = ", ".join(
        "('{}', {})".format(p.replace("'", "''"), c)
        for p, c in sorted(UNIGRAM_FIXTURE_COSTS.items())
    )
    n_max, plen, unk = UNIGRAM_MAX_WORD_CHARS, UNIGRAM_MAX_PIECE_LEN, UNIGRAM_UNK_COST
    ctes = [
        f"voc AS MATERIALIZED"
        f" (SELECT piece, vcost FROM (VALUES {rows}) AS t(piece, vcost))",
        f"u0 AS MATERIALIZED"
        f" (SELECT word, CAST(0 AS BIGINT) AS cost, 0 AS n, '' AS path"
        f" FROM dw WHERE length(word) <= {n_max})",
    ]
    for k in range(1, n_max + 1):
        branches = [
            f"SELECT b.word, b.cost + coalesce(v.vcost, {unk}) AS cost,"
            f" b.n + 1 AS n,"
            f" b.path || chr(31) || substr(b.word, {k}, 1) AS path"
            f" FROM u{k - 1} b LEFT JOIN voc v"
            f" ON v.piece = substr(b.word, {k}, 1)"
            f" WHERE length(b.word) >= {k}"
        ]
        for j in range(max(0, k - plen), k - 1):
            branches.append(
                f"SELECT b.word, b.cost + v.vcost, b.n + 1,"
                f" b.path || chr(31) || substr(b.word, {j + 1}, {k - j})"
                f" FROM u{j} b JOIN voc v"
                f" ON v.piece = substr(b.word, {j + 1}, {k - j})"
                f" WHERE length(b.word) >= {k}"
            )
        union = " UNION ALL ".join(branches)
        ctes.append(
            f"u{k} AS MATERIALIZED (SELECT word, cost, n, path FROM"
            f" (SELECT word, cost, n, path, row_number() OVER"
            f" (PARTITION BY word ORDER BY cost, n, path) AS rn"
            f" FROM ({union})) WHERE rn = 1)"
        )
    fin = " UNION ALL ".join(
        f"SELECT word, cost, n, path FROM u{k} WHERE length(word) = {k}"
        for k in range(1, n_max + 1)
    )
    ctes.append(
        f"ufin AS MATERIALIZED ({fin} UNION ALL"
        f" SELECT word, CAST({unk} AS BIGINT) * length(word), 1,"
        f" chr(31) || word FROM dw WHERE length(word) > {n_max})"
    )
    ctes.append(
        "ut AS (SELECT word,"
        " replace(trim(path, chr(31)), chr(31), '|') AS toks, n, cost"
        " FROM ufin)"
    )
    ctes.append(
        "uagg AS (SELECT w.doc_id,"
        " string_agg(ut.toks, '|' ORDER BY w.wpos) AS uts,"
        " sum(ut.n) AS un, sum(ut.cost) AS uc"
        " FROM words w JOIN ut USING (word) GROUP BY w.doc_id)"
    )
    return ", ".join(ctes)


def _bpe_tokens_sql() -> str:
    """DuckDB twin of q_bpe_tokens: a recursive CTE replays the BPE
    inference loop per DISTINCT word. A word's state is its symbol
    sequence as a string with U+001F separators around every symbol
    (U+001F is stripped from the input on both sides, so a pattern
    ``sep||a||sep||b||sep`` can only ever match at real symbol
    boundaries); each step merges the FIRST occurrence of the
    lowest-rank pair present (equal to the published pass-per-pair loop
    — merging (a,b) can never create a new (a,b) adjacency, so taking
    occurrences one at a time visits them in the same left-to-right
    order; the non-overlapping semantics of "aaaa" → [aa, aa] fall out
    because the first merge consumes both separators around the pair).
    The merge-table literals are generated from the SAME python tuple
    the Spark UDF closes over."""
    from ocr_obsidian_spark.operators.tokenize import BPE_FIXTURE_MERGES

    rows = ", ".join(
        "({}, '{}', '{}')".format(
            i, a.replace("'", "''"), b.replace("'", "''")
        )
        for i, (a, b) in enumerate(BPE_FIXTURE_MERGES)
    )
    return f"""
        WITH RECURSIVE
        m AS (SELECT r, chr(31)||a||chr(31)||b||chr(31) AS pat,
                     chr(31)||a||b||chr(31) AS rep
              FROM (VALUES {rows}) AS t(r, a, b)),
        inj AS (SELECT doc_id,
                       replace(coalesce(text, ''), chr(31), '')
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' aaaa banana bananas abcabcabc'
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' résumé écran {"ab" * 15}'
                               ELSE '' END AS text
                FROM documents),
        nrm AS (SELECT doc_id, {_NORM_SQL} AS norm FROM inj),
        words AS MATERIALIZED (SELECT doc_id, i AS wpos, toks[i] AS word
                  FROM (SELECT doc_id, toks,
                               unnest(generate_series(1, len(toks))) AS i
                        FROM (SELECT doc_id, string_split(norm, ' ') AS toks
                              FROM nrm))
                  WHERE toks[i] <> ''),
        dw AS MATERIALIZED (SELECT DISTINCT word FROM words),
        init AS (SELECT word,
                        chr(31) || array_to_string(
                            regexp_extract_all(word, '.'), chr(31))
                                || chr(31) AS state
                 FROM dw),
        rec AS (
            SELECT word, state FROM init
          UNION ALL
            SELECT word,
                   substr(state, 1, instr(state, bm['pat']) - 1)
                   || bm['rep']
                   || substr(state,
                             instr(state, bm['pat']) + length(bm['pat']))
                       AS state
            FROM (SELECT word, state,
                         (SELECT min_by({{'pat': m.pat, 'rep': m.rep}}, m.r)
                          FROM m WHERE instr(r.state, m.pat) > 0) AS bm
                  FROM rec r)
            WHERE bm['pat'] IS NOT NULL
        ),
        fin AS (SELECT word, state FROM rec r
                WHERE NOT EXISTS (SELECT 1 FROM m
                                  WHERE instr(r.state, m.pat) > 0)),
        wt AS (SELECT word,
                      replace(trim(state, chr(31)), chr(31), '|') AS toks,
                      length(state) - length(replace(state, chr(31), '')) - 1
                          AS cnt
               FROM fin),
        agg AS (SELECT w.doc_id,
                       string_agg(wt.toks, '|' ORDER BY w.wpos) AS ts,
                       sum(wt.cnt) AS nt
                FROM words w JOIN wt USING (word)
                GROUP BY w.doc_id),
        {_unigram_dp_ctes()}
        SELECT d.doc_id, coalesce(a.ts, '') AS bpe_str,
               CAST(coalesce(a.nt, 0) AS BIGINT) AS n_bpe_tokens,
               coalesce(ua.uts, '') AS unigram_str,
               CAST(coalesce(ua.un, 0) AS BIGINT) AS n_unigram_tokens,
               CAST(coalesce(ua.uc, 0) AS BIGINT) AS unigram_cost_micro
        FROM documents d LEFT JOIN agg a USING (doc_id)
                         LEFT JOIN uagg ua USING (doc_id)
    """


def _url_canon_idn_sql() -> str:
    """Oracle for q_url_canon_idn: expected punycode hosts derived from
    the stdlib ``idna`` codec at build time and embedded as literals; the
    rest of the canonicalization (lowercase, :443 strip, %7e → ~) is
    stated directly in the expected strings."""
    whens = []
    for i, h in enumerate(_IDN_FIXTURE_HOSTS):
        low = h.lower()
        try:
            puny = low.encode("idna").decode("ascii")
        except UnicodeError:  # pragma: no cover - fixtures all encode
            puny = low
        whens.append(
            f"WHEN doc_id % 5 = {i} THEN '{puny}'"
            if i < len(_IDN_FIXTURE_HOSTS) - 1
            else f"ELSE '{puny}'"
        )
    case = " ".join(whens)
    return f"""
        SELECT doc_id,
               'https://' || CASE {case} END
                          || '/x~y/' || CAST(doc_id AS VARCHAR) AS canon_url
        FROM documents
    """


def _pct_norm_sql(expr: str) -> str:
    """DuckDB twin of webprep._pct_normalize: the same 12 hex-case regex
    passes (RE2 backref spelled \\1 where Java uses $1 — patterns stay in
    the common subset, only the replacement syntax differs) and the same
    66 unreserved-escape literal replaces, generated from the ONE
    _UNRESERVED_ESCAPES table so the two engines can't drift."""
    from ocr_obsidian_spark.operators.webprep import _UNRESERVED_ESCAPES

    for h in "abcdef":
        expr = f"regexp_replace({expr}, '%{h}([0-9a-fA-F])', '%{h.upper()}\\1', 'g')"
    for h in "abcdef":
        expr = f"regexp_replace({expr}, '%([0-9A-F]){h}', '%\\1{h.upper()}', 'g')"
    for esc, ch in _UNRESERVED_ESCAPES.items():
        expr = f"replace({expr}, '{esc}', '{ch}')"
    return expr


# canonicalization CTE chain (expects a prior CTE u(doc_id, url));
# terminates in canon(doc_id, canon_url). DuckDB twin of
# webprep.canonicalize_url — kept in ONE place for url_canon + url_dedup.
_CANON_STEPS_SQL = f"""
            s0 AS (SELECT doc_id, {_pct_norm_sql('url')} AS url FROM u),
            s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM s0),
            s2 AS (SELECT doc_id,
                          regexp_extract(u, '\\?(.*)$', 1) AS q,
                          regexp_replace(u, '\\?.*$', '') AS base
                   FROM s1),
            s3 AS (SELECT doc_id, q, base,
                          regexp_extract(base,
                              '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) AS shr
                   FROM s2),
            s4 AS (SELECT doc_id, q, shr, lower(shr) AS shl,
                          substr(base, length(shr) + 1, length(base)) AS path
                   FROM s3),
            s5 AS (SELECT doc_id, q,
                          CASE WHEN strpos(shr, '@') > 0 THEN shr
                               WHEN regexp_matches(shl, '^http://.*:80$')
                                   THEN regexp_replace(shl, ':80$', '')
                               WHEN regexp_matches(shl, '^https://.*:443$')
                                   THEN regexp_replace(shl, ':443$', '')
                               ELSE shl END AS sh,
                          regexp_replace(path, '/+$', '') AS path
                   FROM s4),
            s6 AS (SELECT doc_id, sh, path,
                          -- array_to_string of an EMPTY list is NULL in
                          -- DuckDB (Spark array_join gives '') — coalesce
                          coalesce(array_to_string(list_sort(list_filter(
                              string_split(q, '&'),
                              p -> p <> '' AND NOT regexp_matches(p,
                                  '^(?:utm_[^=&]*|gclid|fbclid|msclkid|ref)(?:=.*)?$')
                          )), '&'), '') AS cq
                   FROM s5),
            canon AS (SELECT doc_id,
                             sh || path || CASE WHEN cq = '' THEN ''
                                                ELSE '?' || cq END AS canon_url
                      FROM s6)"""


def _script_mix_sql() -> str:
    """DuckDB recomputation of q_script_mix: the injected samples and the
    literal-character script ranges are the SAME python strings the Spark
    side uses (UTF-8 straight into the SQL text)."""
    from ocr_obsidian_spark.operators.textstats import _SCRIPT_RANGES

    counts = ",\n                   ".join(
        f"length(regexp_replace(raw, '[^{rng}]', '', 'g')) AS c_{name}"
        for name, rng in _SCRIPT_RANGES.items()
    )
    names = list(_SCRIPT_RANGES)
    g = "greatest(" + ", ".join(f"c_{n}" for n in names) + ")"
    pick = " ".join(f"WHEN c_{n} = g THEN '{n}'" for n in names)
    fracs = ",\n               ".join(
        f"round(c_{n}::DOUBLE / n, 6) AS {n}_frac" for n in names
    )
    return f"""
        WITH inj AS (
            SELECT doc_id,
                   coalesce(text, '')
                   || CASE WHEN doc_id % 4 = 1 THEN ' {_CYR_SAMPLE}'
                           WHEN doc_id % 4 = 2 THEN ' {_ARA_SAMPLE}'
                           WHEN doc_id % 4 = 3 THEN ' {_CJK_SAMPLE}'
                           ELSE '' END AS raw
            FROM documents),
        c AS (SELECT doc_id, greatest(length(raw), 1) AS n,
                   {counts}
              FROM inj),
        gg AS (SELECT *, {g} AS g FROM c)
        SELECT doc_id,
               {fracs},
               CASE WHEN g = 0 THEN 'und' {pick} ELSE 'und' END
                   AS dominant_script
        FROM gg
    """


def _simhash_md5_sql() -> str:
    """DuckDB recomputation of q_simhash: per-token md5 → first 64 bits as
    two 32-bit halves → 64 sign-sum votes → fingerprint halves. Generated
    (not hand-written) so the 64 bit positions provably mirror the Spark
    side's loop."""

    def nib(k: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {k}, 1)) - 1)"

    hi = " + ".join(f"{nib(k)} * {16 ** (8 - k)}" for k in range(1, 9))
    lo = " + ".join(f"{nib(k)} * {16 ** (16 - k)}" for k in range(9, 17))
    votes = ", ".join(
        f"sum(CASE WHEN (({'hlo' if i < 32 else 'hhi'} >> {i % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b_{i}"
        for i in range(64)
    )
    sim_hi = " + ".join(
        f"(CASE WHEN b_{i} > 0 THEN {1 << (i - 32)} ELSE 0 END)" for i in range(32, 64)
    )
    sim_lo = " + ".join(
        f"(CASE WHEN b_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
        WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
        t AS (SELECT doc_id, md5(tok) AS h
              FROM n, unnest(string_split(norm, ' ')) AS u(tok)),
        p AS (SELECT doc_id, CAST({hi} AS BIGINT) AS hhi,
                     CAST({lo} AS BIGINT) AS hlo FROM t),
        v AS (SELECT doc_id, {votes} FROM p GROUP BY doc_id)
        SELECT doc_id, CAST({sim_hi} AS BIGINT) AS sim_hi,
               CAST({sim_lo} AS BIGINT) AS sim_lo
        FROM v
    """

_DOCS_WITH_DUPS_SQL = """
    SELECT * FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id < 25
"""

# exhaustive shingle-Jaccard pair CTE (shared by jaccard_exact,
# jaccard_pairs and — as the candidate-completeness oracle — minhash_pairs)
_JACCARD_CTE = f"""
    WITH d AS ({_DOCS_WITH_DUPS_SQL}),
    norm AS (
        SELECT doc_id,
               string_split({{norm_sql}}, ' ') AS w
        FROM d
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(
                        range(0, len(w) - 2),
                        i -> array_to_string(w[i + 1 : i + 3], ' ')))
                    ELSE [array_to_string(w, ' ')] END AS shs
        FROM norm
    ),
    ex AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
    sizes AS (SELECT doc_id, len(shs) AS n FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM ex a JOIN ex b USING (sh)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
"""


def oracle_sql() -> dict[str, str]:
    base = {
        "agg_bounds": """
            SELECT l_orderkey,
                   min(l_quantity) AS q_min,
                   max(l_quantity) AS q_max,
                   min(l_shipdate) AS ship_min,
                   max(l_shipdate) AS ship_max,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """,
        "line_concat": """
            SELECT user_id,
                   string_agg(event_type, ' ' ORDER BY ts, event_id) AS event_seq
            FROM events GROUP BY user_id
        """,
        "topk_rank": """
            SELECT user_id, event_id, round(value, 6) AS best_value
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY value DESC, ts, event_id) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "context_window": """
            SELECT event_id,
                   round(sum(value) OVER w, 4) AS ctx_sum,
                   count(*) OVER w AS ctx_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
        """,
        "mode_switch": """
            SELECT o_orderkey, o_custkey,
                   coalesce(max(CASE WHEN o_totalprice >= 200000.0 THEN 1 ELSE 0 END)
                            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS mode_on
            FROM orders
        """,
        "filter_agg": """
            SELECT l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
              AND l_returnflag = 'R'
            GROUP BY l_linestatus
        """,
        "join_agg": """
            SELECT r_name,
                   round(sum(o_totalprice), 2) AS total_revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "semi_join": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            GROUP BY c_mktsegment
        """,
        "anti_join": """
            SELECT c_nationkey, count(*) AS n_customers
            FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
            GROUP BY c_nationkey
        """,
        "theta_join": """
            SELECT o_orderpriority, count(*) AS n_late
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY o_orderpriority
        """,
        "asof_join": """
            SELECT purchase_id, click_id AS asof_click_id
            FROM (
                SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                       row_number() OVER (PARTITION BY p.event_id
                                          ORDER BY c.ts DESC, c.event_id DESC) AS rn
                FROM events p
                JOIN events c ON c.user_id = p.user_id AND c.ts <= p.ts
                WHERE p.event_type = 'purchase' AND c.event_type = 'click'
            ) WHERE rn = 1
        """,
        "sorted_limit": """
            SELECT o_orderkey, round(o_totalprice, 2) AS price
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
        """,
        "window_slice": """
            SELECT source, doc_id, n_chars, rn
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
                FROM documents
            ) WHERE rn <= 5
        """,
        "latest_per_key": """
            SELECT user_id, event_id AS latest_event_id
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "regex_filter": """
            SELECT source, count(*) AS n_docs
            FROM documents
            WHERE regexp_matches(text, '(table|spark)')
            GROUP BY source
        """,
        "text_metrics": r"""
            SELECT doc_id,
                   length(text) AS char_count,
                   round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                         / nullif(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')), 0),
                         6) AS alpha_ratio,
                   round(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g'))
                         / nullif(length(regexp_replace(text, '\s', '', 'g')), 0),
                         6) AS garbage_ratio,
                   round((length(text) - length(replace(text, '|', '')))
                         / nullif(length(regexp_replace(text, '\s', '', 'g')), 0),
                         6) AS pipe_ratio
            FROM documents
        """,
        "subword_tokens": _subword_tokens_sql(),
        "bpe_tokens": _bpe_tokens_sql(),
        # stats half: the round-3 ratio features, unchanged. clf half:
        # the same gram/bucket replay as mix_suite joined to the fixture
        # classifier's integer micro weight VALUES table + bias — the
        # score is an exact integer sum and the label an integer
        # compare, so no float crosses engines at all.
        "quality_suite": f"""
            WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
            feats AS (
                SELECT doc_id,
                       greatest(length(norm), 1) AS nn,
                       length(regexp_replace(norm, '[^a-z]', '', 'g')) AS n_alpha,
                       length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS n_punct,
                       greatest(len(string_split(norm, ' ')), 1) AS n_words,
                       len(list_filter(string_split(norm, ' '),
                           x -> x IN ('the','and','of','to','is','that','a','in','it','for','on','with')))
                           AS n_stop,
                       length(norm) AS raw_len
                FROM n
            ),
            w AS MATERIALIZED (SELECT doc_id, string_split(norm, ' ') AS ws
                  FROM n WHERE norm <> ''),
            uni AS (SELECT doc_id, ws[i] AS g
                    FROM (SELECT doc_id, ws,
                                 unnest(generate_series(1, len(ws))) AS i
                          FROM w)),
            bi AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
                   FROM (SELECT doc_id, ws,
                                unnest(generate_series(1, len(ws) - 1)) AS i
                         FROM w)),
            gr AS (SELECT doc_id,
                          ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS b
                   FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
            sc AS (SELECT gr.doc_id, CAST(sum(wt.w) AS BIGINT) AS s
                   FROM gr JOIN {_CLF['weights']} AS wt(b, w) USING (b)
                   GROUP BY gr.doc_id),
            clf AS (SELECT d.doc_id,
                           {_CLF['bias']} + coalesce(sc.s, 0) AS score
                    FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
            SELECT 'stats' AS variant, doc_id,
                   round(n_alpha / nn, 6) AS d1,
                   round(n_punct / nn, 6) AS d2,
                   round(n_stop / n_words, 6) AS d3,
                   round(greatest(
                       CASE WHEN NOT (raw_len >= 20 AND raw_len <= 100000) THEN 0.0
                            ELSE least(1.0,
                                (n_alpha / nn) * 0.5
                                + least((n_stop / n_words) * 4, 1.0) * 0.3
                                + CASE WHEN (nn / n_words) >= 2.0 AND (nn / n_words) <= 12.0
                                       THEN 0.2 ELSE 0.0 END
                                - CASE WHEN (n_punct / nn) > 0.2 THEN 0.3 ELSE 0.0 END)
                       END, 0.0), 6) AS d4,
                   CAST(-1 AS BIGINT) AS v1, CAST(-1 AS BIGINT) AS v2
            FROM feats
            UNION ALL
            SELECT 'clf', doc_id, -1.0, -1.0, -1.0, -1.0,
                   score,
                   CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT)
            FROM clf
        """,
        "lang_id": _lang_id_sql(),
        "fingerprint": f"""
            SELECT doc_id, md5({_NORM_SQL}) AS fingerprint_md5 FROM documents
        """,
        # exact half: the in-corpus min-id survivors, unchanged.
        # incremental halves: the synthetic next-snapshot population
        # (exact copies + one-token-appended near-dups + fresh rows);
        # exact_kept = norm-key anti-join, near_match = EXHAUSTIVE
        # cross-corpus 3-shingle Jaccard >= 0.95 (the Spark side is
        # LSH-restricted; at J >= 0.95 banding misses with p <= 6.4e-12,
        # so the sets are equal — also pinned by a pytest).
        "dedup_suite": f"""
            WITH d AS ({_DOCS_WITH_DUPS_SQL}),
            k AS (
                SELECT min(doc_id) AS doc_id
                FROM d
                GROUP BY {_NORM_SQL}
            ),
            np AS MATERIALIZED (
                SELECT doc_id + 100000 AS doc_id, text
                FROM documents WHERE doc_id < 25
                UNION ALL
                SELECT doc_id + 200000, text || ' zyxtoken'
                FROM documents WHERE doc_id >= 25 AND doc_id < 50
                UNION ALL
                SELECT doc_id + 300000,
                       'entirely new snapshot document ' || doc_id::VARCHAR
                           || ' qqfresh'
                FROM documents WHERE doc_id < 10
            ),
            exn AS (SELECT DISTINCT {_NORM_SQL} AS nrm FROM documents),
            kept AS (
                SELECT np.doc_id FROM np
                WHERE {_NORM_SQL} NOT IN (SELECT nrm FROM exn)
            ),
            nw AS MATERIALIZED (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM np
            ),
            ew AS MATERIALIZED (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
                FROM documents
            ),
            nsh AS MATERIALIZED (
                SELECT doc_id,
                       CASE WHEN len(w) >= 3
                            THEN list_distinct(list_transform(
                                range(0, len(w) - 2),
                                i -> array_to_string(w[i + 1 : i + 3], ' ')))
                            ELSE [array_to_string(w, ' ')] END AS shs
                FROM nw
            ),
            esh AS MATERIALIZED (
                SELECT doc_id,
                       CASE WHEN len(w) >= 3
                            THEN list_distinct(list_transform(
                                range(0, len(w) - 2),
                                i -> array_to_string(w[i + 1 : i + 3], ' ')))
                            ELSE [array_to_string(w, ' ')] END AS shs
                FROM ew
            ),
            nex AS (SELECT doc_id, unnest(shs) AS sh FROM nsh),
            eex AS (SELECT doc_id, unnest(shs) AS sh FROM esh),
            inter AS (
                SELECT n.doc_id AS new_id, e.doc_id AS existing_id,
                       count(*) AS n_inter
                FROM nex n JOIN eex e USING (sh)
                GROUP BY 1, 2
            ),
            nm AS (
                SELECT i.new_id, i.existing_id
                FROM inter i
                JOIN (SELECT doc_id, len(shs) AS n FROM nsh) a
                  ON a.doc_id = i.new_id
                JOIN (SELECT doc_id, len(shs) AS n FROM esh) b
                  ON b.doc_id = i.existing_id
                WHERE i.n_inter / (a.n + b.n - i.n_inter) >= 0.95
            )
            SELECT 'exact' AS variant, doc_id AS a, CAST(-1 AS BIGINT) AS b
            FROM k
            UNION ALL
            SELECT 'exact_kept', doc_id, CAST(-1 AS BIGINT) FROM kept
            UNION ALL
            SELECT 'near_match', new_id, existing_id FROM nm
        """,
        "dedup_groups": f"""
            WITH d AS ({_DOCS_WITH_DUPS_SQL})
            SELECT count(*) AS n_docs, min(doc_id) AS keep_id
            FROM d
            GROUP BY {_NORM_SQL}
            HAVING count(*) > 1
        """,
        "jaccard_exact": _JACCARD_CTE.format(norm_sql=_NORM_SQL) + """
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
        """,
        # jaccard_pairs (LSH-candidate-restricted) must equal the exhaustive
        # pair set — candidates are complete on this corpus (q_jaccard_pairs
        # docstring)
        "jaccard_pairs": _JACCARD_CTE.format(norm_sql=_NORM_SQL) + """
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
        """,
        # minhash band-bucket candidates coincide exactly with the >=0.8
        # Jaccard pairs on this corpus (q_minhash_pairs docstring)
        "minhash_pairs": _JACCARD_CTE.format(norm_sql=_NORM_SQL) + """
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
        """,
        # connected components of the >=0.8-Jaccard pair graph via
        # recursive transitive closure (component = min reachable id)
        "dedup_components": _JACCARD_CTE.format(norm_sql=_NORM_SQL).replace(
            "WITH d AS", "WITH RECURSIVE d AS", 1
        ) + """
            , p AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
            ),
            e AS (
                SELECT id_a AS src, id_b AS dst FROM p
                UNION
                SELECT id_b AS src, id_a AS dst FROM p
            ),
            reach(node, lab) AS (
                SELECT src, src FROM e
                UNION
                SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.node
            )
            SELECT node AS doc_id, min(lab) AS component
            FROM reach GROUP BY node
        """,
        # survivors: every doc except non-representative component members
        "near_dedup_keep": _JACCARD_CTE.format(norm_sql=_NORM_SQL).replace(
            "WITH d AS", "WITH RECURSIVE d AS", 1
        ) + """
            , p AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.8
            ),
            e AS (
                SELECT id_a AS src, id_b AS dst FROM p
                UNION
                SELECT id_b AS src, id_a AS dst FROM p
            ),
            reach(node, lab) AS (
                SELECT src, src FROM e
                UNION
                SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.node
            ),
            comp AS (SELECT node, min(lab) AS c FROM reach GROUP BY node)
            SELECT doc_id FROM d
            WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != c)
        """,
        # equal-content pairs restricted from the simhash candidates must
        # equal the exhaustive identical-normalized-text pair set
        "simhash_dups": f"""
            WITH d AS ({_DOCS_WITH_DUPS_SQL}),
            n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM d)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM n a JOIN n b ON a.norm = b.norm AND a.doc_id < b.doc_id
        """,
        "simhash": _simhash_md5_sql(),
        "lsh_ann": _lsh_ann_sql(),
        "lm_ppl": _lm_ppl_sql(),
        "domain_suite": f"""
            WITH u AS MATERIALIZED (
                SELECT doc_id, {_URL_SQL} AS url FROM documents),
            d AS MATERIALIZED (
                SELECT doc_id, url,
                       lower(regexp_extract(url,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS domain
                FROM u),
            r AS (SELECT doc_id, domain,
                         row_number() OVER (PARTITION BY domain ORDER BY url) AS rn
                  FROM d)
            SELECT 'domain_cap' AS shape, doc_id, domain FROM r WHERE rn <= 2
            UNION ALL
            SELECT 'blocklist' AS shape, doc_id, domain FROM d
            WHERE NOT (domain = 'src0-0.test' OR domain LIKE '%.src0-0.test'
                    OR domain = 'src1-3.test' OR domain LIKE '%.src1-3.test')
        """,
        "page_rank": _page_rank_sql(),
        "hash_sample": f"""
            WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents)
            SELECT doc_id FROM u
            WHERE ('0x' || substr(md5(coalesce(url, '')), 1, 8))::BIGINT % 100 < 37
        """,
        # sh is DISTINCT (doc_id, shingle) — word_shingles dedups within
        # a doc, so the report counts distinct shingles on both sides;
        # sh is referenced three times -> AS MATERIALIZED (DuckDB CTE rule)
        "decontaminate": f"""
            WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
            tk AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM n),
            sh AS MATERIALIZED (
                SELECT DISTINCT doc_id,
                       array_to_string(list_slice(toks, i, i + 7), ' ') AS shingle
                FROM (SELECT doc_id, toks,
                             unnest(generate_series(1, greatest(len(toks) - 7, 1))) AS i
                      FROM tk)),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10),
            tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
            hit AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM sh
                    WHERE shingle IN (SELECT shingle FROM bench)
                    GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(t.n_shingles AS BIGINT) AS n_shingles,
                   CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
                   CAST(CASE WHEN COALESCE(h.n_contaminated, 0) = 0
                        THEN 1 ELSE 0 END AS BIGINT) AS kept
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
        """,
        "repetition_stats": f"""
            WITH n AS (SELECT doc_id, coalesce(text, '') AS raw,
                              {_NORM_SQL} AS norm FROM documents),
            l AS (SELECT doc_id,
                         string_split(raw, chr(10)) AS lines,
                         string_split(norm, ' ') AS toks
                  FROM n),
            g AS (SELECT doc_id,
                         array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
                  FROM (SELECT doc_id, toks,
                               unnest(generate_series(1, len(toks) - 1)) AS i
                        FROM l WHERE len(toks) >= 2)),
            t AS (SELECT doc_id, max(cnt) AS top
                  FROM (SELECT doc_id, gram, count(*) AS cnt
                        FROM g GROUP BY doc_id, gram)
                  GROUP BY doc_id)
            SELECT l.doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   round(CASE WHEN len(lines) <= 0 THEN 0.0
                         ELSE 1.0 - len(list_distinct(lines))::DOUBLE
                              / len(lines) END, 6) AS dup_line_frac,
                   CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_bigrams,
                   round(CASE WHEN len(toks) - 1 <= 0 THEN 0.0
                         ELSE coalesce(top, 0)::DOUBLE / (len(toks) - 1)
                         END, 6) AS top_bigram_frac
            FROM l LEFT JOIN t ON l.doc_id = t.doc_id
        """,
        "html_blocks": _html_oracle_sql(extract=False),
        "html_extract": _html_oracle_sql(extract=True),
        "url_canon_idn": _url_canon_idn_sql(),
        "url_canon": "WITH u AS (SELECT doc_id, "
        + _noisy_url_sql("doc_id")
        + " AS url FROM documents), "
        + _CANON_STEPS_SQL
        + " SELECT doc_id, canon_url FROM canon",
        "url_dedup": "WITH u AS (SELECT doc_id, "
        + _noisy_url_sql("(doc_id - doc_id % 2)")
        + """ AS url
              FROM (SELECT doc_id, 'site' AS source FROM documents)), """
        + _CANON_STEPS_SQL
        + """,
            r AS (SELECT doc_id,
                         row_number() OVER (PARTITION BY canon_url
                                            ORDER BY doc_id) AS rn
                  FROM canon)
            SELECT u.doc_id, u.url FROM u JOIN r ON u.doc_id = r.doc_id
            WHERE r.rn = 1
        """,
        "script_mix": _script_mix_sql(),
        "gopher_rep": _gopher_rep_sql(),
        "gopher_flags": f"""
            WITH inj AS (
                SELECT doc_id,
                       coalesce(text, '')
                       || CASE WHEN doc_id % 5 = 1 THEN chr(10) || '# # # # # # # # # #'
                               WHEN doc_id % 5 = 2 THEN chr(10) || '- alpha' || chr(10) || '* beta' || chr(10) || '• gamma'
                               WHEN doc_id % 5 = 3 THEN chr(10) || 'read more...' || chr(10) || 'click here…'
                               ELSE '' END AS text
                FROM documents),
            b AS (SELECT doc_id, text AS raw, {_NORM_SQL} AS norm FROM inj),
            f AS (SELECT doc_id,
                         string_split(raw, chr(10)) AS lines,
                         string_split(norm, ' ') AS toks,
                         length(norm) AS norm_len,
                         length(regexp_replace(raw, '[^#]', '', 'g')) AS n_hash,
                         (length(raw) - length(replace(raw, '...', ''))) / 3
                             AS n_dots,
                         length(raw) - length(replace(raw, '…', '')) AS n_uni
                  FROM b),
            g AS (SELECT doc_id, n_hash, n_dots, n_uni,
                         greatest(len(lines), 1) AS n_lines,
                         greatest(len(toks), 1) AS n_words,
                         CASE WHEN norm_len = 0 THEN 0
                              ELSE len(toks) END AS true_words,
                         norm_len,
                         len(list_filter(lines,
                             l -> regexp_matches(trim(l), '^[-*•]'))) AS n_bul,
                         len(list_filter(lines,
                             l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))
                             AS n_ell,
                         len(list_filter(toks,
                             t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
                         len(list_intersect(list_distinct(toks),
                             {_gopher_stopwords_sql()})) AS sd
                  FROM f),
            r AS (SELECT doc_id,
                         round((n_hash + n_dots + n_uni) / n_words, 6)
                             AS symbol_word_ratio,
                         round(n_bul::DOUBLE / n_lines, 6) AS bullet_line_frac,
                         round(n_ell::DOUBLE / n_lines, 6)
                             AS ellipsis_line_frac,
                         round(n_alpha::DOUBLE / n_words, 6) AS alpha_word_frac,
                         CAST(sd AS BIGINT) AS stop_distinct,
                         CAST(true_words AS BIGINT) AS n_words_t,
                         round(CASE WHEN true_words = 0 THEN 0.0
                                    ELSE (norm_len - true_words + 1)::DOUBLE
                                         / true_words END, 6) AS mean_word_len
                  FROM g)
            SELECT doc_id, symbol_word_ratio, bullet_line_frac,
                   ellipsis_line_frac, alpha_word_frac, stop_distinct,
                   n_words_t AS n_words, mean_word_len,
                   ({_gopher_pass_sql()}) AS gopher_pass
            FROM r
        """,
        "c4_filter": ("""
            WITH inj AS (
                SELECT doc_id,
                       coalesce(text, '') || chr(10) || 'short one'
                       || chr(10) || 'This line has javascript inside it.'
                       || chr(10) || 'A clean closing sentence stays right here.'
                       || chr(10) || 'curly { brace } lines go away fast.'
                           AS text
                FROM documents),
            l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM inj),
            k AS (SELECT doc_id, lines,
                         list_filter(lines, x ->
                             regexp_matches(lower(trim(x)), '[.!?]["'')\\]]*$')
                             AND len(string_split_regex(lower(trim(x)),
                                 '""" + _WS_RE + """')) >= """ + str(C4_MIN_WORDS) + """
                             AND NOT contains(lower(trim(x)), 'javascript')
                             AND NOT contains(lower(trim(x)), 'lorem ipsum')
                             AND NOT contains(lower(trim(x)), '{')) AS kept
                  FROM l)
            SELECT doc_id,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept,
                   CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_dropped
            FROM k
        """),
        "paragraph_dedup": """
            WITH inj AS (
                SELECT doc_id,
                       coalesce(text, '')
                       || CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || chr(10)
                                    || 'Subscribe to our newsletter for updates.'
                               ELSE '' END
                       || chr(10) || chr(10) || 'Unique closing paragraph '
                       || CAST(doc_id AS VARCHAR) AS text
                FROM documents),
            l AS (
                SELECT doc_id, i AS pos, paras[i] AS para,
                       lower(trim(paras[i])) AS norm
                FROM (SELECT doc_id, paras,
                             unnest(generate_series(1, len(paras))) AS i
                      FROM (SELECT doc_id,
                                   string_split(text, chr(10) || chr(10)) AS paras
                            FROM inj))),
            d AS (SELECT norm FROM l WHERE norm <> ''
                  GROUP BY norm HAVING count(DISTINCT doc_id) >= 2),
            m AS (SELECT l.doc_id, l.pos, l.para, (d.norm IS NOT NULL) AS dup
                  FROM l LEFT JOIN d ON l.norm = d.norm)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN NOT dup THEN para END,
                                       chr(10) || chr(10) ORDER BY pos), '')
                       AS clean_text,
                   CAST(count(*) FILTER (WHERE NOT dup) AS BIGINT)
                       AS n_lines_kept,
                   CAST(count(*) FILTER (WHERE dup) AS BIGINT)
                       AS n_lines_dropped
            FROM m GROUP BY doc_id
        """,
        # mix half: the round-3 md5-bucket keep set, unchanged. dsir
        # half: grams (unigrams + space-joined bigrams) via the
        # unnest(generate_series) subquery pattern, md5-first-8-hex
        # buckets joined to the fixture lam VALUES table (integer
        # micro-log10 ratios — fit is data-independent so the SQL is
        # static), exact integer weight sums, deterministic md5-Gumbel
        # keys rounded to 6 dp (cross-engine rule) with doc_id ties.
        # Margins measured in tests/test_dsir.py::test_driver_oracle_margins.
        "mix_suite": f"""
            WITH u AS (SELECT doc_id, source, {_URL_SQL} AS url FROM documents),
            mixk AS (
                SELECT doc_id, source FROM u
                WHERE ('0x' || substr(md5(coalesce(url, '')), 1, 8))::BIGINT % {MIX_BUCKETS} <
                      CASE source {_mix_thresholds_sql()} ELSE 0 END
            ),
            n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
            w AS MATERIALIZED (SELECT doc_id, string_split(norm, ' ') AS ws
                  FROM n WHERE norm <> ''),
            uni AS (SELECT doc_id, ws[i] AS g
                    FROM (SELECT doc_id, ws,
                                 unnest(generate_series(1, len(ws))) AS i
                          FROM w)),
            bi AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
                   FROM (SELECT doc_id, ws,
                                unnest(generate_series(1, len(ws) - 1)) AS i
                         FROM w)),
            gr AS (SELECT doc_id,
                          ('0x' || substr(md5(g), 1, 8))::BIGINT % 256 AS b
                   FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
            sc AS (SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS ng,
                          CAST(sum(l.lam) AS BIGINT) AS lw
                   FROM gr JOIN {_DSIR_LAM} AS l(b, lam) USING (b)
                   GROUP BY gr.doc_id),
            j AS (SELECT d.doc_id,
                         coalesce(sc.ng, 0) AS n_grams,
                         coalesce(sc.lw, 0) AS logw_micro
                  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
            keyed AS (SELECT doc_id, n_grams, logw_micro,
                             round(logw_micro / 1e6 + -ln(-ln(
                                 (('0x' || substr(md5('gumbel:7:' ||
                                       doc_id::VARCHAR), 1, 8))::BIGINT
                                  + 0.5) / 4294967296.0)), 6) AS k
                      FROM j),
            ranked AS (SELECT doc_id, n_grams, logw_micro,
                              row_number() OVER (ORDER BY k DESC, doc_id) AS rn
                       FROM keyed),
            -- alpha-sampling replay (alpha = 0, keep_frac = 0.5): the
            -- waterfilling loop of alpha_sampling_weights unrolled for 3
            -- groups. p_g = c^0 = 1.0 exactly, so every round is
            -- (target - sum of capped counts) / count(uncapped) — pure
            -- BIGINT sums + one IEEE division, identical both engines.
            -- The unroll is idempotent past the fixed point (an extra
            -- round with no new cap recomputes the same scale), so three
            -- cap rounds + a final scale cover every G=3 trajectory.
            ag AS MATERIALIZED (
                SELECT doc_id,
                       'g' || CASE WHEN doc_id % 20 < 16 THEN 0
                                   WHEN doc_id % 20 < 19 THEN 1
                                   ELSE 2 END AS grp
                FROM documents),
            acnt AS MATERIALIZED (
                SELECT grp, CAST(count(*) AS BIGINT) AS c
                FROM ag GROUP BY grp),
            atgt AS MATERIALIZED (SELECT 0.5 * sum(c) AS target FROM acnt),
            as1 AS (SELECT (SELECT target FROM atgt)
                           / (SELECT CAST(count(*) AS DOUBLE) FROM acnt) AS s),
            ac1 AS MATERIALIZED (
                SELECT grp, c, (SELECT s FROM as1) >= c AS cap FROM acnt),
            as2 AS (SELECT ((SELECT target FROM atgt)
                            - (SELECT coalesce(sum(c), 0) FROM ac1 WHERE cap))
                           / (SELECT nullif(CAST(count(*) AS DOUBLE), 0.0)
                              FROM ac1 WHERE NOT cap) AS s),
            ac2 AS MATERIALIZED (
                SELECT grp, c, cap OR ((SELECT s FROM as2) >= c) AS cap
                FROM ac1),
            as3 AS (SELECT ((SELECT target FROM atgt)
                            - (SELECT coalesce(sum(c), 0) FROM ac2 WHERE cap))
                           / (SELECT nullif(CAST(count(*) AS DOUBLE), 0.0)
                              FROM ac2 WHERE NOT cap) AS s),
            ac3 AS MATERIALIZED (
                SELECT grp, c, cap OR ((SELECT s FROM as3) >= c) AS cap
                FROM ac2),
            as4 AS (SELECT ((SELECT target FROM atgt)
                            - (SELECT coalesce(sum(c), 0) FROM ac3 WHERE cap))
                           / (SELECT nullif(CAST(count(*) AS DOUBLE), 0.0)
                              FROM ac3 WHERE NOT cap) AS s),
            -- weight -> bucket threshold: floor(w*MIX_BUCKETS + 0.5), the
            -- alpha_sample quantization (half-up on both engines)
            awt AS (SELECT grp,
                           CASE WHEN cap THEN CAST({MIX_BUCKETS} AS BIGINT)
                                ELSE CAST(floor(((SELECT s FROM as4) * 1.0 / c)
                                                * {MIX_BUCKETS} + 0.5) AS BIGINT)
                           END AS thr
                    FROM ac3)
            SELECT 'mix' AS variant, doc_id, source AS s,
                   CAST(-1 AS BIGINT) AS v1, CAST(-1 AS BIGINT) AS v2,
                   CAST(-1 AS BIGINT) AS v3
            FROM mixk
            UNION ALL
            SELECT 'dsir', doc_id, '', n_grams, logw_micro,
                   CAST(CASE WHEN rn <= 100 THEN 1 ELSE 0 END AS BIGINT)
            FROM ranked
            UNION ALL
            SELECT 'alpha', ag.doc_id, ag.grp,
                   CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
            FROM ag JOIN awt USING (grp)
            WHERE ('0x' || substr(md5(CAST(ag.doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % {MIX_BUCKETS} < awt.thr
        """,
        # sequence packing: same md5-bucket expression as hash_sample /
        # pack_shards; stream offsets via a window prefix sum, token
        # positions via the unnest(generate_series) pattern, chopping by
        # integer division — all exact integer arithmetic
        "pack_sequences": f"""
            WITH nrm AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
            t AS (SELECT doc_id,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 8 AS grp,
                         CASE WHEN norm = '' THEN ['{EOS_TOKEN}']
                              ELSE string_split(norm, ' ') || ['{EOS_TOKEN}'] END AS toks
                  FROM nrm),
            c AS (SELECT doc_id, grp, toks,
                         coalesce(sum(len(toks)) OVER (
                             PARTITION BY grp ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS off
                  FROM t),
            e AS (SELECT grp, off + i - 1 AS gpos, toks[i] AS tok
                  FROM (SELECT grp, off, toks,
                               unnest(generate_series(1, len(toks))) AS i
                        FROM c)),
            agg AS (SELECT grp, gpos // 32 AS seq_idx,
                           string_agg(tok, '|' ORDER BY gpos) AS tokens_str,
                           count(*) AS n
                    FROM e GROUP BY grp, (gpos // 32))
            SELECT CAST(grp AS BIGINT) AS shard_group,
                   CAST(seq_idx AS BIGINT) AS seq_idx,
                   CAST(n AS BIGINT) AS n_tokens, tokens_str
            FROM agg
        """,
        "pack_shards": f"""
            WITH u AS (SELECT doc_id, {_URL_SQL} AS url,
                              {_NORM_SQL} AS norm
                       FROM documents),
            t AS (SELECT doc_id,
                         CASE WHEN length(norm) = 0 THEN 0
                              ELSE len(string_split(norm, ' ')) END AS n_tok,
                         ('0x' || substr(md5(coalesce(url, '')), 1, 8))::BIGINT % 8
                             AS shard_group
                  FROM u),
            w AS (SELECT doc_id, shard_group, n_tok,
                         sum(n_tok) OVER (PARTITION BY shard_group
                                          ORDER BY doc_id) - n_tok AS cb
                  FROM t)
            SELECT doc_id, shard_group,
                   CAST(floor(cb / 500) AS BIGINT) AS shard_idx,
                   CAST(n_tok AS BIGINT) AS n_tokens
            FROM w
        """,
        "quality_tiers": f"""
            WITH n AS (SELECT doc_id, lang, {_NORM_SQL} AS norm FROM documents),
            feats AS (
                SELECT doc_id, lang,
                       greatest(length(norm), 1) AS nn,
                       length(regexp_replace(norm, '[^a-z]', '', 'g')) AS n_alpha,
                       length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS n_punct,
                       greatest(len(string_split(norm, ' ')), 1) AS n_words,
                       len(list_filter(string_split(norm, ' '),
                           x -> x IN ('the','and','of','to','is','that','a','in','it','for','on','with')))
                           AS n_stop,
                       length(norm) AS raw_len
                FROM n
            ),
            s AS (
                SELECT doc_id, lang,
                       round(greatest(
                           CASE WHEN NOT (raw_len >= 20 AND raw_len <= 100000) THEN 0.0
                                ELSE least(1.0,
                                    (n_alpha / nn) * 0.5
                                    + least((n_stop / n_words) * 4, 1.0) * 0.3
                                    + CASE WHEN (nn / n_words) >= 2.0 AND (nn / n_words) <= 12.0
                                           THEN 0.2 ELSE 0.0 END
                                    - CASE WHEN (n_punct / nn) > 0.2 THEN 0.3 ELSE 0.0 END)
                           END, 0.0), 6) AS q_score
                FROM feats
            )
            SELECT doc_id, lang, q_score,
                   CAST(ntile(3) OVER (
                       PARTITION BY lang ORDER BY q_score DESC, doc_id
                   ) AS BIGINT) AS tier
            FROM s
        """,
        # replay of substrdedup.drop_duplicated_substrings: 8-word
        # shingles (list_slice is 1-based inclusive), md5 anchors (the
        # one hash both engines share bit-for-bit), covered positions via
        # a constant generate_series cross join (lateral over a column
        # errors — round-3 trickbox), rebuild with NULL-skipping
        # string_agg ordered by position
        "substr_dedup": f"""
            WITH inj AS (
                SELECT doc_id,
                       coalesce(text, '')
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' boilerplate passage alpha beta gamma delta epsilon zeta'
                               ELSE '' END
                       || CASE WHEN doc_id % 7 = 1
                               THEN ' repeated footer one two three four five six seven eight'
                               ELSE '' END
                       || ' unique tail ' || CAST(doc_id AS VARCHAR) AS text
                FROM documents),
            n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM inj),
            w AS (SELECT doc_id,
                         CASE WHEN norm = '' THEN []::VARCHAR[]
                              ELSE string_split(norm, ' ') END AS ws
                  FROM n),
            occ AS (SELECT doc_id, i - 1 AS pos,
                           md5(array_to_string(list_slice(ws, i, i + 7), ' ')) AS h
                    FROM (SELECT doc_id, ws,
                                 unnest(generate_series(1, len(ws) - 7)) AS i
                          FROM w WHERE len(ws) >= 8)),
            dup AS (SELECT h FROM occ GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
            cp AS (SELECT DISTINCT o.doc_id, o.pos + g.j AS cp
                   FROM occ o JOIN dup USING (h)
                   CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) g),
            wp AS (SELECT doc_id, i - 1 AS pos, ws[i] AS word
                   FROM (SELECT doc_id, ws,
                                unnest(generate_series(1, len(ws))) AS i
                         FROM w WHERE len(ws) > 0)),
            agg AS (SELECT wp.doc_id,
                           string_agg(CASE WHEN c.cp IS NULL THEN word END,
                                      ' ' ORDER BY wp.pos) AS clean_text,
                           count(*) FILTER (WHERE c.cp IS NULL) AS kept,
                           count(*) FILTER (WHERE c.cp IS NOT NULL) AS dropped
                    FROM wp LEFT JOIN cp c
                        ON wp.doc_id = c.doc_id AND wp.pos = c.cp
                    GROUP BY wp.doc_id)
            SELECT n.doc_id, coalesce(a.clean_text, '') AS clean_text,
                   CAST(coalesce(a.kept, 0) AS BIGINT) AS n_words_kept,
                   CAST(coalesce(a.dropped, 0) AS BIGINT) AS n_words_dropped
            FROM n LEFT JOIN agg a ON n.doc_id = a.doc_id
        """,
        "line_dedup": """
            WITH inj AS (
                SELECT doc_id,
                       coalesce(text, '') || chr(10) || 'Copyright Fixture Footer'
                       || CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || 'Subscribe To Our Newsletter'
                               ELSE '' END
                       || chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR)
                           AS text
                FROM documents),
            l AS (
                SELECT doc_id, i AS pos, lines[i] AS line,
                       lower(trim(lines[i])) AS norm
                FROM (SELECT doc_id, lines,
                             unnest(generate_series(1, len(lines))) AS i
                      FROM (SELECT doc_id, string_split(text, chr(10)) AS lines
                            FROM inj))),
            d AS (SELECT norm FROM l WHERE norm <> ''
                  GROUP BY norm HAVING count(DISTINCT doc_id) >= 2),
            m AS (SELECT l.doc_id, l.pos, l.line, (d.norm IS NOT NULL) AS dup
                  FROM l LEFT JOIN d ON l.norm = d.norm)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN NOT dup THEN line END,
                                       chr(10) ORDER BY pos), '') AS clean_text,
                   CAST(count(*) FILTER (WHERE NOT dup) AS BIGINT) AS n_lines_kept,
                   CAST(count(*) FILTER (WHERE dup) AS BIGINT) AS n_lines_dropped
            FROM m GROUP BY doc_id
        """,
        "unicode_nfc": """
            WITH inj AS (
                SELECT doc_id,
                       text || ' cafe' || chr(769) || ' suffix A' || chr(778)
                            || ' end' AS text
                FROM documents)
            SELECT doc_id, nfc_normalize(text) AS norm_text,
                   CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars
            FROM inj
        """,
        "pii_scrub": r"""
            WITH inj AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@mail.example.com or +1 555-123-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                           AS text
                FROM documents)
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(coalesce(text, ''),
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                               '<EMAIL>', 'g'),
                           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                           '<IP>', 'g'),
                       '(?:\+?[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}',
                       '<PHONE>', 'g') AS scrubbed
            FROM inj
        """,
        "embedding_topk": """
            SELECT query_id, neighbor_id, rn AS rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(
                               q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                                    c.vec_id) AS rn
                FROM embeddings q
                JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id < 5
            ) WHERE rn <= 5
        """,
        # exhaustive probing (n_probe = n_cells) makes IVF provably exact —
        # same oracle as brute force
        "ivf_ann": """
            SELECT query_id, neighbor_id, rn AS rank
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(
                               q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                                    c.vec_id) AS rn
                FROM embeddings q
                JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id < 5
            ) WHERE rn <= 5
        """,
        "book_export": """
            WITH blocks AS (
                SELECT source, doc_id,
                       '## Page ' || doc_id || ' (scan: doc_' || doc_id || ')'
                       || chr(10) || chr(10)
                       || trim(coalesce(text, ''),
                               ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))
                       || chr(10) || chr(10) || '---' AS block
                FROM documents
            )
            SELECT source AS book_id,
                   trim('# ' || source,
                        ' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12))
                   || repeat(chr(10), 4)
                   || string_agg(block, repeat(chr(10), 4) ORDER BY doc_id)
                   || chr(10) AS content
            FROM blocks GROUP BY source
        """,
        # pair half: exhaustive cosine over the doubled population (the
        # Spark side is LSH-restricted; candidates are complete here).
        # sem half: SemDeDup replayed from the SAME 8 lowest-id centroid
        # rows — argmin-distance cells (tie: centroid id), within-cell
        # pairs >= 0.999, recursive-CTE components, keep = lowest rounded
        # centroid similarity then id. All-float compares have measured
        # margins (q_semantic_dedup docstring); output is integer-only.
        "embedding_dedup": """
            WITH RECURSIVE pe AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 100000, embedding::DOUBLE[]
                FROM embeddings WHERE vec_id < 25
            ),
            se AS MATERIALIZED (
                SELECT vec_id, v FROM pe
                UNION ALL
                SELECT vec_id + 200000,
                       list_prepend(v[1] * 1.05, v[2:])
                FROM pe WHERE vec_id < 25
            ),
            cents AS (SELECT vec_id AS ck, v AS cv FROM se WHERE vec_id < 32),
            asg AS MATERIALIZED (
                SELECT vec_id, ck, sim FROM (
                    SELECT se.vec_id, c.ck,
                           list_cosine_similarity(se.v, c.cv) AS sim,
                           row_number() OVER (
                               PARTITION BY se.vec_id
                               ORDER BY list_distance(se.v, c.cv), c.ck
                           ) AS rn
                    FROM se CROSS JOIN cents c
                ) WHERE rn = 1
            ),
            p AS MATERIALIZED (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM se a
                JOIN se b ON a.vec_id < b.vec_id
                JOIN asg aa ON aa.vec_id = a.vec_id
                JOIN asg ab ON ab.vec_id = b.vec_id
                WHERE aa.ck = ab.ck
                  AND list_cosine_similarity(a.v, b.v) >= 0.999
            ),
            ed AS MATERIALIZED (
                SELECT id_a AS src, id_b AS dst FROM p
                UNION
                SELECT id_b, id_a FROM p
            ),
            reach(node, lab) AS (
                SELECT src, src FROM ed
                UNION
                SELECT ed.dst, reach.lab FROM reach JOIN ed ON ed.src = reach.node
            ),
            comp AS (SELECT node, min(lab) AS c FROM reach GROUP BY node),
            lab AS (
                SELECT asg.vec_id, asg.ck, asg.sim,
                       coalesce(comp.c, asg.vec_id) AS component
                FROM asg LEFT JOIN comp ON comp.node = asg.vec_id
            ),
            ranked AS (
                SELECT vec_id, ck, component,
                       row_number() OVER (
                           PARTITION BY component
                           ORDER BY round(sim, 6), vec_id) AS rn
                FROM lab
            )
            SELECT 'pair' AS variant, a.vec_id AS a, b.vec_id AS b,
                   CAST(-1 AS BIGINT) AS c, CAST(-1 AS BIGINT) AS d
            FROM pe a JOIN pe b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.9999
            UNION ALL
            SELECT 'sem', vec_id, CAST(ck AS BIGINT),
                   component,
                   CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT)
            FROM ranked
        """,
        "block_candidates": f"""
            WITH n AS (
                SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
            ),
            b AS (
                SELECT doc_id,
                       list_transform(
                           range(0, greatest(cast(ceil(len(w) / {_blocks.BLOCK_TOKENS}.0) AS BIGINT), 1)),
                           i -> array_to_string(w[i * {_blocks.BLOCK_TOKENS} + 1 : i * {_blocks.BLOCK_TOKENS} + {_blocks.BLOCK_TOKENS}], ' ')
                       ) AS blocks
                FROM n
            ),
            e AS (
                SELECT doc_id,
                       unnest(range(0, len(blocks))) AS block_idx,
                       unnest(blocks) AS block
                FROM b
            ),
            feats AS (
                SELECT doc_id, block_idx,
                       len(string_split(block, ' ')) AS n_tokens,
                       length(block) AS n_chars,
                       length(regexp_replace(block, '[^a-z]', '', 'g')) AS n_alpha,
                       len(list_filter(string_split(block, ' '),
                           x -> x LIKE '%://%' OR x LIKE 'www.%')) AS n_link
                FROM e WHERE length(block) > 0
            )
            SELECT doc_id, block_idx, n_tokens, n_chars,
                   round(n_alpha * 1.0 / greatest(n_chars, 1), 6) AS alpha_ratio,
                   round(n_link * 1.0 / greatest(n_tokens, 1), 6) AS link_density,
                   CAST(n_tokens >= {_blocks.BLOCK_MIN_TOKENS}
                        AND n_alpha * 1.0 / greatest(n_chars, 1) >= {_blocks.BLOCK_MIN_ALPHA_RATIO}
                        AND n_link * 1.0 / greatest(n_tokens, 1) <= {_blocks.BLOCK_MAX_LINK_DENSITY}
                        AS BIGINT) AS is_content
            FROM feats
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   octet_length(encode(coalesce(text, ''))) AS n_bytes,
                   sha256(coalesce(text, '')) AS content_sha256
            FROM documents
        """,
    }

    # ---- compound rows (registry consolidation, round 5): each folded
    # branch keeps its UNCHANGED per-shape SQL above; the compound just
    # tags and unions them to match the folded Spark queries ----
    nine = {
        "filter_agg": ("CAST(l_linestatus AS VARCHAR)", "''",
                       ["sum_qty", "revenue", "n_rows"]),
        "semi_join": ("CAST(c_mktsegment AS VARCHAR)", "''", ["n_customers"]),
        "anti_join": ("CAST(c_nationkey AS VARCHAR)", "''", ["n_customers"]),
        "sorted_limit": ("CAST(o_orderkey AS VARCHAR)", "''", ["price"]),
        "window_slice": ("CAST(source AS VARCHAR)", "CAST(doc_id AS VARCHAR)",
                         ["n_chars", "rn"]),
        "latest_per_key": ("CAST(user_id AS VARCHAR)", "''",
                           ["latest_event_id"]),
        "text_metrics": ("CAST(doc_id AS VARCHAR)", "''",
                         ["char_count", "alpha_ratio", "garbage_ratio",
                          "pipe_ratio"]),
        "line_concat": ("CAST(user_id AS VARCHAR)", "event_seq", []),
        "context_window": ("CAST(event_id AS VARCHAR)", "''",
                           ["ctx_sum", "ctx_n"]),
    }
    parts = []
    for shape, (k1, k2, vs) in nine.items():
        vsel = ", ".join(
            f"CAST({vs[i]} AS DOUBLE) AS v{i + 1}" if i < len(vs)
            else f"CAST(NULL AS DOUBLE) AS v{i + 1}"
            for i in range(4)
        )
        parts.append(
            f"SELECT '{shape}' AS shape, {k1} AS k1, {k2} AS k2, {vsel}\n"
            f"FROM ({base.pop(shape)})"
        )
    base["relational_suite"] = "\nUNION ALL\n".join(parts)
    base["simhash"] = f"""
        SELECT 'fp' AS shape, CAST(doc_id AS BIGINT) AS a,
               CAST(sim_hi AS BIGINT) AS b, CAST(sim_lo AS BIGINT) AS c
        FROM ({base.pop("simhash")})
        UNION ALL
        SELECT 'dup' AS shape, CAST(id_a AS BIGINT), CAST(id_b AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM ({base.pop("simhash_dups")})
    """
    base["jaccard_pairs"] = f"""
        SELECT 'exact' AS path, id_a, id_b, jaccard
        FROM ({base.pop("jaccard_exact")})
        UNION ALL
        SELECT 'lsh' AS path, id_a, id_b, jaccard
        FROM ({base.pop("jaccard_pairs")})
    """
    base["html_suite"] = f"""
        SELECT 'block' AS part, doc_id, CAST(block_idx AS BIGINT) AS idx,
               block_text AS text, CAST(n_chars AS BIGINT) AS n1,
               CAST(link_chars AS BIGINT) AS n2,
               CAST(link_density AS DOUBLE) AS dens, is_content AS flag
        FROM ({base.pop("html_blocks")})
        UNION ALL
        SELECT 'doc' AS part, doc_id, CAST(0 AS BIGINT) AS idx,
               main_text AS text, CAST(n_blocks_kept AS BIGINT) AS n1,
               CAST(n_blocks_dropped AS BIGINT) AS n2,
               -1.0 AS dens, FALSE AS flag
        FROM ({base.pop("html_extract")})
    """
    base["url_canon"] = f"""
        SELECT 'std' AS variant, doc_id, canon_url
        FROM ({base.pop("url_canon")})
        UNION ALL
        SELECT 'idn' AS variant, doc_id, canon_url
        FROM ({base.pop("url_canon_idn")})
    """
    return base

