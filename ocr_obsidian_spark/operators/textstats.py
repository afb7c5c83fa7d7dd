"""Text analysis for training-data curation — all native column expressions
(JVM-side, whole-stage codegen; no Python in any of these paths).

  * token counting (whitespace + a BPE-ish sub-token regex)
  * quality scoring (length / punctuation / stopword ratios)
  * Gopher and repetition gates, script mix, quality tiers
  * a sketch-based corpus profile

The per-language stopword markers below also seed the marker stage of
``langid.with_language``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .xengine import WS_RE as _WS

# tiny per-language stopword marker sets for the heuristic language scorer
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that"],
    "de": ["der", "die", "und", "das", "nicht", "ist"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "es": ["el", "los", "las", "una", "por", "que"],
}

_STOPWORDS = _LANG_MARKERS["en"] + ["a", "in", "it", "for", "on", "with"]

# the published Gopher stop-word rule (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", appendix A1.1): keep only documents containing at
# least two of these eight English words
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# the published Gopher quality-rule thresholds (Rae et al. 2021 §A1.1),
# keyed by the ``with_gopher_flags`` column each bounds: (min, max), None =
# unbounded. ``stop_distinct`` counts distinct GOPHER_STOPWORDS; ``n_words``
# is 50..100 000 words, ``mean_word_len`` 3..10 characters.
GOPHER_THRESHOLDS: dict[str, tuple[float | None, float | None]] = {
    "symbol_word_ratio": (None, 0.1),
    "bullet_line_frac": (None, 0.9),
    "ellipsis_line_frac": (None, 0.3),
    "alpha_word_frac": (0.8, None),
    "stop_distinct": (2, None),
    "n_words": (50, 100_000),
    "mean_word_len": (3.0, 10.0),
}


def _norm(text_col: str) -> F.Column:
    # coalesce first: NULL text must behave like empty text, otherwise NULLs
    # leak through ratio arithmetic and least()/greatest() silently drop them
    # (a NULL page would otherwise score quality 1.0)
    return F.lower(F.trim(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), _WS, " ")))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """whitespace tokens + BPE-ish sub-tokens (letter runs / digit runs /
    single punctuation — a cheap proxy for byte-pair pretokenization)."""
    norm = _norm(text_col)
    ws_tokens = F.when(F.length(norm) == 0, F.lit(0)).otherwise(F.size(F.split(norm, " ")))
    subtoken_re = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    # regexp_count == size(regexp_extract_all): same match count, no
    # per-row array-of-strings materialization (round 6)
    sub_tokens = F.regexp_count(norm, F.lit(subtoken_re))
    return df.withColumn("n_ws_tokens", ws_tokens).withColumn("n_subword_tokens", sub_tokens)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length/punct/stopword quality features + a composite [0,1] score.

    The shape mirrors the reference's QA gate (ingest/qa_metrics.py:81-108):
    ratio features with thresholds, combined monotonically.
    """
    norm = _norm(text_col)
    n = F.greatest(F.length(norm), F.lit(1))
    # counting via regexp_count (round 6): identical values (every
    # counted class char is one BMP code unit), no rewritten-string alloc
    n_alpha = F.regexp_count(norm, F.lit("[a-z]"))
    n_punct = F.length(norm) - F.regexp_count(norm, F.lit("[a-z0-9 ]"))
    words = F.split(norm, " ")
    n_words = F.greatest(F.size(words), F.lit(1))
    n_stop = F.size(F.filter(words, lambda w: w.isin(_STOPWORDS)))
    mean_word_len = n.cast("double") / n_words

    alpha_ratio = n_alpha.cast("double") / n
    punct_ratio = n_punct.cast("double") / n
    stop_ratio = n_stop.cast("double") / n_words
    length_ok = (F.length(norm) >= 20) & (F.length(norm) <= 100000)
    wordlen_ok = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)

    score = (
        F.when(~length_ok, 0.0)
        .otherwise(
            F.least(
                F.lit(1.0),
                alpha_ratio * 0.5
                + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
                + F.when(wordlen_ok, 0.2).otherwise(0.0)
                - F.when(punct_ratio > 0.2, 0.3).otherwise(0.0),
            )
        )
        .cast("double")
    )
    return df.withColumns(
        {
            "alpha_ratio": alpha_ratio,
            "punct_ratio": punct_ratio,
            "stopword_ratio": stop_ratio,
            "quality_score": F.greatest(score, F.lit(0.0)),
        }
    )


def with_gopher_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The Gopher rule set beyond what's in with_quality_score /
    with_repetition_stats: symbol-to-word ratio (# and … spam),
    bullet-start and ellipsis-end line fractions, fraction of words
    containing a letter, distinct-stopword count, word count and mean
    word length — plus their conjunction against ``GOPHER_THRESHOLDS``
    as ``gopher_pass``. All per-row array/regexp expressions: map-only,
    zero shuffles, whole-stage codegen.

    The stop-word gate is the PUBLISHED Gopher rule (Rae et al. 2021
    §A1.1): the document must contain ≥ 2 distinct words of the
    eight-word ``GOPHER_STOPWORDS`` set. The repetition half of the
    published rule set lives in
    ``operators/repetition.with_gopher_repetition``.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumns(
        {"_lines": F.split(raw, "\n"), "_toks": F.split(_norm(text_col), " ")}
    )
    n_lines = F.greatest(F.size("_lines"), F.lit(1))
    n_words = F.greatest(F.size("_toks"), F.lit(1))
    n_hash = F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))
    # occurrences of the two ellipsis spellings, via length deltas
    n_dots = (F.length(raw) - F.length(F.replace(raw, F.lit("..."), F.lit("")))) / 3
    n_uni = F.length(raw) - F.length(F.replace(raw, F.lit("…"), F.lit("")))
    symbol_word_ratio = (n_hash + n_dots + n_uni).cast("double") / n_words
    bullet_frac = (
        F.size(F.filter(F.col("_lines"), lambda l: F.trim(l).rlike("^[-*•]")))
        .cast("double") / n_lines
    )
    ellipsis_frac = (
        F.size(
            F.filter(
                F.col("_lines"),
                lambda l: F.trim(l).rlike("(\\.\\.\\.|…)$"),
            )
        ).cast("double") / n_lines
    )
    alpha_word_frac = (
        F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[a-z]")))
        .cast("double") / n_words
    )
    stop_distinct = F.size(
        F.array_intersect(
            F.array_distinct(F.col("_toks")),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    norm_len = F.length(_norm(text_col))
    true_words = F.when(norm_len == 0, F.lit(0)).otherwise(F.size("_toks"))
    # norm is single-space-collapsed, so sum(word lens) = len(norm)-(n-1)
    mean_word_len = F.when(true_words == 0, F.lit(0.0)).otherwise(
        (norm_len - true_words + 1).cast("double") / true_words
    )
    out = staged.withColumns(
        {
            "symbol_word_ratio": F.round(symbol_word_ratio, 6),
            "bullet_line_frac": F.round(bullet_frac, 6),
            "ellipsis_line_frac": F.round(ellipsis_frac, 6),
            "alpha_word_frac": F.round(alpha_word_frac, 6),
            "stop_distinct": stop_distinct.cast("long"),
            "n_words": true_words.cast("long"),
            "mean_word_len": F.round(mean_word_len, 6),
        }
    )
    gopher_pass = F.lit(True)
    for c, (lo, hi) in GOPHER_THRESHOLDS.items():
        if lo is not None:
            gopher_pass = gopher_pass & (F.col(c) >= lo)
        if hi is not None:
            gopher_pass = gopher_pass & (F.col(c) <= hi)
    return out.withColumn("gopher_pass", gopher_pass).drop("_lines", "_toks")


# unicode script ranges as LITERAL characters (chr()-built), so Java regex
# and RE2 parse the identical class — \uXXXX vs \x{XXXX} escape syntax
# differs between the engines, literal chars don't. BMP-only on purpose:
# both engines count length() in code points there.
_SCRIPT_RANGES = {
    "latin": "a-zA-Z",
    "cyrillic": chr(0x0400) + "-" + chr(0x04FF),
    "arabic": chr(0x0600) + "-" + chr(0x06FF),
    "cjk": chr(0x4E00) + "-" + chr(0x9FFF),
}


def with_script_mix(df: DataFrame) -> DataFrame:
    """Unicode-script composition signals: per-document fraction of ALL
    characters (spaces/digits/punctuation included in the denominator)
    that belong to each major script (latin / cyrillic / arabic / CJK),
    and the dominant script (``und`` when none hit) — the cheap script-ID
    gate a crawl pipeline applies before (or as a sanity check on)
    model-based language ID, and the standard mixed-script spam signal.

    Map-only regexp counting, whole-stage codegen; ties break by the
    fixed script order for determinism."""
    raw = F.coalesce(F.col("text"), F.lit(""))
    n = F.greatest(F.length(raw), F.lit(1))
    counts = {
        name: F.regexp_count(raw, F.lit("[" + rng + "]"))
        for name, rng in _SCRIPT_RANGES.items()
    }
    out = df
    for name, cnt in counts.items():
        out = out.withColumn(
            f"{name}_frac", F.round(cnt.cast("double") / n, 6)
        )
    names = list(_SCRIPT_RANGES)
    best = F.greatest(*[counts[s] for s in names])
    pick = F.lit("und")
    for s in reversed(names):
        pick = F.when(counts[s] == best, F.lit(s)).otherwise(pick)
    return out.withColumn(
        "dominant_script", F.when(best > 0, pick).otherwise(F.lit("und"))
    )


def with_quality_tiers(
    df: DataFrame,
    *,
    score_col: str = "quality_score",
    by: str | None = "lang",
    tiers: int = 3,
) -> DataFrame:
    """Exact quality tiering: rank documents by ``score_col`` (desc,
    ``doc_id`` tiebreak) within each ``by`` group and split into ``tiers``
    equal buckets as ``tier`` — 1 = head (best), N = tail. The corpus-curation
    move behind head/middle/tail selection: keep the head, sample the
    middle, drop the tail.

    EXACT but small-scale: ``ntile`` needs a total order per group, which
    Spark executes as ONE task per ``by`` partition — right for oracle
    verification and per-language corpora that fit a task, wrong for a
    100 TB monolingual crawl.
    """
    from pyspark.sql import Window

    part = Window.partitionBy(by) if by else Window.partitionBy()
    w = part.orderBy(F.col(score_col).desc(), F.col("doc_id"))
    return df.withColumn("tier", F.ntile(int(tiers)).over(w))


def with_repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals — the standard boilerplate/spam
    filters a training-data pipeline applies before dedup:

      * ``dup_line_frac`` — fraction of non-unique lines (1 - distinct/total);
      * ``top_bigram_frac`` — share of the most frequent word 2-gram among
        all 2-grams (repeated-phrase spam);
      * ``n_lines`` / ``n_bigrams`` counts.

    Computed PER ROW with array expressions only (sorted-bigram max-run
    fold via ``aggregate``): map-only, zero shuffles — the right 100 TB
    shape for per-document metrics (the groupBy-per-ngram alternative
    shuffles the whole token stream).
    """
    # staged projections: HOF lambdas re-evaluate captured subtrees per
    # element (round-3 CSE lesson — see classify_text_blocks)
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    base = df.withColumn("_lines", lines).withColumn(
        "_toks", F.split(_norm("text"), " ")
    )
    n_lines = F.size(F.col("_lines"))
    dup_line_frac = F.when(n_lines <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(F.col("_lines"))).cast("double") / n_lines
    )
    n_tok = F.size(F.col("_toks"))
    n_bigrams = F.greatest(n_tok - 1, F.lit(0))
    grams = F.when(n_tok >= 2, F.array_sort(F.transform(
        F.sequence(F.lit(0), n_tok - 2),
        lambda i: F.concat_ws(" ", F.element_at(F.col("_toks"), i + 1),
                              F.element_at(F.col("_toks"), i + 2)),
    ))).otherwise(F.array().cast("array<string>"))
    staged = base.withColumn("_grams", grams)
    # max run length over the SORTED bigram array == max frequency
    run_state = F.aggregate(
        F.col("_grams"),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_bigram_frac = F.when(n_bigrams <= 0, F.lit(0.0)).otherwise(
        run_state["best"].cast("double") / n_bigrams
    )
    return (
        staged.withColumn("n_lines", n_lines.cast("long"))
        .withColumn("dup_line_frac", F.round(dup_line_frac, 6))
        .withColumn("n_bigrams", n_bigrams.cast("long"))
        .withColumn("top_bigram_frac", F.round(top_bigram_frac, 6))
        .drop("_lines", "_toks", "_grams")
    )


# profile_corpus sketch settings: HyperLogLog++ relative standard
# deviation, reported doc-length quantiles, size of the top-host table
PROFILE_RSD = 0.02
PROFILE_QUANTILES = (0.5, 0.9, 0.99)
PROFILE_TOP_HOSTS = 10


def profile_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    include_counts: bool = True,
) -> dict:
    """Sketch-based corpus profile — the 100 TB-safe twin of the exact
    `report` stage: HyperLogLog++ distinct counts (approx_count_distinct,
    error ``PROFILE_RSD``) for distinct normalized contents and
    distinct hosts (of a ``url`` column, when there is one),
    Greenwald-Khanna doc-length quantiles
    (percentile_approx). All three are single-pass, partial-aggregable
    sketches that merge map-side — the corpus's raw values never
    shuffle; exact distinct counts at 10^12 docs would each be a
    corpus-wide exchange. The top-host table is the ONLY hash shuffle
    and it moves host-cardinality rows, not documents. Returns a plain
    driver-side dict (group-cardinality-sized).

    ``include_counts=False`` drops the exact n_docs/n_chars/n_null_text
    columns for callers that already computed them in their own pass
    (the `report --approx` CLI) — the sketch agg then carries only the
    sketch columns."""
    from .dedup import normalized_text

    n_chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    aggs = [
        F.approx_count_distinct(
            F.sha2(normalized_text(text_col), 256), PROFILE_RSD
        ).alias("approx_distinct_contents"),
        F.percentile_approx(
            n_chars.cast("double"), list(PROFILE_QUANTILES), 10_000
        ).alias("len_q"),
    ]
    if include_counts:
        aggs = [
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_chars).alias("n_chars"),
            F.sum(F.col(text_col).isNull().cast("long")).alias("n_null_text"),
        ] + aggs
    host = None
    if "url" in df.columns:
        from .webprep import extract_domain

        # NULL urls get the '' host group (the md5_bucket convention) —
        # a bare None key would poison sorted-JSON consumers and drop
        # the rows from the distinct-host sketch
        host = F.coalesce(extract_domain("url"), F.lit(""))
        aggs.append(
            F.approx_count_distinct(host, PROFILE_RSD).alias("approx_distinct_hosts")
        )
    row = df.agg(*aggs).collect()[0]
    prof = {
        "approx_distinct_contents": int(row["approx_distinct_contents"]),
        "len_quantiles": {
            str(q): float(v) for q, v in zip(PROFILE_QUANTILES, row["len_q"] or [])
        },
    }
    if include_counts:
        prof = {
            "n_docs": int(row["n_docs"]),
            "n_chars": int(row["n_chars"] or 0),
            "n_null_text": int(row["n_null_text"] or 0),
            **prof,
        }
    if host is not None:
        prof["approx_distinct_hosts"] = int(row["approx_distinct_hosts"])
        top = (
            df.groupBy(host.alias("host"))
            .count()
            .orderBy(F.col("count").desc(), F.col("host"))
            .limit(PROFILE_TOP_HOSTS)
            .collect()
        )
        prof["top_hosts"] = {r["host"]: int(r["count"]) for r in top}
    return prof
