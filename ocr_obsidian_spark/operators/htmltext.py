"""HTML main-content extraction — tag-level boilerplate stripping.

The web-native reading of the reference's extraction stage (the OCR page
analog is operators/extract.py): raw HTML → script/style/comment removal →
block segmentation on block-level tags → per-block text + link-density
features → content gate → document reassembly. The same
segment-score-gate-render shape as the reference pipeline
(ingest/render_text.py:111-128, ingest/highlights.py:61-83), re-expressed
for markup instead of OCR geometry.

Everything is native column expressions (regexp_replace / split /
regexp_extract_all / higher-order folds) — whole-stage codegen, zero
Python, zero shuffles until the per-document rebuild. Every regex is
written in the Java∩RE2 common subset (no backreferences, no lookaround)
so the driver oracle replays the exact patterns in DuckDB.

This is a deliberately principled SUBSET of HTML (the jusText/boilerpipe
family of heuristics, not a browser): nested same-tag <a> elements and
malformed markup degrade gracefully (tags are stripped regardless), and
entity decoding covers exactly the five core named entities plus the
single numeric escape ``&#39;`` (apostrophe) — other numeric escapes
pass through as literal text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .xengine import WS_CLASS, WS_RE as _WS_RE

# content gate: a block is content when its visible text has at least
# CONTENT_MIN_CHARS characters and at most CONTENT_MAX_LINK_DENSITY of them
# sit inside <a> elements (the jusText/boilerpipe length and link-density
# cues); the html oracle SQL renders the same values
CONTENT_MIN_CHARS = 25
CONTENT_MAX_LINK_DENSITY = 0.4

# dropped wholesale: content-free containers (case-insensitive, dotall)
_SCRIPT_RE = "(?is)<script[^>]*>.*?</script>"
_STYLE_RE = "(?is)<style[^>]*>.*?</style>"
_COMMENT_RE = "(?s)<!--.*?-->"

# block-level boundaries: a block ends wherever one of these opens/closes.
# The name must be followed by whitespace-attrs, '/', or '>' — '[^>]*'
# alone would make <param>/<picture>/<link> match the p/li branches.
# WS_CLASS, not \s: Java's \s includes \x0B, RE2's does not (xengine.py).
_BLOCK_TAG_RE = (
    "(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
    "section|article|aside|header|footer|nav|main|blockquote|pre|form|"
    "fieldset|hr|figure|figcaption)(?:" + WS_CLASS + "[^>]*)?/?>"
)

# anchor bodies (for link-density BEFORE inline tags are stripped);
# '<a(?:\s...)?' not '<a[^>]*' — the latter would also match <abbr>/<area>
_ANCHOR_RE = "(?is)<a(?:" + WS_CLASS + "[^>]*)?>(.*?)</a>"

_ANY_TAG_RE = "<[^>]*>"


def _decode_entities(col: F.Column) -> F.Column:
    """The five core named entities; '&amp;' LAST so '&amp;lt;' correctly
    becomes the literal '&lt;' (no earlier pattern can match inside it —
    every other entity needs its own '&')."""
    out = col
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def _block_text(col: F.Column) -> F.Column:
    """block html → visible text: strip remaining (inline) tags, decode
    entities, collapse whitespace."""
    return F.trim(
        F.regexp_replace(
            _decode_entities(F.regexp_replace(col, _ANY_TAG_RE, " ")),
            _WS_RE,
            " ",
        )
    )


def _block_features(df: DataFrame) -> DataFrame:
    """All chunks of ``html_str`` per ``doc_id`` (INCLUDING empty-text ones — split yields ≥1 chunk per
    document, which is what lets extract_main_content rebuild without a
    restore join) with visible text + link-density features."""
    raw = F.coalesce(F.col("html_str"), F.lit(""))
    stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(raw, _SCRIPT_RE, " "), _STYLE_RE, " "),
        _COMMENT_RE,
        " ",
    )
    # stage the split once (HOF/CSE discipline — see classify_text_blocks)
    base = df.select(
        F.col("doc_id"), F.split(stripped, _BLOCK_TAG_RE).alias("_chunks")
    )
    exploded = base.select(
        F.col("doc_id"), F.posexplode("_chunks").alias("block_idx", "_chunk")
    )
    # per-block visible text and anchor-body text, each staged
    staged = exploded.select(
        F.col("doc_id"),
        "block_idx",
        _block_text(F.col("_chunk")).alias("block_text"),
        F.aggregate(
            F.regexp_extract_all(F.col("_chunk"), F.lit(_ANCHOR_RE), F.lit(1)),
            F.lit(0),
            lambda acc, a: acc + F.length(_block_text(a)),
        ).alias("link_chars"),
    )

    n_chars = F.length("block_text")
    # greatest(n,1): empty chunks must not produce a NaN density
    link_density = F.col("link_chars").cast("double") / F.greatest(n_chars, F.lit(1))
    return staged.select(
        F.col("doc_id"),
        F.col("block_idx").cast("long").alias("block_idx"),
        "block_text",
        n_chars.cast("long").alias("n_chars"),
        F.col("link_chars").cast("long").alias("link_chars"),
        F.round(link_density, 6).alias("link_density"),
        (
            (n_chars >= CONTENT_MIN_CHARS) & (link_density <= CONTENT_MAX_LINK_DENSITY)
        ).alias("is_content"),
    )


def html_blocks(df: DataFrame) -> DataFrame:
    """Segment ``html_str`` into visible-text blocks with boilerplate features.

    Returns one row per non-empty block:
    ``(doc_id, block_idx, block_text, n_chars, link_chars, link_density,
    is_content)`` where ``link_density`` is the fraction of visible
    characters that sit inside ``<a>`` elements — the classic
    nav/footer/related-links discriminator — and ``is_content`` gates on
    length + link density.

    Map-only: the whole segment→feature pass is one projection per row
    (posexplode is a generator, not a shuffle); at 100 TB this pipelines
    straight out of the scan with predicate/column pruning intact.
    """
    return _block_features(df).filter(F.col("n_chars") > 0)


def extract_main_content(df: DataFrame) -> DataFrame:
    """``html_str`` → main text: content blocks joined with blank lines, in
    document order; boilerplate (nav, footers, link farms, scripts)
    removed. Returns ``(doc_id, main_text, n_blocks_kept,
    n_blocks_dropped)`` — one row per input row; documents whose every
    block is boilerplate yield ``''``.

    ONE groupBy(id) shuffle total after the map-only block pass; the
    rebuild sorts each document's (small) block list in-task — no window,
    no global sort, and no restore join: the rebuild runs over ALL chunks
    (split yields ≥1 per document, so every input row has a group) and
    empty chunks are dropped inside the aggregated array instead.
    """
    blocks = _block_features(df)
    xs = F.array_sort(
        F.collect_list(F.struct("block_idx", "is_content", "n_chars", "block_text"))
    )
    staged = (
        blocks.groupBy("doc_id")
        .agg(xs.alias("_xs"))
        .select(
            F.col("doc_id"),
            F.size(
                F.filter(F.col("_xs"), lambda x: x["n_chars"] > 0)
            ).alias("_n"),
            F.filter(F.col("_xs"), lambda x: x["is_content"]).alias("_kept"),
        )
    )
    return staged.select(
        F.col("doc_id"),
        F.concat_ws(
            "\n\n", F.transform(F.col("_kept"), lambda x: x["block_text"])
        ).alias("main_text"),
        F.size("_kept").cast("long").alias("n_blocks_kept"),
        (F.col("_n") - F.size("_kept")).cast("long").alias("n_blocks_dropped"),
    )
