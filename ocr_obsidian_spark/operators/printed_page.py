"""Cross-page printed-page mode switch — the pipeline's ONE shuffle,
restructured so the shuffle only ever moves five narrow columns.

Reference semantics (ingest/page_numbers.py:274-294 driven by
ingest/ocr.py:184,223-227): pages are processed in order per book; once a
page detects an arabic number >= arabic_switch_min, every LATER page's roman
detection is nulled. The triggering page itself keeps its value, and arabic
detections are never modified — so a page's roman result is nulled iff some
strictly-earlier page of the same book detected arabic >= threshold:

    max(is_strong_arabic) OVER (PARTITION BY book_id ORDER BY page_num
                                ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)

Scale shape: the corpus rows are WIDE (nested lines/words, full text), and
book cardinality can be tiny relative to cores — windowing the full corpus
would funnel everything through few fat partitions. Instead:

  1. project the five narrow detection columns and window THOSE (cheap
     shuffle, bytes ~ 1% of the corpus);
  2. keep only the urls whose roman result must be nulled — sparse by
     construction (roman headers appearing after an arabic switch);
  3. null via a broadcast left join on url — the corpus itself never
     shuffles. The join auto-sizes through ``xengine.broadcast_if_small``:
     a cheap narrow count of the null set picks broadcast only up to
     ``xengine.MAX_BROADCAST_ROWS`` urls, so the adversarial corpus (roman
     headers after an arabic switch everywhere) degrades to a regular join
     instead of a driver OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from .xengine import broadcast_if_small


def roman_null_set(corpus: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """urls whose roman detection is suppressed by the per-book mode switch."""
    switch_min = int(cfg.printed_page.arabic_switch_min)
    w = (
        Window.partitionBy("book_id")
        .orderBy("page_num", "url")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    strong_arabic = F.when(
        (F.col("printed_page_kind") == "arabic") & (F.col("printed_page") >= switch_min),
        F.lit(1),
    ).otherwise(F.lit(0))
    narrow = corpus.select("url", "book_id", "page_num", "printed_page", "printed_page_kind")
    return (
        narrow.withColumn("_mode", F.coalesce(F.max(strong_arabic).over(w), F.lit(0)))
        .filter((F.col("_mode") == 1) & (F.col("printed_page_kind") == "roman"))
        .select("url")
    )


def apply_printed_page_mode(
    corpus: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Null every roman detection the per-book mode switch suppresses. The
    null set (sparse by construction) is materialized once and counted —
    one extra job over the five narrow columns — and broadcast only when it
    holds at most ``MAX_BROADCAST_ROWS`` urls."""
    nulls = broadcast_if_small(
        roman_null_set(corpus, cfg).withColumn("_null_roman", F.lit(True))
    )
    keep = F.col("_null_roman").isNull()
    return (
        corpus.join(nulls, "url", "left_outer")
        .withColumn("printed_page", F.when(keep, F.col("printed_page")))
        .withColumn("printed_page_text", F.when(keep, F.col("printed_page_text")))
        .withColumn("printed_page_kind", F.when(keep, F.col("printed_page_kind")))
        .drop("_null_roman")
    )
