"""Streaming extraction: unbounded pages source → corpus sink.

Design notes (Spark-first):
  * ``extract_pages`` is the batch spine's own per-page loop (the corpus
    half of ``extract_pages_with_lineage``), a stateless Arrow-batched map
    plus a row-kind filter — it composes with streaming DataFrames
    unchanged; one micro-batch = one bounded extract. Each micro-batch's
    per-partition lineage rows are filtered out, not written to the sink.
  * the per-book printed-page mode switch has TWO streaming stories:
    - the default stays a batch fix-up over the materialized corpus
      (narrow, column-pruned — operators/printed_page.py), mirroring how
      the reference derives everything downstream from the corpus;
    - ``stream_mode_switch`` applies it IN-STREAM as a custom stateful
      operator (``applyInPandasWithState``): per-book keyed state carries
      the mode flag across micro-batches and query restarts (it lives in
      the streaming checkpoint), with a processing-time TTL bounding state
      for idle books. Correct when a book's pages arrive in page order —
      the usual crawl shape; out-of-order books still need the batch
      fix-up, which is why both exist.
  * exactly-once sink semantics + resume come from the streaming
    checkpoint; this is the streaming twin of operators/checkpoint.py.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.extract import extract_pages
from ..schemas import PAGES


def read_pages_stream(
    spark: SparkSession, input_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """pages stream → extracted corpus parquet, resumable via checkpoint.

    ``available_now=True`` drains everything currently in the source then
    stops (test/batch-catchup mode); False runs continuously.

    Checkpoint dirs are per-query: reusing one across different query
    shapes is NOT rejected by Spark when offsets are already committed
    (observed) — it silently no-ops. Always give each sink its own dir.
    """
    pages = read_pages_stream(spark, input_dir)
    corpus = extract_pages(pages, cfg)
    writer = (
        corpus.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# output of the in-stream mode switch: the narrow detection projection
MODE_SWITCH_OUT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("book_id", T.StringType(), True),
        T.StructField("page_num", T.IntegerType(), True),
        T.StructField("printed_page", T.IntegerType(), True),
        T.StructField("printed_page_text", T.StringType(), True),
        T.StructField("printed_page_kind", T.StringType(), True),
    ]
)

# keyed state per book: (mode_on, last_page_seen)
_MODE_STATE = T.StructType(
    [
        T.StructField("mode_on", T.BooleanType(), False),
        T.StructField("last_page", T.IntegerType(), True),
    ]
)


def stream_mode_switch(
    corpus: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """In-stream per-book printed-page mode switch — a CUSTOM STATEFUL
    operator via ``applyInPandasWithState``.

    Reference semantics (ingest/page_numbers.py:274-294): once a book sees
    an arabic page >= ``arabic_switch_min``, every LATER page's roman
    detection is nulled; the triggering page keeps its value. The mode
    flag is per-book keyed state: it survives micro-batch boundaries AND
    query restarts (checkpointed), so a roman page arriving hours after
    the triggering arabic page is still nulled. Rows inside a batch are
    processed in page order; cross-batch correctness assumes in-order
    arrival per book (crawl order). For continuous deployments pass
    ``state_ttl_minutes`` to expire idle books' state — bounded state at
    10^12-doc scale, where the live-book working set is what fits, not the
    corpus. The default is NO timeout: processing-time timeouts keep
    drain-style (availableNow) queries alive waiting for timeout batches,
    so the TTL is opt-in for long-running queries only.
    """
    switch_min = int(cfg.printed_page.arabic_switch_min)
    ttl_ms = int(state_ttl_minutes or 0) * 60 * 1000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        mode_on, last_page = (state.get if state.exists else (False, None))
        chunks: list[pd.DataFrame] = []
        for pdf in pdfs:
            chunks.append(pdf)
        batch = pd.concat(chunks, ignore_index=True) if chunks else pd.DataFrame()
        if len(batch):
            batch = batch.sort_values(["page_num", "url"], kind="stable").reset_index(drop=True)
            pp: list[Any] = []
            txt: list[Any] = []
            kind: list[Any] = []
            for _, row in batch.iterrows():
                k, v = row["printed_page_kind"], row["printed_page"]
                if mode_on and k == "roman":
                    pp.append(None); txt.append(None); kind.append(None)
                else:
                    pp.append(v); txt.append(row["printed_page_text"]); kind.append(k)
                # the row's own arabic switches the mode for LATER pages only
                if k == "arabic" and v is not None and int(v) >= switch_min:
                    mode_on = True
                last_page = int(row["page_num"]) if row["page_num"] is not None else last_page
            batch["printed_page"] = pd.Series(pp, dtype=object)
            batch["printed_page_text"] = pd.Series(txt, dtype=object)
            batch["printed_page_kind"] = pd.Series(kind, dtype=object)
            yield batch[[f.name for f in MODE_SWITCH_OUT.fields]]
        state.update((bool(mode_on), last_page))
        if ttl_ms > 0:
            state.setTimeoutDuration(ttl_ms)

    narrow = corpus.select(
        "url", "book_id", "page_num", "printed_page", "printed_page_text", "printed_page_kind"
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_minutes
        else GroupStateTimeout.NoTimeout
    )
    return narrow.groupBy("book_id").applyInPandasWithState(
        fn, MODE_SWITCH_OUT, _MODE_STATE, "append", timeout
    )


def stream_dedup_pages(pages: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """In-stream url dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state older than the horizon is
    evicted (exact dedup across all time stays a batch job — see
    operators/dedup.py)."""
    return pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(["url"])


def stream_ingest_metrics(
    pages: DataFrame, *, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Watermarked event-time ingest metrics: docs + bytes per (window,
    lang), tolerating late arrivals up to the watermark."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("html")).alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_docs",
            "n_bytes",
        )
    )
