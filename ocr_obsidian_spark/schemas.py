"""Explicit StructType schemas for every table in the pipeline.

Schemas are always declared, never inferred (reference reads back JSONL
dynamically, ingest/textmap.py:8-18 — we keep the tolerant *semantics* inside
the UDFs but fix the physical schemas so column pruning and Arrow conversion
are exact).

Input shape per BASELINE.json input_hint:
    pages(url string, warc_ts timestamp, html binary, text string, lang string)
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# canonical corpus produced by the extract stage (PageRecord analog,
# reference ingest/types.py:45-56 + QA metric columns).
#
# ``lines_json`` carries the nested line/word structure as one compact JSON
# string per page — the same serialized form as the reference's JSONL corpus
# (ingest/ocr.py:292-300). Storing it nested (array<struct<...>>) costs 5-30×
# more CPU in Arrow transfer, Spark columnar cache, and parquet encode, and
# every downstream consumer of it is a pandas UDF that wants dicts anyway;
# a string column keeps the wide payload opaque to the engine and column
# pruning makes narrow passes (mode window, metrics) nearly free.
CORPUS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("book_id", T.StringType(), True),
        T.StructField("page_num", T.IntegerType(), True),
        T.StructField("scan_relpath", T.StringType(), True),
        T.StructField("page_width", T.IntegerType(), True),
        T.StructField("page_height", T.IntegerType(), True),
        T.StructField("lines_json", T.StringType(), True),
        T.StructField("raw_text", T.StringType(), True),
        T.StructField("clean_text", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("char_count", T.LongType(), True),
        T.StructField("line_count", T.LongType(), True),
        T.StructField("avg_word_conf", T.DoubleType(), True),
        T.StructField("alpha_ratio", T.DoubleType(), True),
        T.StructField("garbage_ratio", T.DoubleType(), True),
        T.StructField("pipe_ratio", T.DoubleType(), True),
        T.StructField("is_garbage", T.BooleanType(), True),
        T.StructField("parse_ok", T.BooleanType(), True),
        T.StructField("printed_page", T.IntegerType(), True),
        T.StructField("printed_page_text", T.StringType(), True),
        T.StructField("printed_page_kind", T.StringType(), True),
        # detection debug payload as data (reference page_numbers.py:226,259
        # debug artifact; null unless cfg.printed_page.debug)
        T.StructField("pp_debug_json", T.StringType(), True),
        T.StructField("config_hash", T.StringType(), True),
    ]
)

TRIGGERS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField(
            "candidates",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("bbox", T.ArrayType(T.IntegerType(), False), False),
                        T.StructField("area", T.LongType(), True),
                        T.StructField(
                            "color_stats", T.MapType(T.StringType(), T.DoubleType()), True
                        ),
                    ]
                ),
                False,
            ),
            True,
        ),
    ]
)

SPAN = T.StructType(
    [
        T.StructField("span_id", T.StringType(), False),
        T.StructField("page_num", T.IntegerType(), True),
        T.StructField("line_ids", T.ArrayType(T.StringType(), False), False),
        T.StructField(
            "trigger_bboxes", T.ArrayType(T.ArrayType(T.IntegerType(), False), False), False
        ),
        T.StructField("span_bbox", T.ArrayType(T.IntegerType(), False), False),
    ]
)

NOTES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("span_id", T.StringType(), False),
        T.StructField("note_path", T.StringType(), False),
        T.StructField("note_content", T.StringType(), False),
        T.StructField("sidecar_json", T.StringType(), False),
        T.StructField("quote_text", T.StringType(), False),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("wall_ms", T.DoubleType(), False),
        T.StructField("min_url", T.StringType(), True),
        T.StructField("max_url", T.StringType(), True),
        T.StructField("config_hash", T.StringType(), False),
    ]
)
