"""The extraction spine: pages(url, warc_ts, html, text, lang) → corpus.

One ``mapInPandas`` pass does ALL page-local work — tokenize, word admission,
line segmentation, cleanup rendering, QA metrics + gate, printed-page
detection — so the hot path has exactly zero shuffles (the reference's whole
per-page loop, ingest/ocr.py:187-254 + cli.py:162-215, collapses into this
stage). The only cross-row dependency (arabic mode switch) lives in
operators/printed_page.py as a window.

There is exactly one per-page loop, ``extract_pages_with_lineage``: it emits
the corpus rows plus one trailing per-partition lineage row
(``schemas.LINEAGE``) from the same map stage. ``extract_pages`` is its
corpus half, so every caller runs the same per-page code.

Scale design (10^12-doc target):
  * ``html`` is by far the widest column; it is consumed inside this stage
    and never appears in the output schema, so downstream stages prune it
    at the parquet scan.
  * skew from giant pages is defused by an optional pre-repartition on
    ``xxhash64(url)`` (urls are unique ⇒ uniform spread) and bounded Arrow
    batches (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

import json
import re
from typing import Any, Iterator

import orjson
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.geometry import admit_word, group_lines
from ..functions.qa import compute_text_metrics, is_garbage_page, low_quality_placeholder
from ..functions.romans import detect_printed_page, infer_scan_side
from ..functions.textclean import render_page_text, render_raw_text
from ..schemas import CORPUS, LINEAGE
from ..sources.fixtures import parse_page_payload

_URL_BOOK_RE = re.compile(r"/book_([^/]+)/page_(\d+)")

def parse_url_book_page(url: str) -> tuple[str, int]:
    """(book_id, page_num) from a fixture-style url; generic urls fall back
    to (host, 0) — ordering for those comes from warc_ts."""
    m = _URL_BOOK_RE.search(url)
    if m:
        return m.group(1), int(m.group(2))
    host = url.split("//", 1)[-1].split("/", 1)[0]
    return host, 0


def _lines_json(lines: list[dict[str, Any]], fast: bool) -> str:
    """``json.dumps(lines, ensure_ascii=False, separators=(",", ":"))``,
    byte for byte. orjson writes the same bytes several times faster when
    ``fast`` holds (every float in ``lines`` prints the same in orjson as
    in ``repr``); it raises on ints beyond 64 bits and on lone surrogates,
    which take the stdlib path too."""
    if fast:
        try:
            return orjson.dumps(lines).decode()
        except orjson.JSONEncodeError:
            pass
    return json.dumps(lines, ensure_ascii=False, separators=(",", ":"))


def _fits_float(b: list[int]) -> bool:
    """An int bbox's coordinates and center sums all convert to float."""
    try:
        for v in (*b, b[0] + b[2], b[1] + b[3]):
            float(v)
    except OverflowError:
        return False
    return True


def _extract_one(url: str, html: Any, cfg: PipelineConfig) -> dict[str, Any]:
    book_id, page_num = parse_url_book_page(url)

    # fail-soft decode: at 10^12 docs a single corrupt payload must degrade
    # to an (empty, flagged) page, never kill the stage
    parse_ok = True
    if html is None:
        payload: dict[str, Any] = {}
        parse_ok = False
    else:
        try:
            payload = parse_page_payload(html)
        except Exception:
            payload = {}
            parse_ok = False
        if not isinstance(payload, dict):  # valid JSON, wrong shape
            payload = {}
            parse_ok = False
    # a page dimension that is no integer, or one beyond float range (the
    # printed-page geometry divides by it), falls back to its default
    dims = []
    for key, default in (("page_width", 1000), ("page_height", 1400)):
        try:
            v = int(payload.get(key, default))
            float(v)
        except (TypeError, ValueError, OverflowError):
            v, parse_ok = default, False
        dims.append(v)
    page_width, page_height = dims
    scan_relpath = str(payload.get("scan_relpath", ""))

    words = []
    # lines_json may come from orjson only while every admitted confidence
    # prints the same there as in float.__repr__ (0.0 or [1e-4, 1e16)):
    # outside that range orjson writes 1e16 / 0.00001 where json writes
    # 1e+16 / 1e-05, and NaN/inf become null. Words admitted by the
    # admit_word path below always take the stdlib serializer.
    fast_json = True
    raw_words = payload.get("words", [])
    if not isinstance(raw_words, list):
        raw_words = []
        parse_ok = False
    for w in raw_words:
        try:
            b = w["b"]
            t = w.get("t", "")
            c = w.get("c")
            # byte-exact fast path for the dominant well-formed row (str
            # text, numeric conf, 4-int bbox): [int(v) for v in b] is a
            # copy of b (nothing downstream mutates bboxes), str(t).strip()
            # is t.strip(), and admit_word's float()+compares reduce to
            # `not (c < 0)` (NaN conf admits in both forms) + extent checks
            if (
                type(t) is str
                and type(b) is list
                and len(b) == 4
                and type(b[0]) is int
                and type(b[1]) is int
                and type(b[2]) is int
                and type(b[3]) is int
                and (type(c) is float or type(c) is int)
            ):
                ts = t.strip()
                if ts and not (c < 0) and b[2] > b[0] and b[3] > b[1]:
                    c = float(c)
                    if not (1e-4 <= c < 1e16 or c == 0.0):
                        fast_json = False
                    words.append({"text": ts, "bbox": b, "confidence": c})
                continue
            bbox = [int(v) for v in b]
            admitted = admit_word(t, c, bbox[2] - bbox[0], bbox[3] - bbox[1])
        except (TypeError, ValueError, OverflowError, KeyError, IndexError):
            parse_ok = False
            continue
        if admitted:
            fast_json = False
            words.append(
                {"text": str(w["t"]).strip(), "bbox": bbox, "confidence": float(w["c"])}
            )

    try:
        page = _render_page(
            words, page_num, page_width, page_height, scan_relpath, fast_json, cfg
        )
    except OverflowError:
        # admission takes int coordinates unchecked, so one beyond float
        # range (a 400-digit integer) only raises in the geometry. Reject
        # such words here, on the exception edge, instead of paying a
        # per-word check on every well-formed page.
        parse_ok = False
        words = [w for w in words if _fits_float(w["bbox"])]
        page = _render_page(
            words, page_num, page_width, page_height, scan_relpath, fast_json, cfg
        )
    page.update(book_id=book_id, page_num=page_num, scan_relpath=scan_relpath,
                page_width=page_width, page_height=page_height, parse_ok=parse_ok)
    return page


def _render_page(
    words: list[dict[str, Any]],
    page_num: int,
    page_width: int,
    page_height: int,
    scan_relpath: str,
    fast_json: bool,
    cfg: PipelineConfig,
) -> dict[str, Any]:
    """The admitted words → lines, texts, QA and printed-page fields."""
    lines = group_lines(words, page_num, cfg.line_y_tolerance_px)
    raw_text = render_raw_text(lines)
    metrics = compute_text_metrics(lines, trusted_line_text=True)
    garbage = is_garbage_page(metrics, cfg.qa)
    clean = render_page_text(lines) if cfg.clean_text else raw_text
    if garbage:
        extracted = low_quality_placeholder(metrics, scan_relpath)
    else:
        extracted = clean

    pp = {"printed_page": None, "printed_page_text": None, "printed_page_kind": None}
    if cfg.printed_page.detect:
        pp = detect_printed_page(
            words,
            lines,
            page_width=page_width,
            page_height=page_height,
            top_band_frac=cfg.printed_page.top_band_frac,
            min_conf=cfg.printed_page.min_conf,
            roman_min_len=cfg.printed_page.roman_min_len,
            roman_max_value=cfg.printed_page.roman_max_value,
            side=infer_scan_side(scan_relpath),
            max_top_lines=cfg.printed_page.max_top_lines,
            debug=cfg.printed_page.debug,
        )
    # debug artifacts become data (SURVEY §2.10): the reference's
    # deterministic top-10 candidate payload rides as a JSON column
    pp_debug_json = (
        json.dumps(pp["debug"], ensure_ascii=False, separators=(",", ":"))
        if "debug" in pp
        else None
    )

    return {
        "lines_json": _lines_json(lines, fast_json),
        "raw_text": raw_text,
        "clean_text": clean,
        "extracted_text": extracted,
        "char_count": int(metrics["char_count"]),
        "line_count": int(metrics["line_count"]),
        "avg_word_conf": metrics["avg_word_conf"],
        "alpha_ratio": float(metrics["alpha_ratio"]),
        "garbage_ratio": float(metrics["garbage_ratio"]),
        "pipe_ratio": float(metrics["pipe_ratio"]),
        "is_garbage": bool(garbage),
        "printed_page": pp["printed_page"],
        "printed_page_text": pp["printed_page_text"],
        "printed_page_kind": pp["printed_page_kind"],
        "pp_debug_json": pp_debug_json,
    }


# combined output schema for the single-pass extract+lineage stage: a row
# kind marker, the corpus columns (nullable — lineage rows leave them null),
# and the lineage metric columns (null on data rows). config_hash is shared.
_LINEAGE_EXTRA = [
    T.StructField(f.name, f.dataType, True)
    for f in LINEAGE.fields
    if f.name != "config_hash"
]
EXTRACT_COMBINED = T.StructType(
    [T.StructField("row_kind", T.StringType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in CORPUS.fields]
    + _LINEAGE_EXTRA
)

# the kernel's int fields that land in IntegerType columns, with the
# fallback a value outside int32 takes (the kernel's own defaults)
_INT32_FALLBACKS = (("page_num", 0), ("page_width", 1000), ("page_height", 1400))


def extract_pages_with_lineage(
    df: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    run_id: str,
) -> DataFrame:
    """Single-pass extract + per-partition lineage (north-rule requirement,
    SURVEY §2.10): the SAME ``mapInPandas`` that produces corpus rows
    side-accumulates partition metrics and emits one trailing lineage row
    per partition — the input is read exactly once (a separate metrics
    pass would double the read).

    Split the combined frame with ``split_extract_lineage`` (persist the
    combined frame first so both halves share the one materialization).
    """
    from pyspark import TaskContext

    config_hash = cfg.config_hash()
    corpus_cols = [f.name for f in CORPUS.fields]
    extra_cols = [f.name for f in _LINEAGE_EXTRA]
    all_cols = ["row_kind"] + corpus_cols + extra_cols

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time

        t0 = time.monotonic()
        ctx = TaskContext.get()
        pid = int(ctx.partitionId()) if ctx is not None else -1
        rows = 0
        nbytes = 0
        min_url: str | None = None
        max_url: str | None = None
        for pdf in batches:
            # columnar accumulation (dict-of-lists) — noticeably cheaper
            # than pd.DataFrame(list-of-dicts) at batch granularity
            data: dict[str, list[Any]] = {k: [] for k in all_cols}
            for url, warc_ts, html, lang in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"]
            ):
                rows += 1
                nbytes += len(html) if isinstance(html, (bytes, bytearray)) else 0
                nbytes += len(url) if isinstance(url, str) else 0
                nbytes += len(lang) if isinstance(lang, str) else 0
                if isinstance(url, str):
                    min_url = url if min_url is None else min(min_url, url)
                    max_url = url if max_url is None else max(max_url, url)
                rec = _extract_one(url, html, cfg)
                # one out-of-int32 value would fail the whole Arrow batch
                for k, default in _INT32_FALLBACKS:
                    if not -(2**31) <= rec[k] < 2**31:
                        rec[k], rec["parse_ok"] = default, False
                rec["url"] = url
                rec["warc_ts"] = warc_ts
                rec["lang"] = lang
                rec["config_hash"] = config_hash
                rec["row_kind"] = "data"
                for k in extra_cols:
                    rec[k] = None
                for k in all_cols:
                    data[k].append(rec[k])
            yield pd.DataFrame(data, columns=all_cols)
        wall_ms = (time.monotonic() - t0) * 1000.0
        lineage = {k: [None] for k in all_cols}
        lineage.update(
            {
                # synthetic url so the lineage row BUCKETS like data rows —
                # the combined frame can flow through the checkpointed
                # bucket writer unchanged (scripts/run_extract_job.py)
                "url": [f"lineage://extract/{run_id}/{pid}"],
                "row_kind": ["lineage"],
                "config_hash": [config_hash],
                "run_id": [run_id],
                "stage": ["extract"],
                "partition_id": [pid],
                "rows_in": [rows],
                "rows_out": [rows],
                "bytes_in": [nbytes],
                "wall_ms": [wall_ms],
                "min_url": [min_url],
                "max_url": [max_url],
            }
        )
        yield pd.DataFrame(lineage, columns=all_cols)

    src = df.select("url", "warc_ts", "html", "lang")
    if cfg.salt_partitions > 0:
        src = src.repartition(cfg.salt_partitions, F.xxhash64("url"))
    return src.mapInPandas(run, schema=EXTRACT_COMBINED)


def split_extract_lineage(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus, lineage) halves of the combined single-pass output."""
    corpus_cols = [f.name for f in CORPUS.fields]
    lineage_cols = [f.name for f in LINEAGE.fields]
    corpus = combined.filter(F.col("row_kind") == "data").select(*corpus_cols)
    lineage = combined.filter(F.col("row_kind") == "lineage").select(*lineage_cols)
    return corpus, lineage


def extract_pages(df: DataFrame) -> DataFrame:
    """pages → corpus (the full canonical corpus schema) under
    ``DEFAULT_CONFIG``, before the printed-page mode window, which callers
    apply with ``apply_printed_page_mode``. The corpus half of
    ``extract_pages_with_lineage``, not persisted: one Arrow-batched map
    stage, no shuffle. The CLI ``extract`` stage runs
    ``plans.pipeline.run_pipeline`` with its configuration instead."""
    return split_extract_lineage(
        extract_pages_with_lineage(df, DEFAULT_CONFIG, run_id="extract")
    )[0]
