"""Extract-spine tests that need no reference oracle: fail-soft decoding,
partitioning invariance, the per-partition lineage rows, the
printed-page mode switch's broadcast sizing, and the page kernel's fast
paths (pruned line clustering, orjson ``lines_json``) against the plain
forms they replace."""

from __future__ import annotations

import json
import math
import random
from typing import Any

import pytest


def test_malformed_payloads_fail_soft(spark):
    """At 10^12 docs a corrupt payload must degrade to a flagged row, never
    kill the stage — NULL html, truncated JSON, non-dict JSON, words of the
    wrong type, words with broken bboxes, and a page size or page number
    beyond int32 all survive with parse_ok=False; detection skips them
    without error."""
    import datetime as _dt
    import json as _json

    from ocr_obsidian_spark.operators.blocks import detect_blocks
    from ocr_obsidian_spark.operators.extract import extract_pages
    from ocr_obsidian_spark.schemas import PAGES

    ts = _dt.datetime(2020, 1, 1, tzinfo=_dt.timezone.utc)
    good = _json.dumps(
        {"page_width": 1000, "page_height": 1400, "scan_relpath": "s.png",
         "words": [{"t": "Hello", "b": [10, 300, 60, 322], "c": 95.0}]}
    ).encode()
    rows = [
        ("https://x.test/book_b/page_0001", ts, None, "", "eng"),
        ("https://x.test/book_b/page_0002", ts, b"{truncated", "", "eng"),
        ("https://x.test/book_b/page_0003", ts, b"[1,2,3]", "", "eng"),
        ("https://x.test/book_b/page_0004", ts, b'{"words": 42}', "", "eng"),
        ("https://x.test/book_b/page_0005", ts,
         b'{"words": [{"t": "x", "b": [1], "c": 90.0}, {"t": "ok", "b": [0,0,30,20], "c": 90.0}]}',
         "", "eng"),
        ("https://x.test/book_b/page_0006", ts, good, "", "eng"),
        # int32 overflow: the huge page number falls back to page_num 0
        ("https://x.test/book_b/page_0007", ts, b'{"page_width": 1099511627776}', "", "eng"),
        ("https://x.test/book_b/page_0008", ts,
         b'{"page_width": 1180591620717411303424}', "", "eng"),
        ("https://x.test/book_b/page_1099511627776", ts, good, "", "eng"),
    ]
    df = spark.createDataFrame(rows, schema=PAGES)
    out = {r["page_num"]: r for r in extract_pages(df).collect()}
    assert len(out) == 9
    for p in (0, 1, 2, 3, 4, 5, 7, 8):
        assert out[p]["parse_ok"] is False, p
    assert out[7]["page_width"] == out[8]["page_width"] == 1000
    assert out[0]["extracted_text"] == "Hello"
    assert out[6]["parse_ok"] is True
    assert out[6]["extracted_text"] == "Hello"
    # the salvageable word on page 5 still extracts
    assert out[5]["extracted_text"] == "ok"
    # detection skips undecodable/pixel-less pages silently
    assert detect_blocks(df).count() == 0


def test_determinism_across_partitionings(spark, pages_df):
    from ocr_obsidian_spark.operators.extract import extract_pages
    from ocr_obsidian_spark.operators.printed_page import apply_printed_page_mode

    a = apply_printed_page_mode(extract_pages(pages_df.repartition(1)))
    b = apply_printed_page_mode(extract_pages(pages_df.repartition(16)))
    rows_a = {r["url"]: (r["extracted_text"], r["printed_page"]) for r in a.collect()}
    rows_b = {r["url"]: (r["extracted_text"], r["printed_page"]) for r in b.collect()}
    assert rows_a == rows_b


def test_salted_repartition_same_results(spark, pages_df):
    from ocr_obsidian_spark.config import PipelineConfig
    from ocr_obsidian_spark.operators.extract import extract_pages

    cfg = PipelineConfig(salt_partitions=12)
    salted = {r["url"]: r["extracted_text"] for r in extract_pages(pages_df, cfg).collect()}
    plain = {r["url"]: r["extracted_text"] for r in extract_pages(pages_df).collect()}
    assert salted == plain


def test_mode_switch_autosizes_null_broadcast(spark, monkeypatch):
    """Adversarial corpus — every book switches to arabic on page 1, romans
    everywhere after — must not broadcast a null set above the cap: the
    count-first sizing falls back to a regular join. Values are identical
    on both paths (round-2 verdict #7)."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators import xengine
    from ocr_obsidian_spark.operators.printed_page import apply_printed_page_mode

    rows = []
    for b in range(20):
        rows.append((f"b{b}/p0", f"b{b}", 0, 100, "100", "arabic"))
        for p in range(1, 30):
            rows.append((f"b{b}/p{p}", f"b{b}", p, p, "xiv", "roman"))
    corpus = spark.createDataFrame(
        rows,
        "url string, book_id string, page_num int, printed_page int, "
        "printed_page_text string, printed_page_kind string",
    )

    def null_count(df):
        return df.filter(F.col("printed_page").isNull()).count()

    def has_broadcast_hint(df):
        # the explicit driver-side hint is what risks OOM on a truly huge
        # set; AQE may still choose a runtime broadcast from actual sizes,
        # which is exactly the safe behavior the fallback delegates to
        return "strategy=broadcast" in df._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(xengine, "MAX_BROADCAST_ROWS", 10)
    fallback = apply_printed_page_mode(corpus)
    assert not has_broadcast_hint(fallback)
    monkeypatch.undo()
    # the same null set (580 urls) is sparse at the default cap: broadcast
    default = apply_printed_page_mode(corpus)
    assert has_broadcast_hint(default)
    assert null_count(fallback) == null_count(default) == 20 * 29
    # the triggering arabic pages themselves are untouched
    assert fallback.filter(F.col("printed_page_kind") == "arabic").count() == 20


def test_lineage_row_per_partition_including_empty(spark, pages_df):
    """Every map partition emits exactly one lineage row, an empty one
    included (rows_in=0); ``extract_pages`` keeps none of them."""
    from ocr_obsidian_spark.operators.extract import (
        extract_pages,
        extract_pages_with_lineage,
        split_extract_lineage,
    )

    small = pages_df.limit(5)
    n = small.count()
    assert n < 16
    src = small.repartition(16)
    _, lineage = split_extract_lineage(extract_pages_with_lineage(src, run_id="e"))
    lrows = lineage.collect()
    assert len(lrows) == 16
    assert sum(r["rows_in"] for r in lrows) == n
    assert any(r["rows_in"] == 0 and r["min_url"] is None for r in lrows)
    urls = [r["url"] for r in extract_pages(src).collect()]
    assert len(urls) == n
    assert not [u for u in urls if u.startswith("lineage://")]


def test_debug_rides_as_corpus_column(spark, pages_df):
    """Debug artifacts become DATA rows (SURVEY §2.10): run the extract
    stage twice with debug on — the pp_debug_json column must be
    byte-identical per url and structurally sane."""
    import json as _json

    from ocr_obsidian_spark.config import PipelineConfig, PrintedPageConfig
    from ocr_obsidian_spark.operators.extract import extract_pages

    cfg = PipelineConfig(printed_page=PrintedPageConfig(debug=True))
    sample = pages_df.limit(12)
    a = {r["url"]: r["pp_debug_json"] for r in extract_pages(sample, cfg).collect()}
    b = {r["url"]: r["pp_debug_json"] for r in extract_pages(sample.repartition(4), cfg).collect()}
    assert a == b and a
    payloads = [_json.loads(v) for v in a.values() if v]
    assert payloads
    for p in payloads:
        assert set(p) == {"selected", "selected_kind", "arabic_top_candidates", "roman_top_candidates"}
        assert len(p["arabic_top_candidates"]) <= 10
        assert len(p["roman_top_candidates"]) <= 10
    # default config keeps the column null (no payload bloat unless asked)
    off = extract_pages(sample).select("pp_debug_json").distinct().collect()
    assert [r[0] for r in off] == [None]


def _first_match_group_lines(words, page_num, y_tolerance_px):
    """The previous ``geometry.group_lines``, verbatim: the first-match
    search over every cluster ever created (numpy above 48 clusters)."""
    from ocr_obsidian_spark.functions.geometry import bbox_union

    if not words:
        return []

    import numpy as np

    keyed = sorted(
        ((b[1] + b[3]) / 2.0, b[0], i, w)
        for i, w in enumerate(words)
        for b in (w["bbox"],)
    )
    cluster_words: list[list[dict[str, Any]]] = []
    cluster_sum: list[float] = []
    means: np.ndarray | None = None
    means_f: list[float] = []
    k = 0
    tol = float(y_tolerance_px)
    for cy, _, _, w in keyed:
        matched = -1
        if k > 48:
            if means is None:
                means = np.empty(len(keyed), dtype=np.float64)
                means[:k] = means_f
            hit = np.abs(means[:k] - cy) <= tol
            i = int(hit.argmax())
            if hit[i]:
                matched = i
        else:
            for i in range(k):
                if abs(cy - means_f[i]) <= tol:
                    matched = i
                    break
        if matched >= 0:
            wl = cluster_words[matched]
            wl.append(w)
            s = cluster_sum[matched] + cy
            cluster_sum[matched] = s
            m = s / len(wl)
            if means is not None:
                means[matched] = m
            means_f[matched] = m
        else:
            cluster_words.append([w])
            cluster_sum.append(cy)
            if means is not None:
                means[k] = cy
            means_f.append(cy)
            k += 1

    order = sorted(range(k), key=means_f.__getitem__)
    lines: list[dict[str, Any]] = []
    for idx, ci in enumerate(order, start=1):
        ws = sorted(cluster_words[ci], key=lambda w: w["bbox"][0])
        lines.append(
            {
                "line_id": f"p{page_num}_l{idx}",
                "bbox": bbox_union([w["bbox"] for w in ws]),
                "words": ws,
                "text": " ".join([str(w["text"]) for w in ws]),
            }
        )
    return lines


def _random_page(rng: random.Random, tol: int) -> list[dict[str, Any]]:
    """Rows of words whose centers sit on, inside and just outside a row's
    mean ± tol, with x ties, over few or many (> 48) rows, optionally
    shifted beyond 2^53 where float centers round."""
    off = rng.choice([0, 0, 0, 2**53 + 1, 2**53 + rng.randrange(1, 64), 2**60, -(2**54)])
    words = []
    y = 0
    for _ in range(rng.choice([1, 5, 30, 49, 50, 200])):
        for _ in range(rng.randrange(1, 7)):
            dy = rng.choice([0, 0, 1, -1, tol, -tol, 2 * tol, tol + 1, 2 * tol + 1])
            h = rng.choice([2, 22, 23])
            x = rng.choice([10, 10, 50, rng.randrange(0, 900)])
            words.append(
                {
                    "text": rng.choice(["a", "b", "xiv", "12"]),
                    "bbox": [x + off, y + dy + off, x + 30 + off, y + dy + h + off],
                    "confidence": 90.0,
                }
            )
        y += rng.choice([1, tol, tol + 1, 2 * tol, 40])
    rng.shuffle(words)
    return words


@pytest.mark.parametrize("tol", [0, 3, 14])
def test_group_lines_equals_first_match_search(tol):
    """Pruning dead clusters leaves every page's lines identical to the
    first-match search over all clusters (same lines, order, words, ids)."""
    from ocr_obsidian_spark.functions.geometry import group_lines

    rng = random.Random(f"group_lines/{tol}")
    many = 0
    for _ in range(400):
        words = _random_page(rng, tol)
        want = _first_match_group_lines(words, 3, tol)
        assert group_lines(words, 3, tol) == want
        many += len(want) > 48
    assert many > 20  # the old numpy branch was exercised


def _std_json(obj: Any) -> str:
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


_EDGE_CONF = [
    0.0, -0.0, 1e-4, math.nextafter(1e-4, 0.0), math.nextafter(1e-4, 1.0),
    1e16, math.nextafter(1e16, 0.0), 10**16 - 1, 5e-324, 1e300, 95, 95.5,
    math.nan, math.inf,
]
_EDGE_TEXT = [
    "plain", "\U0001f600\U0001d518", "\x00\x01\x08\x0c\x1f\x7f\x85", "x\u2028y\u2029z",
    'q"b\\s/', "\ud800x", "naïve",
]


@pytest.mark.parametrize("conf", _EDGE_CONF, ids=repr)
@pytest.mark.parametrize("text", _EDGE_TEXT, ids=ascii)
def test_lines_json_bytes_at_guard_edges(conf, text):
    """``lines_json`` is byte-identical to the stdlib form at the edges of
    the orjson guard (confidences, non-BMP, control and surrogate text)."""
    from ocr_obsidian_spark.config import DEFAULT_CONFIG
    from ocr_obsidian_spark.functions.geometry import group_lines
    from ocr_obsidian_spark.operators.extract import _extract_one

    raw = [
        {"t": "head", "b": [10, 300, 60, 322], "c": 90.0},
        {"t": text, "b": [70, 301, 140, 323], "c": conf},
        {"t": "tail", "b": [10, 400, 60, 422], "c": 88.25},
    ]
    payload = json.dumps({"words": raw}).encode("ascii")
    rec = _extract_one("https://x.test/book_b/page_0001", payload, DEFAULT_CONFIG)
    admitted = [
        {"text": w["t"].strip(), "bbox": w["b"], "confidence": float(w["c"])}
        for w in raw
    ]
    assert rec["lines_json"] == _std_json(group_lines(admitted, 1, 14))


@pytest.mark.parametrize(
    "value",
    [2**63 - 1, 2**63, 2**64 - 1, 2**64, -(2**63), -(2**63) - 1, 2**70,
     "\ud800", "\U0001f600\x00", 0.1, 1e-4, 9999999999999998.0, -0.0],
    ids=repr,
)
def test_lines_json_helper_falls_back_byte_identically(value):
    """Values orjson cannot write (ints beyond 64 bits, lone surrogates)
    take the stdlib path; the rest match it byte for byte."""
    from ocr_obsidian_spark.operators.extract import _lines_json

    lines = [{"line_id": "p1_l1", "bbox": [value, 0], "words": [{"x": value}], "text": "t"}]
    assert _lines_json(lines, True) == _lines_json(lines, False) == _std_json(lines)
