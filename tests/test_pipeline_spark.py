"""End-to-end Spark pipeline vs a driver-side oracle built from the
reference's own functions (the ``reference`` fixture, PIL stubbed).

The north-rule invariant: extracted text is BYTE-IDENTICAL per url to what
the reference renderer produces for the same token stream; printed-page
fields (including the cross-page mode switch) and spans match exactly.
"""

from __future__ import annotations

import json

import pytest

from ocr_obsidian_spark.config import DEFAULT_CONFIG
from ocr_obsidian_spark.operators.emit import emit_notes
from ocr_obsidian_spark.operators.spans_op import make_spans
from ocr_obsidian_spark.plans.pipeline import run_pipeline


def _oracle_tokens(row, OcrWord):
    payload = json.loads(row["html"].decode("utf-8"))
    words = []
    for w in payload["words"]:
        text = str(w["t"]).strip()
        if not text:
            continue
        try:
            conf = float(w["c"])
        except (TypeError, ValueError):
            continue
        if conf < 0:
            continue
        x1, y1, x2, y2 = (int(v) for v in w["b"])
        if x2 - x1 <= 0 or y2 - y1 <= 0:
            continue
        words.append(OcrWord(text=text, bbox=[x1, y1, x2, y2], confidence=conf))
    return payload, words


def _book_page(url: str) -> tuple[str, int]:
    part = url.split("/book_", 1)[1]
    book, page = part.split("/page_")
    return book, int(page)


@pytest.fixture(scope="module")
def oracle_state(fixture_pages, fixture_triggers, reference):
    """Reference pipeline run driver-side, sequentially per book."""
    oracle_shape = reference("highlights")._passes_candidate_shape_filters
    oracle_group = reference("ocr")._group_lines
    page_numbers = reference("page_numbers")
    oracle_mode = page_numbers.apply_printed_page_mode
    oracle_detect = page_numbers.detect_printed_page
    oracle_side = page_numbers.infer_scan_side
    oracle_metrics = reference("qa_metrics").compute_text_metrics
    oracle_gate = reference("qa_metrics").is_obviously_empty_or_garbage
    oracle_render = reference("render_text").render_lines
    oracle_union = reference("spans")._bbox_union
    oracle_merge = reference("spans")._merge_raw_spans
    oracle_select = reference("spans")._select_line_indexes
    OcrWord = reference("types").OcrWord
    PageRecord = reference("types").PageRecord
    to_jsonable = reference("types").to_jsonable
    cfg = DEFAULT_CONFIG
    by_book: dict[str, list[dict]] = {}
    for row in fixture_pages:
        book, page = _book_page(row["url"])
        by_book.setdefault(book, []).append(row)
    for rows in by_book.values():
        rows.sort(key=lambda r: _book_page(r["url"])[1])

    corpus: dict[str, dict] = {}
    for book, rows in by_book.items():
        mode = "auto"
        for row in rows:
            _, page_num = _book_page(row["url"])
            payload, words = _oracle_tokens(row, OcrWord)
            lines = oracle_group(words, page_num, cfg.line_y_tolerance_px)
            line_dicts = [to_jsonable(ln) for ln in lines]
            page_rec = PageRecord(
                book_id=book, page_num=page_num,
                scan_relpath=payload["scan_relpath"], ocr_engine="synthetic",
                config={}, words=words, lines=lines,
            )
            raw_result, _dbg = oracle_detect(
                page_rec,
                page_width=payload["page_width"],
                page_height=payload["page_height"],
                side=oracle_side(payload["scan_relpath"]),
            )
            result, mode = oracle_mode(
                raw_result, "arabic" if mode == "arabic" else "auto",
                arabic_switch_min=cfg.printed_page.arabic_switch_min,
            )
            metrics = oracle_metrics(line_dicts)
            if oracle_gate(metrics):
                avg = metrics.get("avg_word_conf")
                avg_text = "n/a" if avg is None else f"{float(avg):.1f}"
                extracted = (
                    f"OCR LOW QUALITY (avg_conf={avg_text}, "
                    f"garbage={float(metrics['garbage_ratio']):.3f}). "
                    f"See scan: {payload['scan_relpath']}"
                )
            else:
                extracted = oracle_render(line_dicts)
            corpus[row["url"]] = {
                "extracted": extracted,
                "printed_page": result.get("printed_page"),
                "printed_page_kind": result.get("printed_page_kind"),
                "lines": line_dicts,
                "page_num": page_num,
                "page_width": payload["page_width"],
                "page_height": payload["page_height"],
            }

    spans: dict[str, list[dict]] = {}
    s = cfg.spans
    b = cfg.blocks
    for trow in fixture_triggers:
        page = corpus.get(trow["url"])
        if page is None or not page["lines"]:
            continue
        kept = [
            [int(v) for v in c["bbox"]]
            for c in trow["candidates"]
            if c["area"] >= b.min_area
            and oracle_shape(
                list(c["bbox"]),
                page_width=page["page_width"], page_height=page["page_height"],
                edge_margin_px=b.edge_margin_px, max_hw_ratio=b.max_hw_ratio,
                max_height_frac=b.max_height_frac,
            )
        ]
        raw = []
        for trigger in kept:
            idxs = oracle_select(
                page["lines"], trigger,
                min_overlap_frac=s.min_overlap_frac,
                min_x_overlap_px=s.min_x_overlap_px,
                max_overlap_lines=s.max_overlap_lines,
            )
            anchor = sorted(idxs)[len(idxs) // 2]
            lo = max(0, anchor - s.k_before)
            hi = min(len(page["lines"]) - 1, anchor + s.k_after)
            sel = page["lines"][lo : hi + 1]
            raw.append(
                {
                    "page_num": page["page_num"],
                    "line_ids": [ln["line_id"] for ln in sel],
                    "trigger_bboxes": [trigger],
                    "span_bbox": oracle_union([ln["bbox"] for ln in sel]),
                }
            )
        if raw:
            merged = oracle_merge(raw)
            spans[trow["url"]] = [
                {**m, "span_id": f"p{page['page_num']}_s{i}"}
                for i, m in enumerate(merged, start=1)
            ]
    return corpus, spans


@pytest.fixture(scope="module")
def pipeline_result(spark, pages_df, triggers_df):
    res = run_pipeline(pages_df, DEFAULT_CONFIG, run_id="test-run")
    span_df = make_spans(res.corpus, triggers_df, DEFAULT_CONFIG)
    corpus = {r["url"]: r.asDict() for r in res.corpus.collect()}
    spans = {r["url"]: r.asDict(recursive=True) for r in span_df.collect()}
    notes = [
        r.asDict()
        for r in emit_notes(res.corpus, span_df, DEFAULT_CONFIG, run_id="test-run").collect()
    ]
    return corpus, spans, notes


def test_extracted_text_byte_identical_per_url(oracle_state, pipeline_result):
    oracle_corpus, _ = oracle_state
    corpus, _, _ = pipeline_result
    assert set(corpus) == set(oracle_corpus)
    mismatches = [
        url
        for url in oracle_corpus
        if corpus[url]["extracted_text"] != oracle_corpus[url]["extracted"]
    ]
    assert mismatches == []


def test_printed_page_mode_switch_matches(oracle_state, pipeline_result):
    oracle_corpus, _ = oracle_state
    corpus, _, _ = pipeline_result
    for url, exp in oracle_corpus.items():
        got = corpus[url]
        assert got["printed_page"] == exp["printed_page"], url
        assert got["printed_page_kind"] == exp["printed_page_kind"], url
    # the fixture's scripted switch page: roman on page 5 of book b00 nulled
    assert corpus["https://fixture.test/book_b00/page_0005"]["printed_page"] is None


def test_spans_match_oracle(oracle_state, pipeline_result):
    _, oracle_spans = oracle_state
    _, spans, _ = pipeline_result
    assert set(spans) == set(oracle_spans)
    for url, exp in oracle_spans.items():
        got = spans[url]["spans"]
        assert len(got) == len(exp), url
        for g, e in zip(got, exp):
            assert g["span_id"] == e["span_id"], url
            assert list(g["line_ids"]) == list(e["line_ids"]), url
            assert [list(t) for t in g["trigger_bboxes"]] == e["trigger_bboxes"], url
            assert list(g["span_bbox"]) == list(e["span_bbox"]), url


def test_notes_emitted_and_valid(pipeline_result):
    _, spans, notes = pipeline_result
    assert len(notes) > 0
    n_spans = sum(len(s["spans"]) for s in spans.values())
    assert len(notes) <= n_spans  # blank quotes skipped
    seen_paths = set()
    for n in notes:
        assert n["note_content"].startswith("---\n")
        assert "## Quote" in n["note_content"]
        assert n["quote_text"].strip()
        sidecar = json.loads(n["sidecar_json"])
        assert sidecar["span_id"] == n["span_id"]
        assert n["note_path"] not in seen_paths
        seen_paths.add(n["note_path"])
