"""Geometry + span-selection unit tests (reference ingest/test_spans.py,
test_highlights.py cases) and oracle fuzz against the reference span
functions (the ``reference`` fixture, PIL stubbed — see conftest)."""

from __future__ import annotations

import random

from ocr_obsidian_spark.functions.geometry import (
    bbox_union,
    build_page_spans,
    group_lines,
    passes_block_shape_filters,
    select_line_indexes,
)


def _line(i, y, x1=50, x2=800):
    return {"line_id": f"p1_l{i}", "bbox": [x1, y, x2, y + 20]}


LINES = [_line(i, 100 + 40 * i) for i in range(1, 11)]
KW = dict(min_overlap_frac=0.02, min_x_overlap_px=40, max_overlap_lines=8)


def test_vertical_stripe_selects_exactly_one_line():
    # mirrors reference test_spans.py:9-26 — a tall skinny stripe overlapping
    # many lines by a sliver must fall back/cap to ONE nearest line
    stripe = [45, 100, 55, 500]  # 10px wide → overlap frac tiny, x-overlap < 40
    idxs = select_line_indexes(LINES, stripe, **KW)
    assert len(idxs) == 1


def test_full_overlap_selects_matching_lines(reference):
    oracle_select = reference("spans")._select_line_indexes
    trigger = [40, 135, 820, 245]  # covers lines 2-4 y ranges
    idxs = select_line_indexes(LINES, trigger, **KW)
    assert idxs == oracle_select(LINES, trigger, **KW)
    assert len(idxs) >= 2


def test_shape_filter_rejects_tall_skinny_edge():
    # mirrors reference test_highlights.py:9-18
    assert not passes_block_shape_filters(
        [2, 150, 22, 900], page_width=1000, page_height=1400,
        edge_margin_px=25, max_hw_ratio=3.0, max_height_frac=0.15,
    )


def test_shape_filter_keeps_horizontal_block():
    # mirrors reference test_highlights.py:20-29
    assert passes_block_shape_filters(
        [100, 300, 500, 340], page_width=1000, page_height=1400,
        edge_margin_px=25, max_hw_ratio=3.0, max_height_frac=0.15,
    )


def test_span_merge_first_seen_order_and_union():
    triggers = [[40, 135, 820, 165], [45, 140, 825, 170]]  # same lines → merge
    spans = build_page_spans(
        LINES, triggers, 1, k_before=2, k_after=2, **KW
    )
    assert len(spans) == 1
    assert spans[0]["span_id"] == "p1_s1"
    assert len(spans[0]["trigger_bboxes"]) == 2


def test_span_ids_number_in_first_seen_order():
    triggers = [[40, 420, 820, 450], [40, 100, 820, 130]]
    spans = build_page_spans(LINES, triggers, 3, k_before=1, k_after=1, **KW)
    assert [s["span_id"] for s in spans] == ["p3_s1", "p3_s2"]
    # first trigger (lower on page) owns s1 — insertion order, not y order
    assert spans[0]["line_ids"][0] != "p3_l1"


def test_select_fuzz_against_reference(reference):
    oracle_select = reference("spans")._select_line_indexes
    rng = random.Random(5)
    for _ in range(1500):
        lines = [
            _line(i, rng.randrange(50, 1300), x1=rng.randrange(0, 100),
                  x2=rng.randrange(200, 1000))
            for i in range(1, rng.randrange(2, 12))
        ]
        t = sorted(rng.sample(range(0, 1400), 2))
        x = sorted(rng.sample(range(0, 1000), 2))
        trigger = [x[0], t[0], x[1], t[1]]
        assert select_line_indexes(lines, trigger, **KW) == oracle_select(
            lines, trigger, **KW
        )


def test_merge_fuzz_against_reference(reference):
    oracle_merge = reference("spans")._merge_raw_spans
    rng = random.Random(6)
    for _ in range(500):
        raw = []
        for _ in range(rng.randrange(0, 8)):
            ids = [f"l{k}" for k in sorted(rng.sample(range(6), rng.randrange(1, 4)))]
            raw.append(
                {
                    "page_num": 1,
                    "line_ids": ids,
                    "trigger_bboxes": [[rng.randrange(50), 0, rng.randrange(50, 99), 9]],
                    "span_bbox": [0, 0, rng.randrange(1, 99), rng.randrange(1, 99)],
                }
            )
        ours_input = [dict(s) for s in raw]
        theirs_input = [dict(s) for s in raw]
        theirs = oracle_merge(theirs_input)
        # our merge is embedded in build_page_spans; replicate via the same
        # key-grouping on dict ordering
        merged: dict[tuple, dict] = {}
        for span in ours_input:
            key = tuple(span["line_ids"])
            if key in merged:
                prev = merged[key]
                prev["trigger_bboxes"] = prev["trigger_bboxes"] + span["trigger_bboxes"]
                prev["span_bbox"] = bbox_union([prev["span_bbox"], span["span_bbox"]])
            else:
                merged[key] = dict(span)
        assert list(merged.values()) == theirs


def test_group_lines_cluster_and_order():
    words = [
        {"text": "b", "bbox": [50, 102, 80, 122], "confidence": 90.0},
        {"text": "a", "bbox": [10, 100, 40, 120], "confidence": 90.0},
        {"text": "c", "bbox": [10, 160, 40, 180], "confidence": 90.0},
    ]
    lines = group_lines(words, 4, y_tolerance_px=14)
    assert [ln["line_id"] for ln in lines] == ["p4_l1", "p4_l2"]
    assert lines[0]["text"] == "a b"
    assert lines[0]["bbox"] == [10, 100, 80, 122]
