"""Block-salience detection: numpy morphology/components vs independent
naive oracles, detection semantics ports of reference test_highlights.py,
and the spans pipeline driven end-to-end from DETECTED candidates (not
fixture-provided ones) against the reference span oracle."""

from __future__ import annotations

import json
import random

import numpy as np
import pytest

from ocr_obsidian_spark.config import DEFAULT_CONFIG
from ocr_obsidian_spark.operators.blocks import (
    PAPER_HSV,
    binary_dilate,
    binary_erode,
    classify_text_blocks,
    connected_components,
    detect_blocks,
    detect_page_candidates,
    morph_close_open,
    rasterize_page_pixels,
)


# ---------------------------------------------------------------------------
# numpy primitives vs naive oracles
# ---------------------------------------------------------------------------

def _naive_dilate(m: np.ndarray, k: int) -> np.ndarray:
    r = k // 2
    h, w = m.shape
    pad = np.zeros((h + 2 * r, w + 2 * r), dtype=bool)
    pad[r : r + h, r : r + w] = m
    out = np.zeros_like(m)
    for y in range(h):
        for x in range(w):
            out[y, x] = pad[y : y + k, x : x + k].any()
    return out


def _naive_erode(m: np.ndarray, k: int) -> np.ndarray:
    # outside-image counts as foreground (cv2 default border for erode)
    r = k // 2
    h, w = m.shape
    pad = np.ones((h + 2 * r, w + 2 * r), dtype=bool)
    pad[r : r + h, r : r + w] = m
    out = np.zeros_like(m)
    for y in range(h):
        for x in range(w):
            out[y, x] = pad[y : y + k, x : x + k].all()
    return out


def _flood_components(mask: np.ndarray) -> set[frozenset]:
    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    comps = set()
    for y in range(h):
        for x in range(w):
            if mask[y, x] and not seen[y, x]:
                stack = [(y, x)]
                seen[y, x] = True
                pix = []
                while stack:
                    cy, cx = stack.pop()
                    pix.append((cy, cx))
                    for dy in (-1, 0, 1):
                        for dx in (-1, 0, 1):
                            ny, nx = cy + dy, cx + dx
                            if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and not seen[ny, nx]:
                                seen[ny, nx] = True
                                stack.append((ny, nx))
                comps.add(frozenset(pix))
    return comps


def _runs_to_pixels(comp_runs) -> frozenset:
    return frozenset((r, x) for r, x1, x2 in comp_runs for x in range(x1, x2))


@pytest.mark.parametrize("seed", range(12))
def test_morphology_fuzz_vs_naive(seed):
    rng = np.random.default_rng(seed)
    m = rng.random((26, 34)) < 0.35
    for k in (3, 5):
        assert (binary_dilate(m, k) == _naive_dilate(m, k)).all()
        assert (binary_erode(m, k) == _naive_erode(m, k)).all()


@pytest.mark.parametrize("seed", range(12))
def test_connected_components_fuzz_vs_flood_fill(seed):
    rng = np.random.default_rng(100 + seed)
    m = rng.random((30, 40)) < 0.3
    got = {_runs_to_pixels(c) for c in connected_components(m)}
    assert got == _flood_components(m)


def test_component_order_is_raster_first_pixel():
    m = np.zeros((20, 20), dtype=bool)
    m[10:12, 2:6] = True   # second by raster order (row 10)
    m[3:5, 14:18] = True   # first (row 3)
    comps = connected_components(m)
    firsts = [min((r, x1) for r, x1, _ in c) for c in comps]
    assert firsts == sorted(firsts)
    assert firsts[0][0] == 3


# ---------------------------------------------------------------------------
# detection semantics (reference highlights.py:107-155 cases)
# ---------------------------------------------------------------------------

def _canvas(strokes):
    payload = {"page_width": 1000, "page_height": 1400, "strokes": strokes}
    return rasterize_page_pixels(payload)


def test_detects_solid_stroke_exact_bbox_area_and_color():
    hsv = _canvas([{"bbox": [100, 300, 360, 330], "hsv": [40, 120, 200]}])
    cands = detect_page_candidates(hsv)
    assert len(cands) == 1
    c = cands[0]
    assert c["bbox"] == [100, 300, 360, 330]
    assert c["area"] == 260 * 30
    assert c["color_stats"] == {"h_mean": 40.0, "s_mean": 120.0, "v_mean": 200.0}


def test_rejects_sub_min_area_and_out_of_range():
    hsv = _canvas(
        [
            {"bbox": [600, 150, 610, 160], "hsv": [45, 130, 220]},   # area 100 < 120
            {"bbox": [500, 60, 620, 100], "hsv": [110, 180, 220]},   # hue 110 > 95
            {"bbox": [200, 500, 300, 540], "hsv": [30, 10, 240]},    # sat 10 < 20
        ]
    )
    assert detect_page_candidates(hsv) == []


def test_frame_crop_zeroes_margin_pixels():
    # stripe inside the 2% margin: pixel-space zeroing truncates it to a
    # 2px sliver which the shape gate then rejects (reference semantics —
    # the mask is reshaped, not the bbox)
    hsv = _canvas([{"bbox": [2, 150, 22, 900], "hsv": [20, 150, 200]}])
    assert detect_page_candidates(hsv) == []
    # same stroke moved inside the frame: detected (shape still rejects a
    # 20px-wide 750px-tall stripe) — prove crop vs shape independently with
    # a wide block half-in the margin
    hsv2 = _canvas([{"bbox": [0, 300, 200, 360], "hsv": [20, 150, 200]}])
    cands = detect_page_candidates(hsv2)
    assert len(cands) == 1
    assert cands[0]["bbox"][0] == 20  # left edge truncated at the crop line


def test_near_edge_tall_block_rejected_port():
    """Port of reference test_highlights.py:9-18 at detection level: the
    near-vertical-edge rule rejects a block that passes ratio + height."""
    hsv = _canvas([{"bbox": [4, 300, 80, 460], "hsv": [30, 140, 210]}])
    assert detect_page_candidates(hsv) == []


def test_horizontal_block_kept_port():
    """Port of reference test_highlights.py:20-29: a reasonable horizontal
    component survives all gates."""
    hsv = _canvas([{"bbox": [200, 300, 500, 350], "hsv": [40, 120, 200]}])
    cands = detect_page_candidates(hsv)
    assert len(cands) == 1 and cands[0]["bbox"] == [200, 300, 500, 350]


def test_close_bridges_sub_kernel_gap():
    hsv = _canvas(
        [
            {"bbox": [300, 1160, 360, 1190], "hsv": [35, 110, 190]},
            {"bbox": [364, 1160, 420, 1190], "hsv": [35, 110, 190]},
        ]
    )
    cands = detect_page_candidates(hsv)
    assert len(cands) == 1
    assert cands[0]["bbox"] == [300, 1160, 420, 1190]


def test_open_removes_speckles():
    specks = [
        {"bbox": [x, y, x + 2, y + 2], "hsv": [50, 150, 210]}
        for x, y in [(100, 100), (500, 700), (900, 1300), (40, 1200)]
    ]
    hsv = _canvas(specks)
    assert detect_page_candidates(hsv) == []


def test_detection_deterministic_run_twice():
    rng = random.Random(5)
    strokes = [
        {
            "bbox": [
                rng.randrange(30, 800),
                (y := rng.randrange(100, 1300)),
                rng.randrange(830, 980),
                y + rng.randrange(20, 60),
            ],
            "hsv": [rng.randrange(15, 96), rng.randrange(20, 256), rng.randrange(80, 256)],
        }
        for _ in range(8)
    ]
    a = detect_page_candidates(_canvas(strokes))
    b = detect_page_candidates(_canvas(strokes))
    assert a == b


# ---------------------------------------------------------------------------
# Spark operator + e2e spans from DETECTED candidates
# ---------------------------------------------------------------------------

def _driver_side_detection(fixture_pages):
    out = {}
    for row in fixture_pages:
        payload = json.loads(bytes(row["html"]).decode("utf-8"))
        hsv = rasterize_page_pixels(payload)
        if hsv is None:
            continue
        cands = detect_page_candidates(hsv)
        if cands:
            out[row["url"]] = cands
    return out


@pytest.fixture(scope="module")
def detected_oracle(fixture_pages):
    return _driver_side_detection(fixture_pages)


def test_detect_blocks_matches_driver_side(spark, pages_df, detected_oracle):
    got = {
        r["url"]: [c.asDict(recursive=True) for c in r["candidates"]]
        for r in detect_blocks(pages_df).collect()
    }
    assert set(got) == set(detected_oracle)
    for url, exp in detected_oracle.items():
        assert got[url] == exp, url


def test_spans_e2e_from_detected_candidates(
    spark, pages_df, fixture_pages, detected_oracle, reference
):
    """The full spans path driven from raw pages alone (triggers detected
    from the same pages) must match the REFERENCE span functions applied
    to the detected candidates — the half of the pipeline VERDICT r1
    flagged as unable to run from raw input."""
    from ocr_obsidian_spark.operators.emit import emit_notes
    from ocr_obsidian_spark.operators.spans_op import make_spans
    from ocr_obsidian_spark.plans.pipeline import run_pipeline

    oracle_group = reference("ocr")._group_lines
    OcrWord = reference("types").OcrWord
    to_jsonable = reference("types").to_jsonable
    oracle_union = reference("spans")._bbox_union
    oracle_merge = reference("spans")._merge_raw_spans
    oracle_select = reference("spans")._select_line_indexes

    cfg = DEFAULT_CONFIG
    corpus = run_pipeline(pages_df, run_id="det-run").corpus
    spans = make_spans(corpus, detect_blocks(pages_df, cfg), cfg)
    got_spans = {r["url"]: r.asDict(recursive=True) for r in spans.collect()}

    # oracle: reference line grouping + span selection over detected cands
    s, exp_spans = cfg.spans, {}
    for row in fixture_pages:
        url = row["url"]
        cands = detected_oracle.get(url)
        if not cands:
            continue
        payload = json.loads(bytes(row["html"]).decode("utf-8"))
        words = []
        for w in payload["words"]:
            text = str(w["t"]).strip()
            if not text or float(w["c"]) < 0:
                continue
            x1, y1, x2, y2 = (int(v) for v in w["b"])
            if x2 - x1 <= 0 or y2 - y1 <= 0:
                continue
            words.append(OcrWord(text=text, bbox=[x1, y1, x2, y2], confidence=float(w["c"])))
        page_num = int(url.rsplit("_", 1)[1])
        lines = [to_jsonable(ln) for ln in oracle_group(words, page_num, cfg.line_y_tolerance_px)]
        if not lines:
            continue
        raw = []
        for cand in cands:
            trigger = [int(v) for v in cand["bbox"]]
            idxs = oracle_select(
                lines, trigger,
                min_overlap_frac=s.min_overlap_frac,
                min_x_overlap_px=s.min_x_overlap_px,
                max_overlap_lines=s.max_overlap_lines,
            )
            anchor = sorted(idxs)[len(idxs) // 2]
            lo = max(0, anchor - s.k_before)
            hi = min(len(lines) - 1, anchor + s.k_after)
            sel = lines[lo : hi + 1]
            raw.append(
                {
                    "page_num": page_num,
                    "line_ids": [ln["line_id"] for ln in sel],
                    "trigger_bboxes": [trigger],
                    "span_bbox": oracle_union([ln["bbox"] for ln in sel]),
                }
            )
        if raw:
            exp_spans[url] = [
                {**m, "span_id": f"p{page_num}_s{i}"}
                for i, m in enumerate(oracle_merge(raw), start=1)
            ]

    assert set(got_spans) == set(exp_spans)
    for url, exp in exp_spans.items():
        got = got_spans[url]["spans"]
        assert len(got) == len(exp), url
        for g, e in zip(got, exp):
            assert g["span_id"] == e["span_id"], url
            assert list(g["line_ids"]) == list(e["line_ids"]), url
            assert [list(t) for t in g["trigger_bboxes"]] == e["trigger_bboxes"], url
            assert list(g["span_bbox"]) == list(e["span_bbox"]), url
    # notes flow downstream of detected spans too
    assert emit_notes(corpus, spans, cfg, run_id="det-run").count() > 0


# ---------------------------------------------------------------------------
# web-graft text-density classifier
# ---------------------------------------------------------------------------

def test_detect_blocks_fail_soft_on_malformed_strokes(spark):
    """Wrong-shaped stroke layers degrade per page, never kill the stage."""
    import datetime as _dt
    import json as _json

    from ocr_obsidian_spark.schemas import PAGES

    ts = _dt.datetime(2020, 1, 1, tzinfo=_dt.timezone.utc)
    ok = _json.dumps(
        {"page_width": 1000, "page_height": 1400,
         "strokes": [{"bbox": [100, 300, 360, 340], "hsv": [40, 120, 200]}]}
    ).encode()
    rows = [
        ("https://x.test/p1", ts, b'{"strokes": 42}', "", "eng"),
        ("https://x.test/p2", ts, b'{"strokes": [{"bad": 1}]}', "", "eng"),
        ("https://x.test/p3", ts, b'{"strokes": [{"bbox": [1,2], "hsv": [1]}]}', "", "eng"),
        ("https://x.test/p4", ts, ok, "", "eng"),
    ]
    out = detect_blocks(spark.createDataFrame(rows, schema=PAGES)).collect()
    assert [r["url"] for r in out] == ["https://x.test/p4"]
    assert len(out[0]["candidates"]) == 1


def test_classify_text_blocks_features_and_gate(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and keeps running "
            "through fields of golden wheat toward the river bend at dusk"),
        (2, "nav http://x.io/a http://x.io/b www.spam.com http://x.io/c home"),
        (3, "ok"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_id"], r["block_idx"]): r.asDict() for r in classify_text_blocks(df).collect()}
    # doc 1: 23 tokens → blocks 0 (20 toks) and 1 (3 toks)
    assert out[(1, 0)]["n_tokens"] == 20 and out[(1, 0)]["is_content"]
    assert out[(1, 1)]["n_tokens"] == 3 and not out[(1, 1)]["is_content"]
    # doc 2: 4/6 link tokens → link_density > 0.3 → boilerplate
    assert out[(2, 0)]["link_density"] == pytest.approx(4 / 6, abs=1e-6)
    assert not out[(2, 0)]["is_content"]
    # doc 3: below min_tokens
    assert not out[(3, 0)]["is_content"]
    # doc 4 (NULL): no non-empty block rows
    assert not any(k[0] == 4 for k in out)


def test_even_kernel_rejected():
    """Even kernel sizes silently diverge from the reference center-anchored
    morphology — they must error, in the kernel and at config parse."""
    from ocr_obsidian_spark.config import ConfigError, pipeline_config_from_dict

    m = np.zeros((5, 5), dtype=bool)
    with pytest.raises(ValueError, match="odd"):
        binary_dilate(m, 4)
    with pytest.raises(ValueError, match="odd"):
        binary_erode(m, 0)
    with pytest.raises(ConfigError, match="kernel_size"):
        pipeline_config_from_dict({"blocks": {"kernel_size": 4}})
    assert pipeline_config_from_dict({"blocks": {"kernel_size": 7}}).blocks.kernel_size == 7
