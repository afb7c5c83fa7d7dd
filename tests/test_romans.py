"""Printed-page detection unit tests, ported from the reference's
ingest/test_page_numbers.py cases, plus a fuzz oracle comparison against the
reference detector."""

from __future__ import annotations

import random

from ocr_obsidian_spark.functions.romans import (
    detect_printed_page,
    infer_scan_side,
    is_plausible_roman,
    roman_to_int,
)


def test_roman_parser_strict():
    assert roman_to_int("xiv") == 14
    assert roman_to_int("XXXV") == 35
    assert roman_to_int("iix") is None
    assert roman_to_int("vx") is None
    assert roman_to_int("") is None
    assert roman_to_int("mmmm") == 4000
    assert roman_to_int("mmmmm") is None


def test_roman_plausibility():
    assert is_plausible_roman("xiv", min_len=2, max_value=80)
    assert not is_plausible_roman("m", min_len=2, max_value=80)  # too short
    assert not is_plausible_roman("c", min_len=1, max_value=80)  # value 100 > 80


def test_roman_fuzz_against_reference(reference):
    oracle_roman = reference("page_numbers").roman_to_int
    rng = random.Random(7)
    alphabet = "ivxlcdmIVXLCDM abq.,0-"
    for _ in range(5000):
        s = "".join(rng.choices(alphabet, k=rng.randrange(0, 9)))
        assert roman_to_int(s) == oracle_roman(s), s


def test_infer_scan_side():
    assert infer_scan_side("scans/page_004_l.png") == "left"
    assert infer_scan_side("page_004_R.PNG") == "right"
    assert infer_scan_side("page_004.png") == "neutral"


def _word(text, x, y, conf=90.0, w=30, h=20):
    return {"text": text, "bbox": [x, y, x + w, y + h], "confidence": conf}


def _mk_page_dicts(words, lines=None):
    return words, (lines or [])


def test_arabic_top_right_preferred_on_right_page():
    words = [_word("14", 900, 20), _word("14", 20, 20)]
    res = detect_printed_page(
        words, [], page_width=1000, page_height=1400, side="right"
    )
    assert res["printed_page"] == 14
    assert res["printed_page_kind"] == "arabic"


def test_low_conf_candidates_ignored():
    words = [_word("14", 900, 20, conf=30.0)]
    res = detect_printed_page(words, [], page_width=1000, page_height=1400)
    assert res["printed_page"] is None


def test_body_words_outside_top_band_ignored():
    words = [_word("14", 900, 500)]
    res = detect_printed_page(words, [], page_width=1000, page_height=1400)
    assert res["printed_page"] is None


def test_roman_detected_when_no_arabic():
    words = [_word("xiv", 80, 20)]
    res = detect_printed_page(words, [], page_width=1000, page_height=1400, side="left")
    assert res == {
        "printed_page": 14,
        "printed_page_text": "xiv",
        "printed_page_kind": "roman",
    }


def test_single_letter_roman_rejected():
    words = [_word("m", 80, 20)]
    res = detect_printed_page(words, [], page_width=1000, page_height=1400)
    assert res["printed_page"] is None


def _to_oracle_page(types, words, lines):
    OcrLine, OcrWord, PageRecord = types.OcrLine, types.OcrWord, types.PageRecord
    ws = [OcrWord(text=w["text"], bbox=w["bbox"], confidence=w["confidence"]) for w in words]
    lns = [
        OcrLine(
            line_id=ln["line_id"],
            bbox=ln["bbox"],
            words=[
                OcrWord(text=w["text"], bbox=w["bbox"], confidence=w["confidence"])
                for w in ln.get("words", [])
            ],
            text=ln["text"],
        )
        for ln in lines
    ]
    return PageRecord(
        book_id="b", page_num=1, scan_relpath="s.png", ocr_engine="x",
        config={}, words=ws, lines=lns,
    )


def test_detection_fuzz_against_reference(reference):
    oracle_detect = reference("page_numbers").detect_printed_page
    types = reference("types")
    rng = random.Random(99)
    texts = ["14", "7", "1203", "xiv", "xx", "iix", "m", "Chapter", "IX.", "12a", "9999"]
    for _ in range(400):
        words = [
            _word(
                rng.choice(texts),
                rng.randrange(0, 960),
                rng.randrange(0, 300),
                conf=rng.choice([25.0, 45.0, 75.0, 92.0]),
            )
            for _ in range(rng.randrange(0, 6))
        ]
        lines = []
        for li in range(rng.randrange(0, 4)):
            lws = [
                _word(rng.choice(texts), 40 * k, 30 * li, conf=rng.choice([35.0, 88.0]))
                for k in range(rng.randrange(1, 4))
            ]
            lines.append(
                {
                    "line_id": f"p1_l{li + 1}",
                    "bbox": [
                        min(w["bbox"][0] for w in lws),
                        min(w["bbox"][1] for w in lws),
                        max(w["bbox"][2] for w in lws),
                        max(w["bbox"][3] for w in lws),
                    ],
                    "words": lws,
                    "text": " ".join(w["text"] for w in lws),
                }
            )
        side = rng.choice(["left", "right", "neutral"])
        ours = detect_printed_page(
            words, lines, page_width=1000, page_height=1400, side=side, debug=True
        )
        expected, expected_debug = oracle_detect(
            _to_oracle_page(types, words, lines),
            page_width=1000, page_height=1400, side=side, debug=True,
        )
        got_debug = ours.pop("debug")
        assert ours == expected
        assert got_debug == expected_debug


def test_debug_payload_determinism():
    """Port of reference test_page_numbers.py:155-171: run twice, equal."""
    words = [
        _word("122", 940, 20, conf=95.0),
        _word("14", 40, 20, conf=90.0),
    ]
    kwargs = dict(page_width=1000, page_height=1200, side="right", debug=True)
    a = detect_printed_page(words, [], **kwargs)
    b = detect_printed_page(words, [], **kwargs)
    assert a == b
    dbg = a["debug"]
    assert dbg["selected_kind"] == "arabic"
    assert dbg["selected"]["text"] == "122"  # right-side preference
    assert len(dbg["arabic_top_candidates"]) == 2
    assert dbg["arabic_top_candidates"][0] == dbg["selected"]
    assert "_preferred" not in dbg["selected"] and "_edge_score" not in dbg["selected"]
