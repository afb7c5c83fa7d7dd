"""QA metrics + garbage gate: unit cases and fuzz oracle comparison
(reference ingest/qa_metrics.py)."""

from __future__ import annotations

import random

from ocr_obsidian_spark.functions.qa import (
    compute_text_metrics,
    is_garbage_page,
    low_quality_placeholder,
)


def _line(text=None, words=None):
    d = {"line_id": "l1", "bbox": [0, 0, 9, 9]}
    if text is not None:
        d["text"] = text
    if words is not None:
        d["words"] = words
    return d


def test_empty_page_is_garbage():
    m = compute_text_metrics([])
    assert m["line_count"] == 0
    assert is_garbage_page(m)


def test_clean_page_is_not_garbage():
    words = [{"text": t, "bbox": [0, 0, 9, 9], "confidence": 95.0}
             for t in "The quiet city slept through the long night".split()]
    m = compute_text_metrics([_line(words=words)])
    assert not is_garbage_page(m)
    assert m["avg_word_conf"] == 95.0


def test_pipe_heavy_low_conf_is_garbage():
    words = [{"text": "|||", "bbox": [0, 0, 9, 9], "confidence": 20.0}] * 6
    m = compute_text_metrics([_line(words=words)])
    assert is_garbage_page(m)


def test_placeholder_format():
    m = {"avg_word_conf": None, "garbage_ratio": 0.5}
    assert low_quality_placeholder(m, "s.png") == (
        "OCR LOW QUALITY (avg_conf=n/a, garbage=0.500). See scan: s.png"
    )
    m2 = {"avg_word_conf": 42.35, "garbage_ratio": 0.123456}
    assert low_quality_placeholder(m2, "x.png") == (
        "OCR LOW QUALITY (avg_conf=42.4, garbage=0.123). See scan: x.png"
    )


def test_metrics_and_gate_fuzz_against_reference(reference):
    qa = reference("qa_metrics")
    oracle_metrics, oracle_gate = qa.compute_text_metrics, qa.is_obviously_empty_or_garbage
    rng = random.Random(11)
    pool = ["word", "|", "||", "123", "a", ".", "x|y", "café", "!!!", ""]
    for _ in range(2000):
        lines = []
        for _ in range(rng.randrange(0, 6)):
            if rng.random() < 0.2:
                lines.append(_line(text=" ".join(rng.choices(pool, k=rng.randrange(0, 5)))))
            else:
                words = [
                    {
                        "text": rng.choice(pool),
                        "bbox": [0, 0, 9, 9],
                        "confidence": rng.choice([-5.0, 20.0, 57.9, 58.0, 90.0, 100.0]),
                    }
                    for _ in range(rng.randrange(0, 6))
                ]
                lines.append(_line(words=words))
        ours = compute_text_metrics(lines)
        theirs = oracle_metrics(lines)
        assert ours == theirs
        assert is_garbage_page(ours) == oracle_gate(theirs)
