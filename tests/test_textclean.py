"""Cleanup renderer unit tests.

Ports the reference's unit cases (ingest/test_render_text.py) onto our
implementation AND property-checks byte-identity against the reference
renderer imported as an oracle.
"""

from __future__ import annotations

import random


from ocr_obsidian_spark.functions.textclean import (
    clean_line,
    merge_hyphen_breaks,
    render_page_text,
    token_is_junk,
)


def _word(text, conf=95.0, bbox=None):
    return {"text": text, "bbox": bbox or [0, 0, 10, 10], "confidence": conf}


def _line(words=None, text="", line_id="p1_l1"):
    d = {"line_id": line_id, "bbox": [0, 0, 100, 20], "text": text}
    if words is not None:
        d["words"] = words
    return d


def test_junk_tokens_removed():
    # mirrors reference test_render_text.py:17-25
    lines = [
        _line(words=[_word("|"), _word("Hello"), _word("i", conf=30.0), _word("world")]),
    ]
    assert render_page_text(lines) == "Hello world"


def test_hyphen_break_joins_without_space():
    # mirrors reference test_render_text.py:27-33
    lines = [
        _line(words=[_word("He"), _word("was"), _word("con-")]),
        _line(words=[_word("demned"), _word("in"), _word("Geneva.")]),
    ]
    assert render_page_text(lines) == "He was condemned in Geneva."


def test_lowercase_continuation_reflows():
    # mirrors reference test_render_text.py:35-41
    lines = [
        _line(words=[_word("The"), _word("city"), _word("was"), _word("quiet")]),
        _line(words=[_word("and"), _word("the"), _word("night"), _word("fell.")]),
    ]
    assert render_page_text(lines) == "The city was quiet and the night fell."


def test_list_lines_do_not_reflow(reference):
    oracle_render = reference("render_text").render_lines
    # single '-' markers are junk-stripped (so those lines DO reflow — same
    # as the reference); 3-4 digit list lines keep their marker and must not
    lines = [
        _line(words=[_word("1203"), _word("first"), _word("item")]),
        _line(words=[_word("1204"), _word("second"), _word("item")]),
    ]
    out = render_page_text(lines)
    assert out == "1203 first item\n\n1204 second item"
    assert out == oracle_render(lines)


def test_strong_break_stops_reflow():
    lines = [
        _line(words=[_word("Sentence"), _word("ends.")]),
        _line(words=[_word("another"), _word("line")]),
    ]
    assert render_page_text(lines) == "Sentence ends.\n\nanother line"


def test_missing_words_falls_back_to_text():
    assert render_page_text([_line(text="plain text line")]) == "plain text line"


def test_spew_tokens_dropped_at_low_conf():
    assert token_is_junk("fi", 60.0)
    assert not token_is_junk("fi", 90.0)
    assert token_is_junk("i|", 50.0)
    assert token_is_junk("||", 99.0)  # pipe-only junk at any confidence


def test_single_a_and_i_kept_at_low_conf():
    assert not token_is_junk("I", 40.0)
    assert not token_is_junk("a", 40.0)
    assert token_is_junk("b", 40.0)


def test_unicode_alpha_counts():
    assert clean_line(_line(words=[_word("café", conf=60.0)])) == "café"


def test_hyphen_merge_consumes_pairs():
    # i+1 is consumed: three lines where 1+2 merge and 3 survives
    merged = merge_hyphen_breaks(["con-", "demned", "Next line"])
    assert merged == ["condemned", "Next line"]


def _random_lines(rng: random.Random) -> list[dict]:
    pool = [
        "the", "quick", "fox", "|", "||", "fi", "th!", "i", "A", "a", "zq",
        "con-", "demned", "item", "-", "•", "1234", "café", "Σοφία", ")", "(x)",
        "end.", "maybe!", 'quote."', "with-", "tail-:;", "x\\y",
    ]
    lines = []
    for li in range(rng.randrange(0, 8)):
        if rng.random() < 0.15:
            lines.append({"line_id": f"l{li}", "bbox": [0, 0, 9, 9],
                          "text": " ".join(rng.choices(pool, k=rng.randrange(0, 6)))})
        else:
            words = [
                {"text": rng.choice(pool), "bbox": [0, 0, 9, 9],
                 "confidence": rng.choice([20.0, 45.0, 56.0, 69.0, 84.0, 86.0, 100.0])}
                for _ in range(rng.randrange(0, 9))
            ]
            lines.append({"line_id": f"l{li}", "bbox": [0, 0, 9, 9],
                          "text": " ".join(w["text"] for w in words), "words": words})
    return lines


def test_byte_identity_against_reference_fuzz(reference):
    """2000 random pages: our renderer is byte-identical to the reference."""
    oracle_render = reference("render_text").render_lines
    rng = random.Random(1234)
    for _ in range(2000):
        lines = _random_lines(rng)
        assert render_page_text(lines) == oracle_render(lines)
