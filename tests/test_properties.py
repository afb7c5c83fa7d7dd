"""Property-based tests (hypothesis) against the reference oracle — the
hand-rolled RNG fuzz elsewhere pins known failure modes; these search the
input space adversarially."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from ocr_obsidian_spark.functions.romans import (
    is_plausible_roman,
    normalize_roman,
    roman_to_int,
)
from ocr_obsidian_spark.functions.textclean import (
    merge_hyphen_breaks,
    normalize_spaces,
    render_page_text,
    token_is_junk,
)

# text including roman chars, digits, punctuation, unicode, whitespace
_texty = st.text(
    alphabet=st.sampled_from(
        list("ivxlcdmIVXLCDM0123456789abcXYZ .,-|\\()'\"!?\t\nÉßé•*")
    ),
    max_size=24,
)


@given(_texty)
@settings(max_examples=400, deadline=None)
def test_roman_parser_matches_reference(reference, s):
    pn = reference("page_numbers")
    oracle_norm, oracle_roman = pn.normalize_roman, pn.roman_to_int
    oracle_plausible = pn.is_plausible_roman
    assert normalize_roman(s) == oracle_norm(s)
    assert roman_to_int(s) == oracle_roman(s)
    assert is_plausible_roman(s, min_len=2, max_value=80) == oracle_plausible(
        s, min_len=2, max_value=80
    )


@given(_texty, st.floats(min_value=0, max_value=100, allow_nan=False))
@settings(max_examples=400, deadline=None)
def test_junk_token_matches_reference(reference, s, conf):
    oracle_junk = reference("render_text")._token_is_junk
    assert token_is_junk(s, conf) == oracle_junk(s, conf)


@given(_texty)
@settings(max_examples=300, deadline=None)
def test_normalize_spaces_matches_reference(reference, s):
    oracle_spaces = reference("render_text")._normalize_spaces
    assert normalize_spaces(s) == oracle_spaces(s)


_line = st.text(
    alphabet=st.sampled_from(list("abcdefgACD-.,'\")] 0123456789•*")), max_size=18
)


@given(st.lists(_line, max_size=8))
@settings(max_examples=300, deadline=None)
def test_hyphen_merge_matches_reference(reference, lines):
    oracle_hyphen = reference("render_text")._merge_hyphen_breaks
    # the reference fold consumes pairs; inputs are post-clean lines
    cleaned = [normalize_spaces(l) for l in lines if normalize_spaces(l)]
    assert merge_hyphen_breaks(cleaned) == oracle_hyphen(list(cleaned))


@given(st.text(alphabet=st.sampled_from(list("abXY_012.lLrR/\\")), max_size=16))
@settings(max_examples=300, deadline=None)
def test_infer_scan_side_matches_reference(reference, name):
    from ocr_obsidian_spark.functions.romans import infer_scan_side

    oracle_side = reference("page_numbers").infer_scan_side

    assert infer_scan_side(name) == oracle_side(name)


@given(
    st.lists(
        st.lists(
            st.tuples(_texty, st.floats(min_value=0, max_value=100, allow_nan=False)),
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=200, deadline=None)
def test_qa_metrics_match_reference(reference, line_words):
    from ocr_obsidian_spark.functions.qa import compute_text_metrics, is_garbage_page

    qa = reference("qa_metrics")
    oracle_metrics, oracle_gate = qa.compute_text_metrics, qa.is_obviously_empty_or_garbage

    lines = []
    for i, ws in enumerate(line_words):
        words = [
            {"text": t, "bbox": [10 * k, 30 * i, 10 * k + 8, 30 * i + 20], "confidence": c}
            for k, (t, c) in enumerate(ws)
        ]
        lines.append(
            {
                "line_id": f"p1_l{i + 1}",
                "bbox": [0, 30 * i, 100, 30 * i + 20],
                "words": words,
                "text": " ".join(t for t, _ in ws),
            }
        )
    got, exp = compute_text_metrics(lines), oracle_metrics(lines)
    assert got == exp
    from ocr_obsidian_spark.config import DEFAULT_CONFIG

    assert is_garbage_page(got, DEFAULT_CONFIG.qa) == oracle_gate(exp)


@given(
    st.lists(
        st.lists(
            st.tuples(_texty, st.floats(min_value=0, max_value=100, allow_nan=False)),
            min_size=1,
            max_size=5,
        ),
        max_size=6,
    )
)
@settings(max_examples=200, deadline=None)
def test_render_byte_identical_property(reference, line_words):
    """THE invariant under arbitrary token streams: byte-identical render
    (including the O(n) paragraph-fold rewrite's shortcut equivalences)."""
    oracle_render = reference("render_text").render_lines
    lines = []
    for i, ws in enumerate(line_words):
        words = [
            {"text": t, "bbox": [10 * k, 30 * i, 10 * k + 8, 30 * i + 20], "confidence": c}
            for k, (t, c) in enumerate(ws)
        ]
        lines.append(
            {
                "line_id": f"p1_l{i + 1}",
                "bbox": [0, 30 * i, 100, 30 * i + 20],
                "words": words,
                "text": " ".join(t for t, _ in ws),
            }
        )
    assert render_page_text(lines) == oracle_render(lines)


@given(
    st.lists(
        st.tuples(
            _texty,
            st.floats(min_value=-5, max_value=100, allow_nan=False),
            st.integers(min_value=0, max_value=500),   # x1
            st.integers(min_value=0, max_value=900),   # y1
            st.integers(min_value=0, max_value=30),    # width (0 → rejected)
            st.integers(min_value=0, max_value=30),    # height
        ),
        max_size=24,
    )
)
@settings(max_examples=200, deadline=None)
def test_trusted_line_text_metrics_equivalence(reference, raw_words):
    """compute_text_metrics(trusted_line_text=True) must equal BOTH the
    untrusted path and the reference on lines produced by the real
    admission + group_lines path (the provenance the fast path trusts)."""
    from ocr_obsidian_spark.functions.geometry import admit_word, group_lines
    from ocr_obsidian_spark.functions.qa import compute_text_metrics

    oracle_metrics = reference("qa_metrics").compute_text_metrics

    words = []
    for t, c, x1, y1, w, h in raw_words:
        if admit_word(t, c, w, h):
            words.append(
                {"text": str(t).strip(), "bbox": [x1, y1, x1 + w, y1 + h],
                 "confidence": float(c)}
            )
    lines = group_lines(words, 1, 14)
    fast = compute_text_metrics(lines, trusted_line_text=True)
    slow = compute_text_metrics(lines)
    assert fast == slow == oracle_metrics(lines)
