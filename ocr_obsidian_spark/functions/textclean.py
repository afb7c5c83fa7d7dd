"""Deterministic OCR-artifact cleanup → final extracted text.

THE byte-identity invariant of the pipeline: ``render_page_text(lines)`` must
produce output byte-identical to the reference renderer
(reference ingest/render_text.py:111-128) for every url. All regexes,
threshold constants and the junk-token decision table are therefore pinned to
the reference semantics (ingest/render_text.py:7-48); the code itself is
written fresh for batch execution inside pandas UDFs.

Python ``re`` / ``str`` semantics are intentionally used throughout (never
translated to Java regex): Python ``str.isalpha`` is Unicode-wide and has no
exact Spark SQL equivalent (reference ingest/render_text.py:22-26), which is
why this whole path lives UDF-side.
"""

from __future__ import annotations

import re
from typing import Any, Iterable

_WS = re.compile(r"\s+")
_ALL_PIPES = re.compile(r"^\|+$")
# sentence-final punctuation optionally followed by closing quotes/brackets
_HARD_STOP = re.compile(r"""[.!?]["')\]]*$""")
# a hyphen line-break tail: '-' plus optional trailing punctuation noise
_HYPHEN_TAIL = re.compile(r"-\s*[)\]}\"'`.:;,_!]*$")
# punctuation noise a continuation line may start with after a hyphen merge
_LEAD_PUNCT = re.compile(r"^[\s\|\\\"'`.:;,_\-–—()\[\]{}<>!]+")
# list-item lines must never be reflowed into paragraphs
_LIST_ITEM = re.compile(r"^(?:\d{3,4}\s|[-*•]\s)")
_LOWER_FIRST = re.compile(r"^[a-z]")

# two-char garbage clusters tesseract emits at low confidence
# (reference ingest/render_text.py:15)
_SPEW = frozenset({"fi", "fl", "hl", "hh", "th", "th!", "i|", "|i", "l|", "il"})

_KEEP_SHORT_ALPHA = frozenset({"I", "A", "a"})


def normalize_spaces(text: str) -> str:
    """Collapse all whitespace runs to single spaces and trim."""
    # fast path: no \s char anywhere ⇒ sub is identity AND strip is
    # identity (CPython's re \s and str.isspace() share the same unicode
    # whitespace predicate, so "no \s match" ⇒ nothing for strip to trim)
    if _WS.search(text) is None:
        return text
    return _WS.sub(" ", text).strip()


def alpha_ratio(text: str) -> float:
    """Fraction of characters that are Unicode letters (str.isalpha)."""
    if not text:
        return 0.0
    return sum(ch.isalpha() for ch in text) / len(text)


def token_is_junk(token: str, confidence: float) -> bool:
    """OCR-junk token predicate (decision table of ingest/render_text.py:29-48)."""
    value = str(token).strip()
    conf = float(confidence)
    if not value:
        return True
    # exact fast path for the overwhelmingly common case — a confident
    # all-letter token: every rule below is conditioned on pipes/backslashes
    # (absent), non-alnum single chars (impossible), or conf < 85 (the spew,
    # short-alpha and alpha-ratio rules all require lower confidence), so
    # the full table provably evaluates to False.
    if conf >= 85.0 and value.isalpha():
        return False
    if _ALL_PIPES.fullmatch(value):
        return True
    if conf < 85.0 and ("|" in value or "\\" in value):
        return True
    if len(value) == 1 and not value.isalnum():
        return True
    if len(value) <= 2:
        if conf < 85.0 and value.lower() in _SPEW:
            return True
        if conf < 55.0 and value.isalpha() and value not in _KEEP_SHORT_ALPHA:
            return True
    if conf < 70.0 and len(value) < 5 and alpha_ratio(value) < 0.4:
        return True
    return False


def clean_line(line: dict[str, Any]) -> str:
    """One line → cleaned text ('' if nothing survives).

    Token pass: whitespace-normalize, strip leading/trailing ``|\\()`` chars,
    drop junk tokens; then line-level rejection of pipe-only / lone-symbol
    residue (reference ingest/render_text.py:65-82).

    Tokens are the line's ``words``; a line without them whitespace-splits
    its ``text`` at confidence 100.0 — a tolerant read that is part of the
    invariant (reference ingest/render_text.py:51-62).
    """
    kept: list[str] = []
    words = line.get("words")
    if isinstance(words, (list, tuple)) and len(words) > 0:
        # hot: ~60 words/line × every page. The float() stays eager — a
        # non-floatable confidence must raise, as in the reference.
        all_fast = True
        for w in words:
            raw = str(w.get("text", ""))
            conf = float(w.get("confidence", 100.0))
            # byte-exact fast paths: an alphanumeric token contains no
            # whitespace and none of the strip chars (both ops identity),
            # and at conf >= 85 it can't be junk — every table rule needs
            # pipes/backslashes (absent), a non-alnum single char
            # (impossible) or conf < 85 (spew/short-alpha/alpha-ratio)
            if raw.isalnum():
                if conf >= 85.0:
                    kept.append(raw)
                    continue
                token = raw
            else:
                token = normalize_spaces(raw).strip("|\\()")
            all_fast = False
            if token and not token_is_junk(token, conf):
                kept.append(token)
        if all_fast:
            # every token took the alnum fast path: the join has no
            # whitespace runs to collapse, no '|' entries to filter, and
            # the line-level rejections can't fire on alnum text — the
            # tail below is provably identity (kept is non-empty here)
            return " ".join(kept)
    else:
        for raw in str(line.get("text", "")).split():
            if raw.isalnum():
                token = raw
            else:
                token = normalize_spaces(raw).strip("|\\()")
            if token and not token_is_junk(token, 100.0):
                kept.append(token)

    # the re-normalization after the join is LOAD-BEARING: stripping
    # ``|\\()`` can expose whitespace at token edges ('0C \\' → '0C ') —
    # hypothesis found the counterexample when this was "optimized" away
    text = normalize_spaces(" ".join(t for t in kept if t != "|"))
    if not text:
        return ""
    if _ALL_PIPES.fullmatch(text):
        return ""
    if len(text) == 1 and not text.isalnum():
        return ""
    return text


def merge_hyphen_breaks(lines: list[str]) -> list[str]:
    """Join 'con-' + 'demned ...' hyphen line-breaks without a space.

    Pairwise consuming fold — when lines i and i+1 merge, i+1 is consumed and
    scanning resumes at i+2, so this is NOT a sliding window
    (reference ingest/render_text.py:85-100).
    """
    out: list[str] = []
    i = 0
    n = len(lines)
    while i < n:
        cur = lines[i]
        if i + 1 < n and _HYPHEN_TAIL.search(cur) and _LOWER_FIRST.match(lines[i + 1]):
            left = _HYPHEN_TAIL.sub("", cur).rstrip()
            right = _LEAD_PUNCT.sub("", lines[i + 1]).lstrip()
            out.append(normalize_spaces(left + right))
            i += 2
        else:
            out.append(cur)
            i += 1
    return out


def render_page_text(lines: Iterable[dict[str, Any]]) -> str:
    """Lines → final cleaned page text. THE invariant function
    (byte-identical to reference ingest/render_text.py:111-128).

    clean each line → drop blanks → dehyphenate → greedy paragraph reflow →
    blocks joined with blank lines.
    """
    cleaned = [c for c in (clean_line(ln) for ln in lines) if c]
    if not cleaned:
        return ""
    cleaned = merge_hyphen_breaks(cleaned)

    # O(total-length) fold. The naive accumulate-and-renormalize form
    # (paragraph = normalize_spaces(paragraph + " " + nxt)) rescans the
    # whole paragraph per appended line — O(P²), minutes on a 10⁷-byte
    # page. Byte-identical shortcuts, each provable from the patterns:
    #   * parts are clean_line/merge output ⇒ already space-normalized,
    #     so " ".join(parts) IS the normalized paragraph (the trailing
    #     map(normalize_spaces, ...) was a no-op);
    #   * _HARD_STOP is a no-whitespace suffix pattern ⇒ its match on the
    #     joined paragraph lies entirely inside the LAST part;
    #   * _LIST_ITEM is a ≤5-char prefix pattern ⇒ its match lies inside
    #     FIRST-part + the joining space.
    blocks: list[str] = []
    parts: list[str] = [cleaned[0]]
    for nxt in cleaned[1:]:
        head = parts[0] if len(parts) == 1 else parts[0] + " "
        cont = (
            not _LIST_ITEM.match(head)
            and not _LIST_ITEM.match(nxt)
            and not _HARD_STOP.search(parts[-1])
            and _LOWER_FIRST.match(nxt) is not None
        )
        if cont:
            parts.append(nxt)
        else:
            blocks.append(" ".join(parts))
            parts = [nxt]
    blocks.append(" ".join(parts))
    return "\n\n".join(b for b in blocks if b)


def render_raw_text(lines: Iterable[dict[str, Any]]) -> str:
    """clean_text=False path: raw line texts joined by newlines, blanks
    dropped (reference ingest/emit_obsidian.py:128-132, cli.py:196)."""
    return "\n".join(
        str(ln.get("text", "")) for ln in lines if str(ln.get("text", "")).strip()
    )
