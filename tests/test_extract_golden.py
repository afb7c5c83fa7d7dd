"""Golden per-page digests of the page kernel ``operators.extract._extract_one``.

``tests/golden/extract_one.json`` maps one key per input page to the sha256
of every output field of ``_extract_one`` (all 21 of them, QA floats,
``avg_word_conf`` and ``pp_debug_json`` included), so any change to the
kernel's output bytes — line grouping, cleanup, QA, printed-page detection
or the ``lines_json`` serializer — fails this test and names the pages.

Inputs (all deterministic, generated here, no Spark):
  * ``fixture_page_rows`` seeds 42 and 7, including the skew-tail page with
    hundreds of lines;
  * the sf0.01 ``documents`` laid out by ``sources/doc_pages._doc_payload``,
    exactly as ``pages_from_documents`` encodes them;
  * adversarial payloads: NaN/inf/tiny/huge confidences, coordinates beyond
    2^53 and 2^64, float and malformed bboxes, truncated JSON, control,
    astral-plane and lone-surrogate text, many-line pages and words whose
    y-center sits exactly at a line's mean ± tolerance;
  * fail-soft payloads: one malformed page dimension, confidence or
    coordinate per page, each beyond what ``int``/``float`` accept; every
    one must come back as a ``parse_ok=false`` row.
Pages run under the default config; subsets also run with the printed-page
debug payload on and with a zero line tolerance.

Regenerate (only when an output change is intended) with
``python tests/test_extract_golden.py --write`` from the repository root.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import math
import random
import sys
from pathlib import Path
from typing import Any, Iterator

GOLDEN = Path(__file__).with_name("golden") / "extract_one.json"

_WORDS = ["the", "of", "Chapter", "iv", "xii", "12", "co-", "operate", "|", "~~",
          "naïve", "Ünïcödé", "a\"b\\c", "tab\there", "line\nbreak", "(see",
          "p.12)", "|x|", "\\y", "I", "ll", "—"]
_ODD_TEXT = ["", "   ", "\x00a\x1fb\x7f", "\u2028sep\u2029", "\U0001d518\U0001d52b",
             "emoji\U0001f600", "\ud800lone", "x\udfff", "\x08\x0c\r", "/slash/"]
_CONF = [0.0, -0.0, 1e-4, math.nextafter(1e-4, 0.0), 1e-5, 5e-324, 1e16,
         math.nextafter(1e16, 0.0), 1e17, 1e300, math.nan, math.inf, -math.inf,
         -1.0, 0.1, 33.333333333333336, 95, 0, 2**70, 10**16 - 1, "95", "nan",
         "1e400", "abc", None, True, [1]]
# text a UTF-8 encoder accepts (no lone surrogates)
_VALID_TEXT = _WORDS + [
    t for t in _ODD_TEXT if not any("\ud800" <= ch <= "\udfff" for ch in t)
]


def _fixture_pages(seed: int) -> list[tuple[str, Any]]:
    from ocr_obsidian_spark.sources.fixtures import fixture_page_rows

    return [(r["url"], r["html"]) for r in fixture_page_rows(seed=seed)]


def _doc_pages() -> list[tuple[str, Any]]:
    import pyarrow.parquet as pq

    from __spark_entry__ import SF_DEFAULT
    from ocr_obsidian_spark.sources.doc_pages import _doc_payload

    path = Path(SF_DEFAULT).with_name("sf0.01") / "documents.parquet"
    tbl = pq.read_table(path, columns=["doc_id", "text", "source"])
    out = []
    for doc_id, text, source in zip(*(tbl[c].to_pylist() for c in tbl.column_names)):
        payload = _doc_payload(int(doc_id), text)
        book = f"{source}-{int(doc_id) // 512:05d}"
        out.append(
            (
                f"https://docs.test/book_{book}/page_{int(doc_id):06d}",
                json.dumps(payload, ensure_ascii=False).encode("utf-8"),
            )
        )
    return out


def _adv_word(
    rng: random.Random, x: int, y: int, tol: int, clean: bool
) -> dict[str, Any]:
    """One word; ``clean`` words are well-formed with in-range confidences
    (the pages that keep to the fast serializer), the rest may be anything."""
    if clean:
        text = rng.choice(_VALID_TEXT)
        b = [x, y, x + rng.randrange(1, 90), y + rng.choice([22, 2 * tol, 2 * tol + 1])]
        off = rng.choice([0, 0, 0, 0, 2**53 + 1, 2**63 - 200, 2**64 - 2000])
        conf = rng.choice([0.0, -0.0, 1e-4, 95, 0, 10**15, 9999999999999998.0,
                           0.1, 33.333333333333336, 1234.5678, 40.0,
                           round(rng.uniform(35.0, 99.0), rng.choice([0, 1, 2, 6]))])
        return {"t": text, "b": [v + off for v in b], "c": conf}
    r = rng.random()
    text: Any = rng.choice(_WORDS) if r < 0.7 else rng.choice(_ODD_TEXT)
    if rng.random() < 0.03:
        text = rng.choice([123, None, ["x"], {"a": 1}, True, 4.5])
    h = rng.choice([22, 22, 22, 2 * tol, 2 * tol + 1, 0, -3])
    w = rng.randrange(-2, 90)
    bbox: Any = [x, y, x + w, y + h]
    r = rng.random()
    if r < 0.04:
        bbox = [v + 2**70 for v in bbox]
    elif r < 0.06:
        bbox = [v + 2**64 - 50 for v in bbox]
    elif r < 0.08:
        bbox = [v + 2**53 + 1 for v in bbox]
    elif r < 0.11:
        bbox = [v + 0.5 for v in bbox]
    elif r < 0.13:
        bbox = rng.choice([[1, 2], None, "0,0,1,1", [x, y, x + w, y + h, 7],
                           [str(v) for v in bbox], [True, 0, 5, 5],
                           [math.nan, 0, 5, 5]])
    word: dict[str, Any] = {"t": text, "b": bbox}
    r = rng.random()
    if r < 0.35:
        word["c"] = rng.choice(_CONF)
    elif r < 0.37:
        pass  # missing confidence
    else:
        word["c"] = round(rng.uniform(35.0, 99.0), rng.choice([0, 1, 2, 6]))
    if rng.random() < 0.01:
        del word["b"]
    return word


def _adv_payload(i: int) -> bytes:
    rng = random.Random(f"adv/{i}")
    tol = 14
    clean = i % 2 == 0
    words: list[Any] = []
    n_rows = rng.choice([1, 3, 8, 20, 49, 60, 120])
    y = rng.randrange(10, 200)
    for _ in range(n_rows):
        base = y
        x = 40
        for _ in range(rng.randrange(1, 9)):
            # exact ± tol neighbours of the row's first center, small
            # jitter, or a fresh row
            dy = rng.choice([0, 0, 0, 1, -1, tol, -tol, 2 * tol, 2 * tol + 1])
            words.append(_adv_word(rng, x, base + dy, tol, clean))
            x += rng.randrange(20, 120)
        y += rng.choice([8, 14, 15, 28, 29, 40, 3])
    if rng.random() < 0.3:  # top-band page-number candidates
        for t in rng.sample(["xiv", "12", "ix", "iiii", "0007", "mcm", "A"], 3):
            words.append({"t": t, "b": [rng.randrange(20, 900), 30, 940, 52],
                          "c": rng.choice([90.0, 39.9, 40.0])})
    rng.shuffle(words)
    if not clean and rng.random() < 0.04:
        words = {"not": "a list"}  # type: ignore[assignment]
    payload: dict[str, Any] = {
        "page_width": rng.choice([1000, 1000, 640, 1000.9, "900", 2**70, 0]),
        "page_height": rng.choice([1400, 1400, 800, 1400.2, "1200", 1]),
        "scan_relpath": rng.choice(["scan_0001.png", "scan_0002_L.png",
                                    "x_r.tif", "a_l.", "", "dir/x_L/"]),
        "words": words,
    }
    for key in ("page_width", "page_height", "scan_relpath"):
        if not clean and rng.random() < 0.1:
            del payload[key]
    raw = json.dumps(payload).encode("ascii")
    r = 1.0 if clean else rng.random()
    if r < 0.06:
        raw = raw[: rng.randrange(1, len(raw))]
    elif r < 0.08:
        raw = rng.choice([b"[1,2,3]", b"null", b'"s"', b"\xff\xfe", b"{}"])
    return raw


def _adversarial_pages(n: int = 700) -> list[tuple[str, Any]]:
    out: list[tuple[str, Any]] = [
        (f"https://adv.test/book_adv/page_{i:05d}", _adv_payload(i)) for i in range(n)
    ]
    out.append(("https://adv.test/null", None))
    out.append(("https://adv.test/page", b""))
    return out


def _fail_soft_pages() -> list[tuple[str, bytes]]:
    """Pages whose one malformed field once raised out of the kernel and
    killed the map task: a page dimension that is null, not a number or
    beyond float range, a confidence and a coordinate beyond float range,
    and an integer coordinate beyond float range (which passes admission
    and only overflows in the geometry)."""
    page = (
        b'{"page_width": %s, "page_height": %s, "scan_relpath": "s.png", "words": '
        b'[{"t": "word", "b": [10, 20, 60, %s], "c": %s}, '
        b'{"t": "more", "b": [%s, 20, %s, 42], "c": 90.0}]}'
    )
    big, big2 = b"1" * 400, b"2" * 400
    # page_width, page_height, y2 and confidence of word 1, x1 and x2 of word 2
    fields = {
        "width_null": (b"null", b"1400", b"42", b"90.0", b"70", b"120"),
        "width_text": (b'"wide"', b"1400", b"42", b"90.0", b"70", b"120"),
        "width_1e400": (b"1e400", b"1400", b"42", b"90.0", b"70", b"120"),
        "height_int400": (b"1000", big, b"42", b"90.0", b"70", b"120"),
        "conf_int400": (b"1000", b"1400", b"42", b"1" + b"0" * 400, b"70", b"120"),
        "coord_1e400": (b"1000", b"1400", b"1e400", b"90.0", b"70", b"120"),
        "y_int400": (b"1000", b"1400", big, b"90.0", b"70", b"120"),
        "x_int400": (b"1000", b"1400", b"42", b"90.0", big, big2),
    }
    return [
        (f"https://failsoft.test/book_fs/page_{i:04d}#{name}", page % values)
        for i, (name, values) in enumerate(fields.items(), start=1)
    ]


def golden_cases() -> Iterator[tuple[str, str, Any, Any]]:
    """(key, url, html, cfg) for every golden page."""
    from ocr_obsidian_spark.config import DEFAULT_CONFIG

    debug = dataclasses.replace(
        DEFAULT_CONFIG,
        printed_page=dataclasses.replace(DEFAULT_CONFIG.printed_page, debug=True),
    )
    tol0 = dataclasses.replace(DEFAULT_CONFIG, line_y_tolerance_px=0, clean_text=False)
    fx7, adv = _fixture_pages(7), _adversarial_pages()
    sources = [
        ("fx42", _fixture_pages(42)),
        ("fx7", fx7),
        ("sf0.01", _doc_pages()),
        ("adv", adv),
        ("failsoft", _fail_soft_pages()),
    ]
    for tag, pages in sources:
        for url, html in pages:
            yield f"{tag}|{url}", url, html, DEFAULT_CONFIG
    for url, html in fx7 + adv[:150]:
        yield f"debug|{url}", url, html, debug
    for url, html in adv[150:250]:
        yield f"tol0|{url}", url, html, tol0


def record_digest(rec: dict[str, Any]) -> str:
    """sha256 over every field's name and ``repr`` (type- and bit-exact for
    floats, escapes lone surrogates)."""
    return hashlib.sha256(repr(sorted(rec.items())).encode("utf-8")).hexdigest()


def compute_digests() -> dict[str, str]:
    from ocr_obsidian_spark.operators.extract import _extract_one

    out: dict[str, str] = {}
    for key, url, html, cfg in golden_cases():
        assert key not in out, key
        rec = _extract_one(url, html, cfg)
        assert len(rec) == 21, sorted(rec)
        out[key] = record_digest(rec)
    return out


def test_fail_soft_payloads_flag_the_page():
    from ocr_obsidian_spark.config import DEFAULT_CONFIG
    from ocr_obsidian_spark.operators.extract import _extract_one

    for url, html in _fail_soft_pages():
        rec = _extract_one(url, html, DEFAULT_CONFIG)
        assert rec["parse_ok"] is False, url


def test_extract_one_matches_golden():
    want = json.loads(GOLDEN.read_text())
    got = compute_digests()
    assert got.keys() == want.keys()
    bad = sorted(k for k in want if got[k] != want[k])
    assert not bad, f"{len(bad)} of {len(want)} pages changed, e.g. {bad[:10]}"


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_extract_golden.py --write")
    GOLDEN.parent.mkdir(exist_ok=True)
    digests = compute_digests()
    GOLDEN.write_text(json.dumps(digests, indent=0, sort_keys=True) + "\n")
    print(f"wrote {len(digests)} digests to {GOLDEN}")
