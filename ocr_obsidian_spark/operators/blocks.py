"""Block-salience candidate detection — candidates computed FROM the page
payload, not supplied by fixtures.

Two detection paths, mirroring the graft's two readings of "salient block":

1. ``detect_blocks`` — the reference-faithful pixel path (reference
   ingest/highlights.py:107-155): HSV in-range mask → frame crop →
   morphological close/open (5×5) → 8-connected components → area floor →
   shape gates → per-component H/S/V means. All pixel work is whole-array
   numpy inside one Arrow-batched ``mapInPandas`` (the reference itself is
   columnar-over-pixels here, via OpenCV; we re-express the same operators
   in numpy: separable running-max morphology and run-length connected
   components — no OpenCV dependency).

   The synthetic page payload carries a ``strokes`` layer (sources/fixtures);
   ``rasterize_page_pixels`` is the image-decode stand-in (exactly as the
   token stream stands in for Tesseract, reference ingest/ocr.py:46-52).

2. ``classify_text_blocks`` — the web-graft text/link-density classifier
   (SURVEY §0 correspondence: highlight mask → boilerplate classifier):
   fixed-size token windows scored with text-density features, pure native
   column expressions (whole-stage codegen, DuckDB-oracled by the driver's
   ``block_candidates`` query).

Scale shape: both paths are map-only over pages/documents — zero shuffles;
the pixel path's cost is bounded per page by the canvas size and runs under
the same salted repartition as extract.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..config import DEFAULT_CONFIG, BlockFilterConfig, PipelineConfig
from ..functions.geometry import passes_block_shape_filters
from ..schemas import TRIGGERS
from ..sources.fixtures import parse_page_payload


# ---------------------------------------------------------------------------
# numpy morphology (binary, k×k ones kernel, separable)
# ---------------------------------------------------------------------------

def binary_dilate(mask: np.ndarray, k: int) -> np.ndarray:
    """k×k ones-kernel dilation via separable row/column running OR.

    Out-of-image pixels contribute 0 (background) — cv2's dilate border
    convention for BORDER_CONSTANT with the morphological default value.
    Only odd k is accepted: the symmetric radius k//2 matches cv2's
    center-anchored kernel for odd sizes only — an even k would silently
    diverge from the reference morphology instead of erroring.
    """
    if k < 1 or k % 2 == 0:
        raise ValueError(f"kernel size must be odd and >= 1, got {k}")
    r = k // 2
    h = mask.copy()
    for s in range(1, r + 1):
        h[:, s:] |= mask[:, :-s]
        h[:, :-s] |= mask[:, s:]
    out = h.copy()
    for s in range(1, r + 1):
        out[s:, :] |= h[:-s, :]
        out[:-s, :] |= h[s:, :]
    return out


def binary_erode(mask: np.ndarray, k: int) -> np.ndarray:
    """k×k erosion; out-of-image pixels count as foreground (cv2 default)."""
    return ~binary_dilate(~mask, k)


def morph_close_open(mask: np.ndarray, k: int) -> np.ndarray:
    """MORPH_CLOSE then MORPH_OPEN — bridges sub-kernel gaps, drops specks
    (reference ingest/highlights.py:122-123)."""
    closed = binary_erode(binary_dilate(mask, k), k)
    return binary_dilate(binary_erode(closed, k), k)


# ---------------------------------------------------------------------------
# connected components (8-connectivity, run-length + union-find)
# ---------------------------------------------------------------------------

def connected_components(mask: np.ndarray) -> list[list[tuple[int, int, int]]]:
    """8-connected components as lists of horizontal runs (row, x1, x2ex).

    Run-length labeling: vectorized run extraction (one np.diff over the
    whole image), then union-find over runs — O(runs), not O(pixels), in
    Python. Components are returned in raster order of their first pixel
    (cv2.connectedComponentsWithStats label order), which keeps candidate
    numbering deterministic.
    """
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    sr, sc = np.nonzero(d == 1)   # run starts (mask x = sc)
    er, ec = np.nonzero(d == -1)  # run ends, exclusive (mask x = ec)
    # starts and ends are row-major aligned: i-th start pairs with i-th end
    runs = list(zip(sr.tolist(), sc.tolist(), ec.tolist()))
    if not runs:
        return []

    parent = list(range(len(runs)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    # sweep adjacent rows with two pointers; 8-connectivity: intervals
    # [x1, x2ex) touch if cur.x1 <= prev.x2ex and prev.x1 <= cur.x2ex
    row_start: dict[int, int] = {}
    for i, (r, _, _) in enumerate(runs):
        row_start.setdefault(r, i)
    for i, (r, x1, x2) in enumerate(runs):
        j = row_start.get(r - 1)
        if j is None:
            continue
        while j < len(runs) and runs[j][0] == r - 1 and runs[j][1] <= x2:
            if runs[j][2] >= x1:
                union(i, j)
            j += 1

    groups: dict[int, list[tuple[int, int, int]]] = {}
    for i, run in enumerate(runs):
        groups.setdefault(find(i), []).append(run)
    # runs were generated in raster order, so min root index = raster order
    # of the component's first pixel
    return [groups[k] for k in sorted(groups)]


# ---------------------------------------------------------------------------
# the reference detection pipeline over an HSV canvas
# ---------------------------------------------------------------------------

def detect_page_candidates(
    hsv: np.ndarray,
    cfg: BlockFilterConfig = DEFAULT_CONFIG.blocks,
) -> list[dict[str, Any]]:
    """HSV image (H,W,3 uint8) → highlight candidates, faithful to reference
    ingest/highlights.py:107-155: in-range mask, pixel-space frame crop,
    close/open, components, area floor, shape gates, per-component
    H/S/V means over the original image."""
    page_height, page_width = hsv.shape[:2]
    low = np.array(cfg.hsv_low, dtype=np.uint8)
    high = np.array(cfg.hsv_high, dtype=np.uint8)
    mask = np.all((hsv >= low) & (hsv <= high), axis=2)

    if cfg.frame_crop_frac > 0:
        crop = int(round(page_width * cfg.frame_crop_frac))
        if crop > 0:
            mask[:, :crop] = False
            mask[:, page_width - crop:] = False

    mask = morph_close_open(mask, cfg.kernel_size)

    candidates: list[dict[str, Any]] = []
    for comp_runs in connected_components(mask):
        area = sum(x2 - x1 for _, x1, x2 in comp_runs)
        if area < cfg.min_area:
            continue
        ys = [r for r, _, _ in comp_runs]
        x1 = min(x1 for _, x1, _ in comp_runs)
        x2 = max(x2 for _, _, x2 in comp_runs)
        bbox = [int(x1), int(min(ys)), int(x2), int(max(ys)) + 1]
        if not passes_block_shape_filters(
            bbox,
            page_width=page_width,
            page_height=page_height,
            edge_margin_px=cfg.edge_margin_px,
            max_hw_ratio=cfg.max_hw_ratio,
            max_height_frac=cfg.max_height_frac,
        ):
            continue
        sums = np.zeros(3, dtype=np.float64)
        for r, rx1, rx2 in comp_runs:
            sums += hsv[r, rx1:rx2, :].sum(axis=0, dtype=np.float64)
        candidates.append(
            {
                "bbox": bbox,
                "area": int(area),
                "color_stats": {
                    "h_mean": float(sums[0] / area),
                    "s_mean": float(sums[1] / area),
                    "v_mean": float(sums[2] / area),
                },
            }
        )
    return candidates


# ---------------------------------------------------------------------------
# synthetic-image decode (the codec stand-in) + the Spark operator
# ---------------------------------------------------------------------------

# paper background: saturation 8 < hsv_low[1]=20 ⇒ out of highlight range
PAPER_HSV = (30, 8, 245)


def rasterize_page_pixels(payload: dict[str, Any]) -> np.ndarray | None:
    """Decode the payload's ``strokes`` layer into an HSV canvas.

    This is the image-decode boundary: real pages would decode html/scan
    bytes here; the synthetic corpus encodes the page's ink as rectangles
    with HSV color (sources/fixtures.py). Returns None when the page has no
    pixel layer at all (pure-text page) — detection skips it.
    """
    strokes = payload.get("strokes")
    if not isinstance(strokes, list):
        return None
    h = int(payload.get("page_height", 1400))
    w = int(payload.get("page_width", 1000))
    canvas = np.empty((h, w, 3), dtype=np.uint8)
    canvas[:, :] = PAPER_HSV
    for s in strokes:
        x1, y1, x2, y2 = (int(v) for v in s["bbox"])
        x1, y1 = max(0, x1), max(0, y1)
        x2, y2 = min(w, x2), min(h, y2)
        if x2 > x1 and y2 > y1:
            canvas[y1:y2, x1:x2] = tuple(int(v) for v in s["hsv"])
    return canvas


def detect_blocks(pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """pages(url, html, ...) → TRIGGERS(url, candidates) by detection.

    One Arrow-batched map stage, zero shuffles; pages without a pixel layer
    or with no surviving candidate emit nothing (matches the reference:
    spans only exist for pages with highlight candidates)."""
    bcfg = cfg.blocks

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls: list[str] = []
            cands: list[list[dict[str, Any]]] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                try:
                    payload = parse_page_payload(html)
                except Exception:
                    continue  # fail-soft, like extract
                if not isinstance(payload, dict):
                    continue
                try:
                    hsv = rasterize_page_pixels(payload)
                    if hsv is None:
                        continue
                    found = detect_page_candidates(hsv, bcfg)
                except Exception:
                    continue  # malformed stroke entries degrade per page
                if found:
                    urls.append(url)
                    cands.append(found)
            # dtype=object even when empty: a default float64 empty column
            # breaks Arrow conversion to the nested candidates type
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype=object),
                    "candidates": pd.Series(cands, dtype=object),
                },
                columns=["url", "candidates"],
            )

    return pages.select("url", "html").mapInPandas(run, schema=TRIGGERS)


# ---------------------------------------------------------------------------
# web-graft text-density block classifier (native expressions, oracled)
# ---------------------------------------------------------------------------

# text-density block gate: blocks of BLOCK_TOKENS normalized tokens are
# content when they hold at least BLOCK_MIN_TOKENS tokens, at least
# BLOCK_MIN_ALPHA_RATIO of their characters are letters and at most
# BLOCK_MAX_LINK_DENSITY of their tokens are links (the boilerplate cut of
# text/link-density segmentation, SURVEY §0); the block_candidates oracle
# SQL renders the same values
BLOCK_TOKENS = 20
BLOCK_MIN_TOKENS = 5
BLOCK_MIN_ALPHA_RATIO = 0.5
BLOCK_MAX_LINK_DENSITY = 0.3


def classify_text_blocks(docs: DataFrame) -> DataFrame:
    """Segment each ``text`` into fixed-size token blocks and score salience
    with density features — the web analog of the highlight classifier
    (boilerplate stripping by text/link density, SURVEY §0).

    Fully relational: split → posexplode of token windows → per-block
    regexp-count features → content gate. Whole-stage codegen end to end;
    the only shuffle is whatever the consumer adds.

    The tokenization is staged through explicit projections (``_toks``,
    ``_btoks``): splicing ``split(norm)`` into the window lambda makes the
    higher-order ``transform`` re-evaluate the full-document split once PER
    block window — O(n_blocks x n_tokens) per doc (round-2 bench outlier).
    A materialized attribute reference is computed once; CollapseProject
    won't re-inline a non-cheap expression referenced more than once.
    """
    from .xengine import WS_RE

    norm = F.lower(
        F.trim(F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), WS_RE, " "))
    )
    base = docs.select(F.col("doc_id"), F.split(norm, " ").alias("_toks"))
    toks = F.col("_toks")
    n_blocks = F.ceil(F.size(toks) / F.lit(BLOCK_TOKENS)).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(n_blocks - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i * BLOCK_TOKENS + 1, BLOCK_TOKENS), " "),
    )
    exploded = (
        base.select(F.col("doc_id"), F.posexplode(windows).alias("block_idx", "block_text"))
        .filter(F.length("block_text") > 0)
        .select(
            F.col("doc_id"),
            "block_idx",
            "block_text",
            F.split(F.col("block_text"), " ").alias("_btoks"),
        )
    )

    n_tok = F.size(F.col("_btoks"))
    n_chars = F.length("block_text")
    n_alpha = F.regexp_count("block_text", F.lit("[a-z]"))
    n_link_tok = F.size(
        F.filter(
            F.col("_btoks"),
            lambda t: t.rlike("://") | t.startswith("www."),
        )
    )
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    link_density = n_link_tok / F.greatest(n_tok, F.lit(1))
    return exploded.select(
        F.col("doc_id"),
        F.col("block_idx").cast("long").alias("block_idx"),
        n_tok.cast("long").alias("n_tokens"),
        n_chars.cast("long").alias("n_chars"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(link_density, 6).alias("link_density"),
        (
            (n_tok >= BLOCK_MIN_TOKENS)
            & (alpha_ratio >= BLOCK_MIN_ALPHA_RATIO)
            & (link_density <= BLOCK_MAX_LINK_DENSITY)
        ).alias("is_content"),
    )
