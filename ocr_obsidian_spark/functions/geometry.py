"""Page geometry: line segmentation, bbox algebra, span selection/merging,
and block shape gates.

All page-local; pinned to reference semantics:
  * greedy y-center line clustering     — ingest/ocr.py:82-127
  * bbox union / intersection / overlap — ingest/spans.py:22-50
  * trigger↔line matching + span build  — ingest/spans.py:53-114, 169-214
  * block (highlight) shape filters     — ingest/highlights.py:61-83
"""

from __future__ import annotations

from operator import itemgetter
from typing import Any

BBox = list[int]  # [x1, y1, x2, y2]


def y_center(bbox: BBox) -> float:
    return (bbox[1] + bbox[3]) / 2.0


def bbox_union(boxes: list[BBox]) -> BBox:
    # single pass instead of four min/max generator sweeps — this sits in
    # the per-line hot loop of the extraction UDF
    first = boxes[0]
    x1, y1, x2, y2 = first[0], first[1], first[2], first[3]
    for b in boxes:
        if b[0] < x1:
            x1 = b[0]
        if b[1] < y1:
            y1 = b[1]
        if b[2] > x2:
            x2 = b[2]
        if b[3] > y2:
            y2 = b[3]
    return [x1, y1, x2, y2]


def bbox_intersection(a: BBox, b: BBox) -> tuple[int, int, int]:
    """(area, width, height) of the intersection; zeros when disjoint."""
    x1 = max(a[0], b[0])
    y1 = max(a[1], b[1])
    x2 = min(a[2], b[2])
    y2 = min(a[3], b[3])
    if x2 <= x1 or y2 <= y1:
        return 0, 0, 0
    return (x2 - x1) * (y2 - y1), x2 - x1, y2 - y1


def group_lines(
    words: list[dict[str, Any]], page_num: int, y_tolerance_px: int
) -> list[dict[str, Any]]:
    """Greedy y-center clustering of words into lines.

    Words sorted by (y-center, x1); each word joins the first existing
    cluster (in creation order) whose running-mean y-center is within
    tolerance, else starts a new cluster; clusters then sort by y-center and
    words within a line by x1 (reference ingest/ocr.py:95-127). Sequential
    per page by design — parallelism is across pages.

    Dead clusters are pruned, which is exact: words arrive in nondecreasing
    y-center ``cy``, and a cluster's mean changes only when a word joins it.
    Once ``cy - mean > tol`` for a cluster, every later word has
    ``cy' >= cy``, and float subtraction rounds monotonically, so
    ``cy' - mean >= cy - mean > tol``: the cluster can never match again.
    Dropping it from the creation-ordered list of live clusters therefore
    leaves the first match among the survivors equal to the first match
    over all clusters. Each cluster is dropped at most once, and a live
    cluster is passed over without matching only when its mean exceeds
    ``cy + tol`` (possible only once sums round, beyond 2^52), so the
    search is O(1) amortized per word on real pages (the 10⁷-byte page
    has ~10⁵ words over ~10⁴ lines).
    """
    if not words:
        return []

    # natural tuple sort: (cy, x1, insertion index) needs no key lambda —
    # the index tiebreak reproduces key-sort stability exactly, and dicts
    # never reach the comparison
    keyed = sorted(
        ((b[1] + b[3]) / 2.0, b[0], i, w)
        for i, w in enumerate(words)
        for b in (w["bbox"],)
    )
    # a cluster is [mean, sum, words]. Running mean via incremental sum —
    # float-add order is identical to re-summing in insertion order, so the
    # mean (and thus clustering) is bit-exact vs the reference's recompute
    # (ocr.py:107).
    clusters: list[list[Any]] = []
    live: list[list[Any]] = []  # clusters that can still match, creation order
    tol = float(y_tolerance_px)
    for cy, _, _, w in keyed:
        j = 0
        n = len(live)
        while j < n:
            d = cy - live[j][0]
            if d > tol:
                del live[j]
                n -= 1
            elif d >= -tol:  # abs(d) <= tol
                break
            else:
                j += 1
        if j < n:
            c = live[j]
            wl = c[2]
            wl.append(w)
            s = c[1] + cy
            c[1] = s
            c[0] = s / len(wl)
        else:
            c = [cy, cy, [w]]
            clusters.append(c)
            live.append(c)

    # stable sort by final mean — creation-order ties preserved, as in the
    # reference's clusters.sort(key=cy)
    clusters.sort(key=itemgetter(0))
    lines: list[dict[str, Any]] = []
    for idx, c in enumerate(clusters, start=1):
        ws = sorted(c[2], key=lambda w: w["bbox"][0])
        lines.append(
            {
                "line_id": f"p{page_num}_l{idx}",
                "bbox": bbox_union([w["bbox"] for w in ws]),
                "words": ws,
                "text": " ".join([str(w["text"]) for w in ws]),
            }
        )
    return lines


def admit_word(text: str, confidence: Any, width: int, height: int) -> bool:
    """Word admission filter at tokenize time: non-blank text, parseable
    non-negative confidence, positive extent (reference ingest/ocr.py:55-71)."""
    if not str(text).strip():
        return False
    try:
        conf = float(confidence)
    except (TypeError, ValueError):
        return False
    if conf < 0:
        return False
    return width > 0 and height > 0


def line_matches_trigger(
    line_bbox: BBox,
    trigger_bbox: BBox,
    *,
    min_overlap_frac: float,
    min_x_overlap_px: int,
) -> bool:
    """Overlap predicate: intersection/line-area >= frac, OR x-overlap >=
    pixel floor with any y-overlap (reference ingest/spans.py:53-66)."""
    area, ow, oh = bbox_intersection(line_bbox, trigger_bbox)
    if area <= 0:
        return False
    line_area = max(1, (line_bbox[2] - line_bbox[0]) * (line_bbox[3] - line_bbox[1]))
    if area / line_area >= min_overlap_frac:
        return True
    return ow >= min_x_overlap_px and oh > 0


def select_line_indexes(
    lines: list[dict[str, Any]],
    trigger_bbox: BBox,
    *,
    min_overlap_frac: float,
    min_x_overlap_px: int,
    max_overlap_lines: int,
) -> list[int]:
    """Lines matched by a trigger; nearest-by-y fallback when none match and
    nearest-only cap when too many match (reference ingest/spans.py:69-101)."""
    matched = [
        i
        for i, ln in enumerate(lines)
        if line_matches_trigger(
            ln["bbox"],
            trigger_bbox,
            min_overlap_frac=min_overlap_frac,
            min_x_overlap_px=min_x_overlap_px,
        )
    ]
    t_center = (trigger_bbox[1] + trigger_bbox[3]) / 2.0

    def dist(i: int) -> float:
        return abs(y_center(lines[i]["bbox"]) - t_center)

    if matched:
        if len(matched) > max_overlap_lines:
            return [min(matched, key=dist)]
        return matched
    return [min(range(len(lines)), key=dist)]


def build_page_spans(
    lines: list[dict[str, Any]],
    triggers: list[BBox],
    page_num: int,
    *,
    k_before: int,
    k_after: int,
    min_overlap_frac: float,
    min_x_overlap_px: int,
    max_overlap_lines: int,
) -> list[dict[str, Any]]:
    """Triggers → merged, deterministically numbered context spans.

    Per trigger: match lines, take the median matched index as anchor, slice
    [anchor-k_before, anchor+k_after]; then merge spans sharing an identical
    line_ids key (first-seen order preserved — span_id numbering depends on
    it) (reference ingest/spans.py:169-214, 104-114).
    """
    if not lines:
        return []

    raw: list[dict[str, Any]] = []
    for trig in triggers:
        t = [int(v) for v in trig]
        idxs = select_line_indexes(
            lines,
            t,
            min_overlap_frac=min_overlap_frac,
            min_x_overlap_px=min_x_overlap_px,
            max_overlap_lines=max_overlap_lines,
        )
        anchor = sorted(idxs)[len(idxs) // 2]
        start = max(0, anchor - k_before)
        end = min(len(lines) - 1, anchor + k_after)
        chunk = lines[start : end + 1]
        raw.append(
            {
                "line_ids": [ln["line_id"] for ln in chunk],
                "trigger_bboxes": [t],
                "span_bbox": bbox_union([ln["bbox"] for ln in chunk]),
            }
        )

    merged: dict[tuple[str, ...], dict[str, Any]] = {}
    for span in raw:
        key = tuple(span["line_ids"])
        if key in merged:
            prev = merged[key]
            prev["trigger_bboxes"] = prev["trigger_bboxes"] + span["trigger_bboxes"]
            prev["span_bbox"] = bbox_union([prev["span_bbox"], span["span_bbox"]])
        else:
            merged[key] = dict(span)

    return [
        {
            "span_id": f"p{page_num}_s{i}",
            "page_num": page_num,
            **span,
        }
        for i, span in enumerate(merged.values(), start=1)
    ]


def passes_block_shape_filters(
    bbox: BBox,
    *,
    page_width: int,
    page_height: int,
    edge_margin_px: int,
    max_hw_ratio: float,
    max_height_frac: float,
) -> bool:
    """Reject tall/skinny or page-spanning blocks, and tall blocks hugging a
    vertical edge (reference ingest/highlights.py:61-83)."""
    x1, y1, x2, y2 = bbox
    width = max(1, int(x2) - int(x1))
    height = max(1, int(y2) - int(y1))
    if height / width > max_hw_ratio:
        return False
    height_frac = height / max(1, page_height)
    if height_frac > max_height_frac:
        return False
    near_edge = x1 <= edge_margin_px or x2 >= (page_width - edge_margin_px)
    if near_edge and height_frac > max_height_frac * 0.6:
        return False
    return True
