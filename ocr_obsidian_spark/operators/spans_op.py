"""Block candidates ⋈ corpus → context spans.

Pipeline (reference ingest/highlights.py:61-155 + ingest/spans.py:133-214,
re-expressed Spark-first):

  1. shape-gate the raw block candidates RELATIONALLY — the area floor and
     tall/skinny/edge rejection filters are pure column expressions over the
     candidates array (higher-order ``filter``), evaluated JVM-side inside
     whole-stage codegen (no Python);
  2. equi-join candidates to the corpus on url — the candidate side is
     normally much smaller (pages with highlights ≪ all pages), so it is
     broadcast when requested, else a shuffle join that AQE sizes;
  3. the trigger↔line geometric overlap match (a page-LOCAL theta join:
     both arrays live on the same row after the equi-join — never a
     cross-partition join), median-anchor selection, ±k context slice and
     first-seen merge run inside one Arrow-batched pandas UDF.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.geometry import build_page_spans
from ..schemas import SPAN


def filter_block_candidates(
    triggers: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Apply the block shape gates to the ``candidates`` array column.

    Requires ``page_width``/``page_height`` columns on the frame (join the
    corpus first). Mirrors reference ingest/highlights.py:61-83,128-130 as pure
    column expressions.
    """
    b = cfg.blocks
    pw = F.col("page_width")
    ph = F.col("page_height")

    def keep(c):  # noqa: ANN001 — pyspark Column lambda
        x1 = c["bbox"][0].cast("double")
        y1 = c["bbox"][1].cast("double")
        x2 = c["bbox"][2].cast("double")
        y2 = c["bbox"][3].cast("double")
        width = F.greatest(F.lit(1.0), x2 - x1)
        height = F.greatest(F.lit(1.0), y2 - y1)
        hw_ratio = height / width
        height_frac = height / F.greatest(F.lit(1.0), ph.cast("double"))
        near_edge = (x1 <= F.lit(b.edge_margin_px)) | (
            x2 >= (pw.cast("double") - F.lit(b.edge_margin_px))
        )
        # frame-crop analog (reference ingest/highlights.py:117-121): the
        # reference zeroes the outer frame_crop_frac of the pixel mask
        # before component detection; at bbox granularity we drop
        # candidates lying wholly inside either margin band (partially
        # overlapping ones would have been reshaped in pixel space — not
        # reproducible from boxes, documented deviation)
        crop = F.round(pw.cast("double") * F.lit(b.frame_crop_frac))
        in_margin = (x2 <= crop) | (x1 >= pw.cast("double") - crop)
        return (
            (c["area"] >= F.lit(b.min_area))
            & ~in_margin
            & (hw_ratio <= F.lit(b.max_hw_ratio))
            & (height_frac <= F.lit(b.max_height_frac))
            & ~(near_edge & (height_frac > F.lit(b.max_height_frac * 0.6)))
        )

    return triggers.withColumn("candidates", F.filter("candidates", keep))


def make_spans(
    corpus: DataFrame,
    triggers: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """corpus ⋈ triggers → (url, page_num, spans) with deterministic
    ``p{page}_s{idx}`` span ids. No broadcast hint: the triggers table is
    data-derived, so AQE sizes the join from its actual bytes."""
    s = cfg.spans

    joined = corpus.select(
        "url", "page_num", "page_width", "page_height", "lines_json"
    ).join(triggers.select("url", "candidates"), "url", "inner")
    gated = filter_block_candidates(joined, cfg)
    gated = gated.filter(F.size("candidates") > 0).filter(F.length("lines_json") > 2)

    @F.pandas_udf(T.ArrayType(SPAN, False))
    def spans_udf(
        lines_s: pd.Series, cands_s: pd.Series, page_num_s: pd.Series
    ) -> pd.Series:
        import json as _json

        out: list[list[dict[str, Any]]] = []
        for lines_json, cands, page_num in zip(lines_s, cands_s, page_num_s):
            lines = _json.loads(lines_json) if lines_json else []
            line_dicts = [
                {"line_id": ln["line_id"], "bbox": list(ln["bbox"])} for ln in lines
            ]
            trigger_bboxes = [list(c["bbox"]) for c in cands]
            out.append(
                build_page_spans(
                    line_dicts,
                    trigger_bboxes,
                    int(page_num),
                    k_before=s.k_before,
                    k_after=s.k_after,
                    min_overlap_frac=s.min_overlap_frac,
                    min_x_overlap_px=s.min_x_overlap_px,
                    max_overlap_lines=s.max_overlap_lines,
                )
            )
        return pd.Series(out)

    return gated.select(
        "url",
        "page_num",
        spans_udf(F.col("lines_json"), F.col("candidates"), F.col("page_num")).alias(
            "spans"
        ),
    ).filter(F.size("spans") > 0)
