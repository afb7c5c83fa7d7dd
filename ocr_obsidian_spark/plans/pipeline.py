"""The full extraction pipeline, composed.

    pages ──extract_pages_with_lineage──► corpus' + lineage
                                            │ apply_printed_page_mode
                                            ▼
                                          corpus ─────────┐
                                            │             │
    triggers ─────────make_spans────────────┤             │
                                            ▼             ▼
                                          spans ──► emit_notes ──► notes

Stage boundaries mirror the reference's five CLI stages (SURVEY.md §0) but
collapse the page-local work into single map stages; the whole pipeline has
exactly one required shuffle (the per-book mode window) plus the spans/emit
equi-joins. The CLI ``extract`` stage is ``run_pipeline`` without triggers.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.emit import BookMeta, emit_notes
from ..operators.extract import extract_pages_with_lineage, split_extract_lineage
from ..operators.printed_page import apply_printed_page_mode
from ..operators.spans_op import make_spans


@dataclass
class PipelineResult:
    corpus: DataFrame
    spans: DataFrame | None
    notes: DataFrame | None
    lineage: DataFrame
    combined: DataFrame  # persisted extract output; unpersist after the writes


def run_pipeline(
    pages: DataFrame,
    triggers: DataFrame | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    run_id: str = "run-0",
    book_meta: BookMeta | None = None,
) -> PipelineResult:
    """pages → corpus + per-partition lineage, plus spans and notes when
    ``triggers`` (e.g. ``operators.blocks.detect_blocks(pages, cfg)``)
    are given."""
    # stage boundary: corpus and lineage rows come from ONE mapInPandas,
    # and the lineage split, the mode window and every downstream consumer
    # read its persisted output instead of re-running the UDF (the
    # reference's single-OCR-pass rule, README.md:3-8)
    combined = extract_pages_with_lineage(pages, cfg, run_id=run_id).persist()
    raw, lineage = split_extract_lineage(combined)
    corpus = apply_printed_page_mode(raw, cfg)
    spans = notes = None
    if triggers is not None:
        spans = make_spans(corpus, triggers, cfg)
        notes = emit_notes(corpus, spans, cfg, run_id=run_id, book_meta=book_meta)
    return PipelineResult(
        corpus=corpus, spans=spans, notes=notes, lineage=lineage, combined=combined
    )
