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
equi-joins.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.blocks import detect_blocks
from ..operators.emit import BookMeta, emit_notes
from ..operators.extract import extract_pages_with_lineage, split_extract_lineage
from ..operators.printed_page import apply_printed_page_mode
from ..operators.spans_op import make_spans


@dataclass
class PipelineResult:
    corpus: DataFrame
    spans: DataFrame | None
    notes: DataFrame | None
    lineage: DataFrame | None = None


def run_pipeline(
    pages: DataFrame,
    triggers: DataFrame | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    run_id: str = "run-0",
    book_meta: BookMeta | None = None,
    broadcast_triggers: bool = True,
    detect_triggers: bool = False,
) -> PipelineResult:
    """``detect_triggers=True`` computes block candidates FROM the pages
    themselves (operators/blocks.py — the reference detect-highlights stage)
    instead of consuming a supplied triggers table; the spans/notes half of
    the pipeline then runs from raw input alone."""
    if detect_triggers:
        if triggers is not None:
            raise ValueError("pass either triggers or detect_triggers, not both")
        triggers = detect_blocks(pages, cfg)
    # single pass: corpus rows + per-partition lineage rows from ONE
    # mapInPandas (the input is never re-read for metrics)
    # stage boundary: the mode window, the lineage split and every
    # downstream consumer read the one-pass extract output instead of
    # re-running the UDF (the reference's single-OCR-pass rule,
    # README.md:3-8; at cluster scale this boundary is the checkpointed
    # corpus table itself)
    combined = extract_pages_with_lineage(pages, cfg, run_id=run_id).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    raw, lineage = split_extract_lineage(combined)
    corpus = apply_printed_page_mode(raw, cfg)
    spans = notes = None
    if triggers is not None:
        spans = make_spans(corpus, triggers, cfg, broadcast_triggers=broadcast_triggers)
        notes = emit_notes(corpus, spans, cfg, run_id=run_id, book_meta=book_meta)
    return PipelineResult(corpus=corpus, spans=spans, notes=notes, lineage=lineage)
