"""The extraction pipeline, composed.

    pages ──extract_pages_with_lineage──► corpus' + lineage
                                            │ apply_printed_page_mode
                                            ▼
                                          corpus

Stage boundaries mirror the reference's five CLI stages (SURVEY.md §0) but
collapse the page-local work into a single map stage with exactly one
required shuffle (the per-book mode window). ``run_pipeline`` is the CLI
``extract`` stage; spans (``operators.spans_op.make_spans``) and notes
(``operators.emit.emit_notes``) are their own stages downstream of the
written corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.extract import extract_pages_with_lineage, split_extract_lineage
from ..operators.printed_page import apply_printed_page_mode


@dataclass
class PipelineResult:
    corpus: DataFrame
    lineage: DataFrame
    combined: DataFrame  # persisted extract output; unpersist after the writes


def run_pipeline(
    pages: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG, *, run_id: str = "run-0"
) -> PipelineResult:
    """pages → corpus + per-partition lineage."""
    # stage boundary: corpus and lineage rows come from ONE mapInPandas,
    # and the lineage split, the mode window and every downstream consumer
    # read its persisted output instead of re-running the UDF (the
    # reference's single-OCR-pass rule, README.md:3-8)
    combined = extract_pages_with_lineage(pages, cfg, run_id=run_id).persist()
    raw, lineage = split_extract_lineage(combined)
    corpus = apply_printed_page_mode(raw, cfg)
    return PipelineResult(corpus=corpus, lineage=lineage, combined=combined)
