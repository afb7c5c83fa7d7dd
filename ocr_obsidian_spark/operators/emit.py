"""Note emission: spans ⋈ corpus → rendered, schema-validated note rows.

Re-expresses reference ingest/emit_obsidian.py:235-356 as one equi-join plus
one Arrow-batched map stage. Two deliberate determinism fixes over the
reference (SURVEY.md §7.3):

  * the per-note ``uuid.uuid4()`` (ingest/emit_obsidian.py:280) becomes
    ``uuid5(NAMESPACE_URL, url + '#' + span_id)`` — stable across runs;
  * the run id is a caller-supplied parameter (ingest/utils_paths.py:23-24
    made explicit).

Notes are rows in a ``notes`` table (note_path, note_content, sidecar_json)
instead of filesystem writes — the sink decides materialization.
"""

from __future__ import annotations

import json
import re
import uuid
from dataclasses import dataclass, field
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.qa import compute_text_metrics, is_garbage_page, low_quality_placeholder
from ..functions.textclean import render_page_text, render_raw_text
from ..schemas import NOTES

# Frontmatter key whitelist — the vault schema contract
# (reference ingest/emit_obsidian.py:19-90).
OBSIDIAN_SCHEMA_KEYS = frozenset(
    {
        "address", "aliases", "birthday", "book_read_today",
        "bridge_applicability_scope", "bridge_applied", "bridge_broken",
        "bridge_conditions", "bridge_isomorphism", "bridge_justification",
        "bridge_methods", "bridge_preservation", "bridge_required",
        "bridge_uuids", "canonical_name", "cash_out", "creator", "dislikes",
        "dream_location", "dream_lucidity", "dream_motif",
        "dream_motif_valence", "email", "entity_type", "first_met", "format",
        "from_mode", "from_register", "hypnagogic_resonance", "interface",
        "iso_broken", "iso_justification", "iso_structure", "layer", "likes",
        "note_status", "note_type", "note_version", "occupation", "origin",
        "phone", "pillar", "publisher_studio", "quarantine_reasons",
        "racing_thoughts_while_awake", "ran_script_when_racing",
        "ran_script_yesterday", "reactivity", "recall_ability", "register",
        "register_mode", "relationship", "revision_triggers",
        "rhetoric_allowed", "rhetorical_device", "root",
        "speculation_quarantine", "stop_rule", "tags", "temporal_pace",
        "tension_type", "title", "to_mode", "to_register",
        "transition_attempted", "unity_level", "uuid", "vector_direction",
        "YAML_schema_version", "year",
    }
)

# Same shape as reference templates/obsidian_note.md.
DEFAULT_TEMPLATE = """---
uuid: {{uuid}}
note_version: {{note_version}}
YAML_schema_version: {{YAML_schema_version}}
note_type:
  - {{note_type}}
note_status:
  - {{note_status}}
tags:
{{tags_block}}
format:
  - {{format}}
title: {{title}}
creator: {{creator}}
year: {{year}}
publisher_studio: {{publisher_studio}}
register:
  - {{register}}
---

## Quote
{{quote_text}}

## Commentary
TODO

## Source
{{source_block}}
"""

_FRONTMATTER_RE = re.compile(r"\A---\r?\n(.*?)\r?\n---(?:\r?\n|$)", re.DOTALL)
_TOP_KEY_RE = re.compile(r"^([A-Za-z0-9_]+)\s*:")
_FILENAME_JUNK_RE = re.compile(r"[^A-Za-z0-9._-]+")


@dataclass(frozen=True)
class BookMeta:
    """Per-book metadata (reference BookConfig, ingest/types.py:11-27)."""

    title: str = ""
    creator: str = ""
    year: str = ""
    format: str = "book"
    publisher_studio: str = ""
    note_type: str = "literature_review"
    note_status: str = "inbox"
    note_version: str = "v0.1.3"
    yaml_schema_version: str = "v0.1.2"
    register: str = "public"
    tags: tuple[str, ...] = field(default=())


def yaml_quote(value: Any) -> str:
    """YAML-safe double-quoted scalar via JSON escaping
    (reference ingest/emit_obsidian.py:96-98)."""
    return json.dumps("" if value is None else str(value), ensure_ascii=False)


def sanitize_filename(value: str) -> str:
    collapsed = _FILENAME_JUNK_RE.sub("_", value).strip("._")
    return collapsed or "note"


def render_template(template: str, replacements: dict[str, str]) -> str:
    rendered = template
    for key, value in replacements.items():
        rendered = rendered.replace("{{" + key + "}}", value)
    return rendered


def build_tags_block(tags: list[str]) -> str:
    unique: list[str] = []
    for tag in tags:
        if tag not in unique:
            unique.append(tag)
    if not unique:
        return f"  - {yaml_quote('ingest/highlight_excerpt')}"
    return "\n".join(f"  - {yaml_quote(t)}" for t in unique)


def extract_frontmatter(note_content: str) -> str:
    m = _FRONTMATTER_RE.search(note_content)
    if not m:
        raise ValueError("note is missing a '---'-delimited frontmatter block")
    return m.group(1)


def validate_note(note_content: str) -> None:
    """Whitelist top-level frontmatter keys and require YAML-parseable
    frontmatter (reference ingest/emit_obsidian.py:171-209)."""
    block = extract_frontmatter(note_content)
    keys: set[str] = set()
    for line in block.splitlines():
        if not line or line.startswith((" ", "\t", "-")):
            continue
        m = _TOP_KEY_RE.match(line)
        if m:
            keys.add(m.group(1))
    bad = sorted(k for k in keys if k not in OBSIDIAN_SCHEMA_KEYS)
    if bad:
        raise ValueError(f"frontmatter keys outside schema: {', '.join(bad)}")

    import yaml  # deferred: executors only

    parsed = yaml.safe_load(block)
    if not isinstance(parsed, dict):
        raise ValueError("frontmatter did not parse into a mapping")


def note_uuid(url: str, span_id: str) -> str:
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"{url}#{span_id}"))


def _source_block(
    *, book_id: str, page_num: int, scan_relpath: str,
    printed_page_text: str | None, printed_page_kind: str | None,
    span: dict[str, Any], run_id: str, config_hash: str,
) -> str:
    rows = [
        f"- book_id: {book_id}",
        f"- page_num: {page_num}",
        f"- scan_relpath: {scan_relpath}",
        f"- span_id: {span['span_id']}",
        f"- line_ids: {', '.join(span.get('line_ids', []))}",
        f"- run_id: {run_id}",
        f"- config_hash: {config_hash}",
    ]
    if printed_page_text:
        if printed_page_kind:
            rows.append(f"- printed_page: {printed_page_text} ({printed_page_kind})")
        else:
            rows.append(f"- printed_page: {printed_page_text}")
    return "\n".join(rows)


def emit_notes(
    corpus: DataFrame,
    spans: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    *,
    run_id: str = "run-0",
    book_meta: BookMeta | None = None,
) -> DataFrame:
    """(url, span) → one validated note row per non-blank quote."""
    meta = book_meta or BookMeta()
    config_hash = cfg.config_hash()
    clean = cfg.clean_text
    qa = cfg.qa

    joined = spans.select("url", "spans").join(
        corpus.select(
            "url", "book_id", "page_num", "scan_relpath", "lines_json",
            "printed_page", "printed_page_text", "printed_page_kind",
        ),
        "url",
        "inner",
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for row in pdf.itertuples(index=False):
                lines = json.loads(row.lines_json) if row.lines_json else []
                by_id = {ln["line_id"]: ln for ln in lines}
                for span in row.spans:
                    span = dict(span)
                    quote_lines = [
                        by_id[i] for i in span.get("line_ids", []) if i in by_id
                    ]
                    metrics = compute_text_metrics(quote_lines)
                    if is_garbage_page(metrics, qa):
                        quote_text = low_quality_placeholder(
                            metrics, str(row.scan_relpath or "")
                        )
                    elif clean:
                        quote_text = render_page_text(quote_lines)
                    else:
                        quote_text = render_raw_text(quote_lines)
                    if not quote_text.strip():
                        continue

                    span_id = str(span["span_id"])
                    title = f"{meta.title or row.book_id} p{row.page_num} {span_id}"
                    note_name = sanitize_filename(f"{row.book_id}_{span_id}")
                    tags = ["book/" + str(row.book_id), "ingest/highlight_excerpt"]
                    tags += list(meta.tags)
                    replacements = {
                        "uuid": yaml_quote(note_uuid(row.url, span_id)),
                        "note_version": yaml_quote(meta.note_version),
                        "YAML_schema_version": yaml_quote(meta.yaml_schema_version),
                        "note_type": yaml_quote(meta.note_type),
                        "note_status": yaml_quote(meta.note_status),
                        "tags_block": build_tags_block(tags),
                        "format": yaml_quote(meta.format),
                        "title": yaml_quote(title),
                        "creator": yaml_quote(meta.creator),
                        "year": yaml_quote(meta.year),
                        "publisher_studio": yaml_quote(meta.publisher_studio),
                        "register": yaml_quote(meta.register),
                        "quote_text": quote_text,
                        "source_block": _source_block(
                            book_id=str(row.book_id),
                            page_num=int(row.page_num),
                            scan_relpath=str(row.scan_relpath or ""),
                            printed_page_text=(
                                None
                                if row.printed_page_text in (None, "")
                                else str(row.printed_page_text)
                            ),
                            printed_page_kind=(
                                None
                                if row.printed_page_kind in (None, "")
                                else str(row.printed_page_kind)
                            ),
                            span=span,
                            run_id=run_id,
                            config_hash=config_hash,
                        ),
                    }
                    note = render_template(DEFAULT_TEMPLATE, replacements)
                    validate_note(note)

                    sidecar: dict[str, Any] = {
                        "book_id": str(row.book_id),
                        "page_num": int(row.page_num),
                        "span_id": span_id,
                        "line_ids": [str(i) for i in span.get("line_ids", [])],
                        "trigger_bboxes": [
                            [int(v) for v in tb] for tb in span.get("trigger_bboxes", [])
                        ],
                        "span_bbox": [int(v) for v in span.get("span_bbox", [])],
                        "run_id": run_id,
                        "config_hash": config_hash,
                        "scan_relpath": str(row.scan_relpath or ""),
                    }
                    if row.printed_page_text not in (None, ""):
                        sidecar["printed_page"] = str(row.printed_page_text)
                    elif row.printed_page is not None and not pd.isna(row.printed_page):
                        sidecar["printed_page"] = str(int(row.printed_page))

                    out.append(
                        {
                            "url": row.url,
                            "span_id": span_id,
                            "note_path": f"{row.book_id}/{note_name}.md",
                            "note_content": note,
                            "sidecar_json": json.dumps(sidecar, ensure_ascii=False),
                            "quote_text": quote_text,
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in NOTES.fields])

    return joined.mapInPandas(run, schema=NOTES)
