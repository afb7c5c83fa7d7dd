"""export-book-text operator (reference cli.py:162-215 analog) + lineage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.export_text import export_book_text
from ocr_obsidian_spark.operators.extract import extract_pages
from ocr_obsidian_spark.operators.printed_page import apply_printed_page_mode


@pytest.fixture(scope="module")
def corpus(spark, pages_df):
    return apply_printed_page_mode(extract_pages(pages_df)).cache()


def test_export_txt_ordered_and_complete(corpus):
    out = {r["book_id"]: r["content"] for r in export_book_text(corpus, fmt="txt").collect()}
    assert set(out) == {"b00", "b01", "b02"}
    content = out["b01"]
    # every page contributes a header, in page order
    positions = [content.find(f"# Page {p}\n") for p in range(1, 19)]
    assert all(p >= 0 for p in positions)
    assert positions == sorted(positions)
    # garbage page carries the placeholder
    assert "OCR LOW QUALITY" in content


def test_export_md_headers(corpus):
    out = {r["book_id"]: r["content"] for r in export_book_text(corpus, fmt="md").collect()}
    md = out["b00"]
    assert md.startswith("# b00\n\n")
    assert "## Page " in md and "(scan: scan_0001.png)" in md
    # printed page preferred for display: book b00 page 4 detected arabic 12
    assert "## Page 12 (scan: scan_0004.png)" in md


def _reference_export(rows, fmt, title=None):
    """Byte-exact replica of reference cli.py:173-209 part assembly, driven
    from the same per-page values the Spark operator consumes."""
    pages = sorted(rows, key=lambda r: int(r["page_num"]))
    if fmt == "md":
        book_id = pages[0]["book_id"]
        parts = [f"# {title or book_id}".strip(), ""]
    else:
        parts = []
    for page in pages:
        page_num = int(page["page_num"])
        printed = page["printed_page"]
        display = page_num if printed in (None, "") else printed
        scan = page["scan_relpath"] or ""
        page_text = page["extracted_text"] or ""
        if fmt == "md":
            parts.append(f"## Page {display} (scan: {scan})".rstrip())
            parts.append(page_text.strip())
            parts.append("---")
            parts.append("")
        else:
            parts.append(f"# Page {page_num}\n{page_text}".strip())
    return "\n\n".join(parts).strip() + "\n"


@pytest.mark.parametrize("fmt", ["txt", "md"])
def test_export_byte_identical_to_reference_join(corpus, fmt):
    """The reference's empty separator parts give 4-newline gaps (md) and
    str.strip() removes newlines, not just spaces — pinned byte-for-byte."""
    by_book: dict[str, list] = {}
    for r in corpus.collect():
        by_book.setdefault(r["book_id"], []).append(r.asDict())
    out = {r["book_id"]: r["content"] for r in export_book_text(corpus, fmt=fmt).collect()}
    assert set(out) == set(by_book)
    for book_id, rows in by_book.items():
        assert out[book_id] == _reference_export(rows, fmt), book_id


def test_single_pass_extract_lineage(spark, pages_df):
    """extract_pages_with_lineage emits corpus AND per-partition metrics
    from one map stage; every data row equals the driver-side page-local
    function plus the pass-through columns."""
    from ocr_obsidian_spark.config import DEFAULT_CONFIG
    from ocr_obsidian_spark.operators.extract import (
        _extract_one,
        extract_pages_with_lineage,
        split_extract_lineage,
    )

    src = pages_df.repartition(5)
    combined = extract_pages_with_lineage(src, run_id="sp").cache()
    got_corpus, lineage = split_extract_lineage(combined)
    lrows = lineage.collect()
    assert len(lrows) == 5
    assert sum(r["rows_in"] for r in lrows) == pages_df.count()
    assert all(r["stage"] == "extract" and r["run_id"] == "sp" for r in lrows)
    assert sum(r["bytes_in"] for r in lrows) > 0
    covered = [r for r in lrows if r["min_url"] is not None]
    assert covered and all(r["min_url"] <= r["max_url"] for r in covered)
    pages = {r["url"]: r for r in pages_df.collect()}
    got = {r["url"]: r.asDict() for r in got_corpus.collect()}
    assert set(got) == set(pages)
    config_hash = DEFAULT_CONFIG.config_hash()
    for url, row in got.items():
        page = pages[url]
        want = _extract_one(url, page["html"], DEFAULT_CONFIG)
        want.update(
            url=url, warc_ts=page["warc_ts"], lang=page["lang"], config_hash=config_hash
        )
        assert row == want, url
    combined.unpersist()


def test_pipeline_result_carries_lineage(spark, pages_df):
    from ocr_obsidian_spark.plans.pipeline import run_pipeline

    res = run_pipeline(pages_df, run_id="lr")
    rows = res.lineage.collect()
    assert rows and sum(r["rows_in"] for r in rows) == pages_df.count()


def test_commit_tables_fail_closed(spark, corpus, tmp_path):
    import pytest as _pytest

    from ocr_obsidian_spark.sources.io import OverwriteError, commit_tables

    path = str(tmp_path / "tbl")
    df = corpus.select("url", "extracted_text")
    assert commit_tables({path: df}, "never") == {path: corpus.count()}
    for target in (path, f"file://{path}"):  # the URI form is not a local path
        with _pytest.raises(OverwriteError):
            commit_tables({target: df}, "never")
    assert spark.read.parquet(path).count() == corpus.count()
    assert [p.name for p in tmp_path.iterdir()] == ["tbl"]  # nothing staged left


def test_frame_crop_candidates_dropped(spark, corpus):
    from ocr_obsidian_spark.operators.spans_op import filter_block_candidates
    from pyspark.sql import functions as F

    rows = [
        # wholly in the left margin band (x2 <= 0.02*1000 = 20)
        ("u1", [{"bbox": [2, 300, 18, 340], "area": 640, "color_stats": {}}]),
        # normal block
        ("u2", [{"bbox": [100, 300, 500, 340], "area": 16000, "color_stats": {}}]),
    ]
    from ocr_obsidian_spark.schemas import TRIGGERS
    t = spark.createDataFrame(rows, schema=TRIGGERS)
    t = t.withColumn("page_width", F.lit(1000)).withColumn("page_height", F.lit(1400))
    out = {r["url"]: len(r["candidates"]) for r in filter_block_candidates(t).collect()}
    assert out["u1"] == 0
    assert out["u2"] == 1


def test_run_extract_job_script_rerun_idempotent(spark, pages_df, tmp_path, monkeypatch):
    """The cluster entry script end-to-end, twice with the same run_id: the
    second invocation must commit 0 new buckets, keep the corpus intact,
    and NOT duplicate lineage rows in _lineage (round-2 ADVICE: the old
    append-mode export re-appended the full history every rerun)."""
    import sys
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1] / "scripts"))
    import run_extract_job

    inp = str(tmp_path / "pages_in")
    out = str(tmp_path / "job_out")
    pages_df.write.parquet(inp)

    def run_once():
        monkeypatch.setattr(
            sys, "argv",
            ["run_extract_job.py", "--input", inp, "--out", out,
             "--run-id", "rX", "--buckets", "8"],
        )
        # reuse the session-scoped spark instead of building a new one
        monkeypatch.setattr(
            run_extract_job.SparkSession, "builder", _FakeBuilder(spark)
        )
        run_extract_job.main()

    class _FakeBuilder:
        def __init__(self, s):
            self._s = s
        def appName(self, _):
            return self
        def getOrCreate(self):
            return self._s

    stopped = {"n": 0}
    monkeypatch.setattr(spark, "stop", lambda: stopped.__setitem__("n", stopped["n"] + 1))
    run_once()
    lineage1 = spark.read.parquet(f"{out}/_lineage/run_id=rX").collect()
    run_once()
    lineage2 = spark.read.parquet(f"{out}/_lineage/run_id=rX").collect()
    assert len(lineage2) == len(lineage1)  # no duplication on rerun
    from ocr_obsidian_spark.operators.checkpoint import read_output
    from ocr_obsidian_spark.operators.extract import split_extract_lineage

    corpus, _ = split_extract_lineage(read_output(spark, out))
    assert corpus.count() == pages_df.count()
    assert stopped["n"] == 2
