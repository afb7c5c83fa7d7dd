"""Checkpoint-resume semantics (reference fail-closed overwrite analog,
ingest/utils_paths.py:75-117)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.checkpoint import (
    completed_buckets,
    read_output,
    run_resumable,
    with_bucket,
)
from ocr_obsidian_spark.operators.extract import extract_pages


def test_resume_skips_committed_buckets(spark, pages_df, tmp_path):
    out = str(tmp_path / "run")
    n1 = run_resumable(
        spark, pages_df, extract_pages, out_dir=out, run_id="r1", n_buckets=8
    )
    assert n1 == 8
    total = read_output(spark, out).count()
    assert total == pages_df.count()

    # simulate a partially-failed earlier attempt: second invocation must be
    # a no-op (all buckets committed)
    n2 = run_resumable(
        spark, pages_df, extract_pages, out_dir=out, run_id="r1", n_buckets=8
    )
    assert n2 == 0
    assert read_output(spark, out).count() == total
    assert completed_buckets(spark, out, "r1") == set(range(8))


def test_partial_resume_processes_only_missing(spark, pages_df, tmp_path):
    out = str(tmp_path / "run2")
    # first attempt only sees half the buckets (simulated partial failure)
    half = with_bucket(pages_df, 8).filter(F.col("ck_bucket") < 4).drop("ck_bucket")
    n1 = run_resumable(spark, half, extract_pages, out_dir=out, run_id="r1", n_buckets=8)
    assert 0 < n1 <= 4
    # resume with the full input: writes only the missing buckets
    n2 = run_resumable(
        spark, pages_df, extract_pages, out_dir=out, run_id="r1", n_buckets=8
    )
    assert n1 + n2 == 8
    assert read_output(spark, out).count() == pages_df.count()


def test_resume_with_lineage_never_clobbers_committed_buckets(spark, pages_df, tmp_path):
    """Lineage rows carry synthetic lineage:// urls that hash into arbitrary
    buckets; on resume they must NOT land in already-committed partitions —
    dynamic partition overwrite would silently replace committed corpus data
    with lineage-only partitions (round-2 ADVICE, checkpoint.py)."""
    from ocr_obsidian_spark.config import DEFAULT_CONFIG
    from ocr_obsidian_spark.operators.extract import (
        extract_pages_with_lineage,
        split_extract_lineage,
    )

    out = str(tmp_path / "runL")
    transform = lambda df: extract_pages_with_lineage(  # noqa: E731
        df, DEFAULT_CONFIG, run_id="r1"
    )
    # first attempt sees only buckets 0-5 (simulated partial input)
    half = with_bucket(pages_df, 8).filter(F.col("ck_bucket") < 6).drop("ck_bucket")
    n1 = run_resumable(spark, half, transform, out_dir=out, run_id="r1", n_buckets=8)
    assert n1 > 0
    committed = completed_buckets(spark, out, "r1")

    def bucket_counts():
        return {
            r["ck_bucket"]: r["cnt"]
            for r in spark.read.parquet(out + "/data")
            .groupBy("ck_bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    before = bucket_counts()
    # resume with the full input: only buckets 6-7 are pending; the resume's
    # lineage rows must be routed into those assigned buckets
    run_resumable(spark, pages_df, transform, out_dir=out, run_id="r1", n_buckets=8)
    after = bucket_counts()
    for b in committed:
        assert after[b] == before[b], f"committed bucket {b} was rewritten"
    corpus, lineage = split_extract_lineage(read_output(spark, out))
    assert corpus.count() == pages_df.count()  # no corpus rows lost
    assert lineage.count() > 0


def test_zero_row_buckets_still_commit(spark, pages_df, tmp_path):
    """A bucket whose transform legitimately yields 0 rows must get a
    manifest row (rows=0) so sparse runs converge to fully-complete."""
    out = str(tmp_path / "run3")

    def drop_everything(df):
        return extract_pages(df).filter(F.col("page_num") < 0)

    n1 = run_resumable(
        spark, pages_df, drop_everything, out_dir=out, run_id="r1", n_buckets=8
    )
    assert n1 == 8
    assert completed_buckets(spark, out, "r1") == set(range(8))
    # resume is a no-op — nothing reprocessed
    n2 = run_resumable(
        spark, pages_df, drop_everything, out_dir=out, run_id="r1", n_buckets=8
    )
    assert n2 == 0
