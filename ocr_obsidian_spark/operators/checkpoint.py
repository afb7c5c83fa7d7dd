"""Checkpoint-resumable runs: per-bucket manifest + idempotent bucket writes.

Re-expresses the reference's fail-closed overwrite / resume-by-run-id design
(ingest/utils_paths.py:75-95,105-117) for a distributed table:

  * the corpus is hash-bucketed on ``xxhash64(url)`` into ``n_buckets``
    checkpoint units (the partition column of the output table);
  * a small ``manifest`` table records (run_id, bucket, rows) — a bucket's
    manifest row is appended ONLY after its data is durably written and
    re-readable (fail-closed: torn writes never appear committed);
  * resuming the same run_id filters the input to buckets without a manifest
    row and rewrites exactly those via dynamic partition overwrite —
    idempotent, and completed buckets are never touched ("never" overwrite
    semantics for committed work, "if_same_run" for incomplete work).

One Spark job processes ALL pending buckets — no driver-side per-bucket loop,
so resume cost scales with remaining work, not bucket count.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

BUCKET_COL = "ck_bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "data")


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> set[int]:
    path = _manifest_path(out_dir)
    try:
        mf = spark.read.parquet(path)
    except Exception:
        return set()
    rows = mf.filter(F.col("run_id") == run_id).select(BUCKET_COL).distinct().collect()
    return {int(r[0]) for r in rows}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    *,
    out_dir: str,
    run_id: str,
    n_buckets: int = 64,
) -> int:
    """Run ``transform`` over the not-yet-committed buckets of ``pages`` and
    commit them; returns the number of buckets committed this invocation.

    The committed set is the pending buckets PRESENT IN THE INPUT, not the
    data partitions that happen to exist after the write — a bucket whose
    transform legitimately produces 0 rows still gets a manifest row (rows=0)
    and is never reprocessed, so sparse runs converge to fully-complete.
    Buckets absent from the input entirely remain pending (fail-closed: a
    truncated upstream never registers its missing buckets as done), and
    the manifest's row counts are always re-read from the durable files.
    """
    done = completed_buckets(spark, out_dir, run_id)
    pending = sorted(set(range(n_buckets)) - done)
    if not pending:
        return 0
    src = with_bucket(pages, n_buckets)
    if done:
        src = src.filter(F.col(BUCKET_COL).isin(pending))

    # buckets actually assigned work this invocation (a narrow url-column
    # scan; with Iceberg this set comes free from partition-level stats)
    assigned = sorted(
        r[0] for r in src.select(BUCKET_COL).distinct().collect()
    )
    if not assigned:
        return 0

    out = transform(src.drop(BUCKET_COL))
    out = with_bucket(out, n_buckets)
    # Rows whose natural bucket is NOT assigned this invocation (synthetic
    # urls a transform may emit, e.g. extract_pages_with_lineage's
    # lineage:// rows) must never land in a committed partition — dynamic
    # partition overwrite would silently replace committed corpus data with
    # a lineage-only partition on resume. Re-route them deterministically
    # into an assigned bucket instead. Data rows keep their input urls, so
    # their buckets are already in `assigned` and pass through unchanged.
    # (`assigned` is a driver-side list either way; the literal array is
    # bounded by n_buckets, the same bound completed_buckets already has.)
    if len(assigned) < n_buckets:
        assigned_arr = F.array(*[F.lit(b) for b in assigned])
        fallback = F.element_at(
            assigned_arr,
            (F.pmod(F.xxhash64(F.col("url")), F.lit(len(assigned))) + 1).cast("int"),
        )
        out = out.withColumn(
            BUCKET_COL,
            F.when(F.col(BUCKET_COL).isin(assigned), F.col(BUCKET_COL)).otherwise(fallback),
        )

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            out.write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(_data_path(out_dir))
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    assigned_df = spark.createDataFrame(
        [(run_id, b) for b in assigned], schema=f"run_id string, {BUCKET_COL} int"
    )
    # fail-closed commit: count rows back from the durable files; buckets
    # whose transform produced no rows commit as rows=0 via the left join.
    try:
        written = (
            spark.read.parquet(_data_path(out_dir))
            .filter(F.col(BUCKET_COL).isin(assigned))
            .groupBy(BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("rows"))
        )
    except AnalysisException as exc:
        # fail-closed: ONLY the no-files case (every assigned bucket
        # produced 0 rows — no parquet footers to infer a schema from)
        # commits as all-zero counts. Any other readback failure (torn
        # files, transient FS error) must abort the commit, or the
        # manifest would mark torn buckets complete with rows=0.
        getter = getattr(exc, "getCondition", None) or getattr(
            exc, "getErrorClass", lambda: None
        )
        cond = getter() or str(exc)
        if "PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond:
            written = spark.createDataFrame([], schema=f"{BUCKET_COL} int, rows long")
        else:
            raise
    manifest_rows = assigned_df.join(written, BUCKET_COL, "left").select(
        "run_id", BUCKET_COL, F.coalesce(F.col("rows"), F.lit(0)).alias("rows")
    )
    manifest_rows.write.mode("append").parquet(_manifest_path(out_dir))
    return len(assigned)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(_data_path(out_dir)).drop(BUCKET_COL)
