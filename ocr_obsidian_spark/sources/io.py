"""Table IO: parquet-first.

The reference's canonical corpus is JSONL (ingest/artifacts.py:43-59 write,
ingest/textmap.py:8-18 tolerant read). Our canonical store is parquet;
``write_table(..., format="iceberg")`` / ``read_table(..., format=
"iceberg")`` route the SAME call sites through the V2 ``writeTo`` /
``spark.table`` API against a configured Iceberg catalog (the
atomic-commit sink the resume contract assumes at cluster scale). The
Iceberg runtime jar is not present in this sandbox, so that path is
gated by an actionable catalog check (pinned by a test) and everything
here runs parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _require_catalog(spark: SparkSession, table: str) -> None:
    """Fail with an ACTIONABLE error when an iceberg table identifier
    names a catalog this session never registered (otherwise Spark
    falls back to spark_catalog and surfaces a confusing namespace
    error). ``catalog.db.table`` is the expected 3-part form."""
    cat = table.split(".", 1)[0]
    registered = spark.conf.get(f"spark.sql.catalog.{cat}", None)
    if registered is None and cat != "spark_catalog":
        raise RuntimeError(
            f"iceberg table {table!r}: catalog {cat!r} is not configured in "
            "this session. An Iceberg deployment needs the iceberg-spark-"
            "runtime jar on the cluster classpath and "
            f"spark.sql.catalog.{cat}=org.apache.iceberg.spark.SparkCatalog "
            "(+ warehouse settings); see sources/io.py docstring."
        )


def write_table(
    df: DataFrame,
    path: str,
    *,
    mode: str = "error",
    partition_by: list[str] | None = None,
    format: str = "parquet",
) -> None:
    """Canonical table sink — fail-closed default matches
    check_write_allowed('never') (reference ingest/utils_paths.py:75-95).

    ``format="parquet"`` (default): ``path`` is a filesystem/object-store
    directory. ``format="iceberg"``: ``path`` is a CATALOG TABLE
    IDENTIFIER (``catalog.db.table``) and the write goes through the V2
    ``writeTo`` API — ``create()`` for the fail-closed default,
    ``createOrReplace()`` for overwrite, ``append()`` for append — which
    is the atomic-commit sink the checkpoint/resume contract assumes at
    cluster scale (checkpoint.py:77). The Iceberg runtime jar + catalog
    config are cluster-side concerns (``spark.sql.catalog.<name>`` =
    SparkCatalog + warehouse); this sandbox has neither, so the gate
    below turns Spark's CATALOG_NOT_FOUND into an actionable error
    rather than a stack trace — pinned by a test."""
    if format == "iceberg":
        if mode not in ("error", "overwrite", "append"):
            raise ValueError(f"unknown mode for iceberg sink: {mode!r}")
        _require_catalog(df.sparkSession, path)
        writer = df.writeTo(path)
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "error":
            writer.create()
        elif mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    if format != "parquet":
        raise ValueError(f"unknown table format: {format!r}")
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_table(spark: SparkSession, path: str, *, format: str = "parquet") -> DataFrame:
    """Canonical table source: parquet directory, or a catalog table
    identifier when ``format="iceberg"`` (``spark.table`` — Iceberg
    scans support the same pushdown/pruning the parquet plan tests pin,
    plus partition-level stats the checkpoint resume can use)."""
    if format == "iceberg":
        _require_catalog(spark, path)
        return spark.table(path)
    if format != "parquet":
        raise ValueError(f"unknown table format: {format!r}")
    return spark.read.parquet(path)
