"""SparkSession factory tuned for the extraction workload."""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Executor Python workers resolve imports from PYTHONPATH, not the driver's
# sys.path. On a real cluster the package ships via ``spark-submit
# --py-files ocr_obsidian_spark.zip``; for local/driver-launched sessions we
# export the package's parent directory so workers can import it from any cwd.
_PKG_PARENT = str(Path(__file__).resolve().parent.parent)


def build_session(
    app_name: str = "ocr_obsidian_spark",
    master: str | None = None,
    *,
    shuffle_partitions: int = 32,
    arrow_max_records_per_batch: int = 512,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session defaults chosen for the pipeline's shape:

    * AQE on (runtime shuffle sizing + skew-join splitting);
    * Arrow on with BOUNDED batches — pages vary 10^2–10^7 bytes, so small
      record batches cap per-batch executor memory on the skew tail;
    * shuffle partitions sized to local cores (overridden on clusters via
      spark-submit conf);
    * a whole-stage codegen cache that holds the working set of a
      long-lived session, so a repeated stage compiles nothing: one pass
      generates 140 distinct classes for ``prepare``, 31 for ``extract``
      and 836 for ``bench.py`` at sf0.01, against Spark's default cap of
      100 LRU entries.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    worker_pythonpath = _PKG_PARENT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = worker_pythonpath
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(arrow_max_records_per_batch),
        )
        .config("spark.ui.enabled", "false")
        # static: the JVM-wide codegen cache. The default 100 entries is
        # smaller than one prepare pass (140 classes, visited in the same
        # order every run), so the LRU evicted each class before its next
        # use and every warm prepare recompiled 113-130 of them (1.4-1.5 s
        # of Janino, summed over task threads, on 4 cores). 2000 is the
        # round cap with >= 2x headroom over the largest measured pass,
        # bench.py at sf0.01 (836 classes).
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # zstd parquet output: ~45% smaller than snappy on the wide corpus
        # rows at equal measured wall time locally; at scale the size cut
        # is bandwidth saved on every downstream scan (guide §6)
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        # Scan splits: the default 128 MB packs whole multi-row-group test
        # tables (and, at scale, several moderate files) into one task.
        # 16 MB keeps scan parallelism ≈ row groups for CPU-heavy-per-byte
        # text work (regex/shingle/UDF stages dominate compute, not I/O);
        # env-overridable for pure-I/O scans where bigger splits win.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # AQE coalescing with the default 1 MB floor folds small shuffles
        # of text rows to 1-5 partitions, serializing the CPU-heavy
        # post-shuffle stages (shingle verify, regex chains). A 64 KB
        # floor only changes the tiny-data-many-cores regime: with
        # parallelismFirst (default true) AQE still targets
        # defaultParallelism partitions at any real scale, so cluster
        # behaviour is unchanged.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "64k"),
        )
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        # reuse python workers across tasks: each fresh worker pays ~0.3-0.7
        # CPU-s of import/UDF-deserialize before its first row
        .config("spark.python.worker.reuse", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
