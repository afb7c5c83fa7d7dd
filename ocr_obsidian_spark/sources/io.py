"""Table sink: one fail-closed parquet commit per CLI stage.

``commit_tables`` writes a stage's tables to hidden staging siblings
(``<parent>/.<name>.staging-<uuid>``, which readers of ``<parent>`` skip),
counts their rows from the part-file footers, then renames them into
place together. A failure before the swap leaves the previous output as
it was; under ``--overwrite always`` the old table is renamed aside and
deleted only after the swap. Renames go through the session's Hadoop
``FileSystem`` and are metadata-only on local and HDFS file systems.
"""

from __future__ import annotations

import os
import uuid
from typing import TYPE_CHECKING, Iterable

if TYPE_CHECKING:  # the CLI imports this module for --help without pyspark
    from pyspark.sql import DataFrame


class OverwriteError(RuntimeError):
    """Fail-closed write refusal (reference ingest/utils_paths.py:75-95)."""

    def __init__(self, path: str):
        super().__init__(
            f"Output exists and --overwrite=never: {path} (use --overwrite always)"
        )


def refuse_existing(paths: Iterable[str], overwrite: str) -> None:
    """Raise ``OverwriteError`` under ``never`` if any local output path
    exists (checked before any Spark work)."""
    if overwrite != "never":
        return
    for path in paths:
        if os.path.exists(path):
            raise OverwriteError(path)


def commit_tables(tables: dict[str, DataFrame], overwrite: str) -> dict[str, int]:
    """Write ``{final_path: df}`` as parquet, all-or-nothing; return
    ``{final_path: rows}`` counted from the written footers (no Spark job
    beyond the writes)."""
    spark = next(iter(tables.values())).sparkSession
    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    Path, tag = jvm.org.apache.hadoop.fs.Path, uuid.uuid4().hex
    fs = Path(next(iter(tables))).getFileSystem(conf)
    # qualified like Spark's writer qualifies them (relative → working dir)
    finals = {p: fs.makeQualified(Path(p)) for p in tables}

    def sibling(final, kind: str):
        return Path(final.getParent(), f".{final.getName()}.{kind}-{tag}")

    def rename(src, dst) -> None:
        # a rename onto an existing directory would nest src inside it
        if fs.exists(dst) or not fs.rename(src, dst):
            raise OSError(f"could not rename {src} to {dst}")

    def footer_rows(table) -> int:
        read_footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter
        return sum(
            block.getRowCount()
            for st in fs.listStatus(table)
            if not st.getPath().getName().startswith(("_", "."))
            for block in read_footer(conf, st).getBlocks()
        )

    staged = {p: sibling(final, "staging") for p, final in finals.items()}
    moved, olds = [], []  # renames done so far, undone in reverse on failure
    try:
        for p, df in tables.items():
            df.write.mode("error").parquet(staged[p].toString())
        rows = {p: footer_rows(staged[p]) for p in tables}
        for p, final in finals.items():
            if fs.exists(final):
                # re-checked on the table's own file system: a URI
                # (file://, hdfs://) out path escapes the local check
                if overwrite != "always":
                    raise OverwriteError(p)
                olds.append(sibling(final, "old"))
                rename(final, olds[-1])
                moved.append((final, olds[-1]))
            rename(staged[p], final)
            moved.append((staged[p], final))
    except BaseException:
        for src, dst in reversed(moved):
            fs.rename(dst, src)
        for stage in staged.values():
            fs.delete(stage, True)
        raise
    for old in olds:
        fs.delete(old, True)
    return rows
