"""The three timed entry points, each driven in-process exactly as a user
runs it, with the untimed output read-back that checks every run.

* ``extract``: ``cli.main(["extract", ...])`` over five page files.
* ``prepare``: ``cli.main(["prepare", ...])`` over one documents file.
* ``resume_skew``: ``checkpoint.run_resumable(extract_pages_with_lineage)``
  (the ``scripts/run_extract_job.py`` shape) resuming the pending half of
  64 buckets, one of which holds a ~10^7-byte page.

``BENCHMARK.json`` lists only ``extract`` and ``prepare``, which keeps a
full campaign (22 runs per listed workload) under an hour on a 4-core
host; ``resume_skew`` runs on request and, once per traced ``extract``
run, as the isolated call that measures the checkpoint layer.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
from pathlib import Path

import digests
from inputs import RESUME_RUN_ID as RUN_ID


class RunFailed(RuntimeError):
    """The entry point returned a nonzero exit code."""


def _cli(argv: list[str]) -> str:
    """Run the CLI, returning what it printed; a nonzero exit raises."""
    from ocr_obsidian_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    if rc != 0:
        raise RunFailed(f"exit {rc}: {buf.getvalue()[-500:]}")
    return buf.getvalue()


class Extract:
    name = "extract"

    def __init__(self, inp: dict, work: Path, master: str):
        self.pages = f"{inp['dir']}/pages"
        self.out = str(work / "extract_out")
        self.master = master
        self.rows = inp["rows"]

    def before_rep(self) -> None:
        pass

    def call(self, spark) -> dict:
        _cli(["extract", "--pages", self.pages, "--out", self.out,
              "--overwrite", "always", "--master", self.master,
              "--run-id", RUN_ID])
        return {}

    def outcome(self, info: dict) -> dict:
        return digests.read_extract_cli(self.out)

    def problems(self, got: dict, pinned: dict | None) -> list[str]:
        out = []
        if got["lineage_rows_in"] != self.rows:
            out.append(f"lineage rows_in {got['lineage_rows_in']} != {self.rows} pages")
        # lineage keeps one row per map task: the pinned count pins the
        # scan's packing of the input files
        return out + _vs_pinned(got, pinned, ("digest", "rows", "lineage_rows"))


class Prepare:
    name = "prepare"

    def __init__(self, inp: dict, work: Path, master: str):
        self.docs = f"{inp['dir']}/docs"
        self.out = str(work / "prepare_out")
        self.master = master
        self.rows = inp["rows"]

    def before_rep(self) -> None:
        pass

    def call(self, spark) -> dict:
        printed = _cli(["prepare", "--docs", self.docs, "--out", self.out,
                        "--overwrite", "always", "--master", self.master])
        return {"stages": json.loads(printed.strip().splitlines()[-1])["stages"]}

    def outcome(self, info: dict) -> dict:
        return {**digests.read_prepare(self.out), "stages": info["stages"]}

    def problems(self, got: dict, pinned: dict | None) -> list[str]:
        out = []
        st = got["stages"]
        if st.get("input") != self.rows:
            out.append(f"stage count input {st.get('input')} != {self.rows} docs")
        if st.get("output") != got["rows"]:
            out.append(f"stage count output {st.get('output')} != {got['rows']} rows written")
        return out + _vs_pinned(got, pinned, ("digest", "rows", "stages"))


class ResumeSkew:
    name = "resume_skew"

    def __init__(self, inp: dict, work: Path, master: str):
        self.pages = f"{inp['dir']}/pages"
        self.template = f"{inp['dir']}/template"
        self.out = str(work / "resume_out")
        self.total_rows = inp["rows"]
        self.rows = inp["pending_rows"]  # pages in the pending buckets
        self.n_buckets = inp["buckets"]
        self.pending = self.n_buckets // 2

    def before_rep(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.template, self.out)

    def call(self, spark) -> dict:
        from ocr_obsidian_spark.config import DEFAULT_CONFIG
        from ocr_obsidian_spark.operators.checkpoint import run_resumable
        from ocr_obsidian_spark.operators.extract import extract_pages_with_lineage

        n = run_resumable(
            spark, spark.read.parquet(self.pages),
            lambda df: extract_pages_with_lineage(df, DEFAULT_CONFIG, run_id=RUN_ID),
            out_dir=self.out, run_id=RUN_ID, n_buckets=self.n_buckets,
        )
        return {"committed": n}

    def outcome(self, info: dict) -> dict:
        return {**digests.read_resumable(self.out), "committed": info["committed"]}

    def problems(self, got: dict, pinned: dict | None) -> list[str]:
        out = []
        if got["committed"] != self.pending:
            out.append(f"committed {got['committed']} buckets, expected {self.pending}")
        if got["lineage_rows_in"] != self.total_rows:
            out.append(f"lineage rows_in {got['lineage_rows_in']} != {self.total_rows} pages")
        return out + _vs_pinned(got, pinned, ("digest", "rows"))


def _vs_pinned(got: dict, pinned: dict | None, keys) -> list[str]:
    if pinned is None:
        return ["no pinned digest for this input"]
    return [f"{k}: got {got[k]!r}, pinned {pinned[k]!r}" for k in keys if got[k] != pinned[k]]


WORKLOADS = {w.name: w for w in (Extract, Prepare, ResumeSkew)}
