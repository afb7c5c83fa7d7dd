#!/usr/bin/env python3
"""Self-test of the benchmark's own checks; needs no Spark session.

A one-byte change to one row's ``extracted_text`` flips the extract
digest, and a run whose output carries it counts as failed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))

import digests  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def write_extract_output(out: Path, texts: list[str]) -> None:
    """A minimal CLI ``extract`` output root (corpus/ + lineage/)."""
    n = len(texts)
    shutil.rmtree(out, ignore_errors=True)
    (out / "corpus").mkdir(parents=True)
    (out / "lineage").mkdir(parents=True)
    pq.write_table(pa.table({
        "url": [f"https://docs.test/book_b/page_{i:03d}" for i in range(n)],
        "extracted_text": texts, "clean_text": texts, "raw_text": texts,
        "lines_json": ["[]"] * n,
        "printed_page": [i + 1 for i in range(n)],
        "printed_page_kind": ["arabic"] * n,
        "is_garbage": [False] * n, "parse_ok": [True] * n,
    }), out / "corpus" / "part-0.parquet")
    pq.write_table(pa.table({"rows_in": pa.array([n], pa.int64())}),
                   out / "lineage" / "part-0.parquet")


class Replay(workloads.Extract):
    """The extract workload with the entry point replaced by a no-op, so the
    output already on disk is what the run checks."""

    def call(self, spark) -> dict:
        return {}


def check_digest_flip(work: Path) -> list[str]:
    texts = [f"page {i}: the rest of the data is that we have it" for i in range(20)]
    wl = Replay({"dir": str(work), "rows": len(texts)}, work, "local[1]")
    write_extract_output(Path(wl.out), texts)
    pinned = digests.read_extract_cli(wl.out)

    bench = run.Bench.__new__(run.Bench)
    bench.wl, bench.spark, bench.pin, bench.pinned = wl, None, False, pinned
    bench.samples, bench.problems = [], []
    bench.timed(0)
    errors = [f"unchanged output failed: {s['problems']}" for s in bench.samples if not s["ok"]]

    texts[7] = texts[7][:-1] + chr(ord(texts[7][-1]) + 1)  # one byte, one row
    write_extract_output(Path(wl.out), texts)
    if digests.read_extract_cli(wl.out)["digest"] == pinned["digest"]:
        errors.append("a one-byte change did not flip the digest")
    bench.samples, bench.problems = [], []
    bench.timed(0)
    failed = sum(not s["ok"] for s in bench.samples)
    if failed != len(bench.samples) or not any("digest" in p for p in bench.problems):
        errors.append(f"changed output: {failed} of {len(bench.samples)} runs failed")
    return errors


def main() -> int:
    work = run.WORK_DIR / "selftest"
    try:
        errors = check_digest_flip(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print(f"FAIL: {e}")
    print("selftest", "FAILED" if errors else "OK")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
