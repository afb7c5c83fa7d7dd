"""Single-core cProfile of the page-local extraction hot path — no Spark.

Feeds `_extract_one` the SAME deterministic payloads bench.py derives from
the documents table (sources/doc_pages._doc_payload) so the profile
reflects the benchmarked distribution. Without ``--profile`` it times
``REPS`` passes over the same pages and prints the best and the median
pages/sec: the best is the least host-disturbed pass, and the median is
the figure to compare between two trees, alternating runs of each. With
``--profile`` it makes one cProfile'd pass and prints the top cumulative
functions (cProfile inflates per-call cost, so its pages/sec is not
comparable). Run alone (not next to a bench) — single process.

Usage: python scripts/extract_profile.py [n_pages] [--profile]
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import json  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

from ocr_obsidian_spark.config import DEFAULT_CONFIG  # noqa: E402
from ocr_obsidian_spark.operators.extract import _extract_one  # noqa: E402
from ocr_obsidian_spark.sources.doc_pages import _doc_payload  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = 5


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 4000
    tbl = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    docs = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    pages = []
    i = 0
    while len(pages) < n:
        doc_id, text = docs[i % len(docs)]
        did = int(doc_id) + 1_000_000 * (i // len(docs))
        # byte-identical to pages_from_documents: ensure_ascii=False (the
        # escaped form is materially larger on non-ASCII corpora and would
        # skew the json-parse share of the profile) and the same book url
        payload = json.dumps(_doc_payload(did, text), ensure_ascii=False).encode(
            "utf-8"
        )
        book = f"src-{did // 512:05d}"
        pages.append((f"https://docs.test/book_{book}/page_{did:06d}", payload))
        i += 1

    def run() -> None:
        for url, payload in pages:
            _extract_one(url, payload, DEFAULT_CONFIG)

    if "--profile" in sys.argv:
        prof = cProfile.Profile()
        t0 = time.monotonic()
        prof.runcall(run)
        wall = time.monotonic() - t0
        s = io.StringIO()
        pstats.Stats(prof, stream=s).sort_stats("cumulative").print_stats(30)
        print(s.getvalue())
        print(f"{n} pages in {wall:.2f}s under cProfile = {n / wall:.0f} pages/sec")
        return
    rates = []
    for _ in range(REPS):
        t0 = time.monotonic()
        run()
        rates.append(n / (time.monotonic() - t0))
    print(
        f"{n} pages x {REPS} passes: best {max(rates):.0f} pages/sec, "
        f"median {statistics.median(rates):.0f} pages/sec (single core)"
    )


if __name__ == "__main__":
    main()
