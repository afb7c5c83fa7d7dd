"""Seeded, cached input generators for the three benchmark workloads.

Inputs are synthetic documents shaped like the sf0.1 ``documents`` table
(uniform word salad over its 31-word vocabulary, 8-96 words per doc, five
languages, 20 sources), pushed through the repo's own shaping code:
``sources.doc_pages.pages_from_documents`` for page inputs and
``__spark_entry__.crawl_shape`` for prepare's documents.

A ``--seed`` selects one of ``VARIANTS`` content variants (``seed %
VARIANTS``); each variant has pinned output digests (``pinned.json``), so
every timed run is checked against outputs recorded from a known-good tree.
Generation runs in its own process (its own JVM), so the timed process's
set-up never inherits a JVM warmed by generation. Inputs are cached under
``perfbench/.cache/v<GEN_VERSION>/variant-<v>/<workload>``.

    python3 perfbench/inputs.py --workload extract --variant 3
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
GEN_VERSION = 5
VARIANTS = 2  # each variant is generated once per checkout and pinned

VOCAB = (
    "vector column customer table scan spark value data join big key slow "
    "stream row line group filter window merge a batch small agg hash query "
    "the order part fast sort"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Spark packs small files into about one scan task per core: each file costs
# its size plus a 4 MiB open cost, and a task holds a quarter of the total.
# With 5 files above 4/3 MiB each, no two files fit one task, so the scan
# runs 5 tasks on 4 cores: two uneven waves, the second a single task.
EXTRACT_PAGES = 14_000
EXTRACT_FILES = 5
PREPARE_BASE = 250
PREPARE_REPLICAS = 8
PREPARE_DUP_FRAC = 0.05  # each of: exact copies, near copies
PREPARE_URL_DUP_FRAC = 0.02
SKEW_PAGES = 4_000
SKEW_FILES = 8
SKEW_BUCKETS = 64
GIANT_WORDS = 160_000
GIANT_ID0 = 99_999_999
RESUME_RUN_ID = "perfbench"


def variant_of(seed: int) -> int:
    return seed % VARIANTS


def cache_dir(variant: int) -> Path:
    return BENCH_DIR / ".cache" / f"v{GEN_VERSION}" / f"variant-{variant}"


def synth_docs(rng, n: int):
    """sf0.1-shaped documents: (doc_id, text, lang, source, n_chars)."""
    import numpy as np
    import pandas as pd

    lens = rng.integers(8, 97, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [
        " ".join(VOCAB[j] for j in words[e - k : e]) for e, k in zip(ends, lens)
    ]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _rng(workload: str, variant: int):
    import numpy as np

    return np.random.default_rng([GEN_VERSION, sum(map(ord, workload)), variant])


def _session():
    # the benchmark's own session: the resume template is program output
    from run import new_session

    return new_session()


def _shuffled(spark, pdf, rng):
    """pandas rows in a seeded order → Spark frame (layout varies by seed;
    every output check is order-independent)."""
    return spark.createDataFrame(pdf.iloc[rng.permutation(len(pdf))])


def gen_extract(spark, variant: int, out: Path) -> dict:
    from ocr_obsidian_spark.sources.doc_pages import pages_from_documents

    rng = _rng("extract", variant)
    docs = _shuffled(spark, synth_docs(rng, EXTRACT_PAGES), rng)
    # many roughly equal files, the way a crawl segment lands
    pages_from_documents(docs).repartition(EXTRACT_FILES).write.parquet(
        str(out / "pages")
    )
    return {"rows": EXTRACT_PAGES, "files": EXTRACT_FILES}


def gen_prepare(spark, variant: int, out: Path) -> dict:
    """Crawl-shaped replicas (per-line replica token, the recipe scaling
    probe's rule) plus seeded url, exact and near duplicate injections.

    Injected copies double every space: line dedup keys on lower+trim, so
    a copy's lines stay distinct from the original's and the copy reaches
    the exact/near dedup stages, whose keys collapse whitespace."""
    import pandas as pd
    from pyspark.sql import functions as F

    from __spark_entry__ import crawl_shape

    rng = _rng("prepare", variant)
    base = spark.createDataFrame(synth_docs(rng, PREPARE_BASE)).withColumn(
        "text", crawl_shape(F.col("text"))
    )
    copies = []
    for k in range(PREPARE_REPLICAS):
        tok = f"r{k}"
        nid = F.col("doc_id") + 1_000_000 * k
        copies.append(
            base.select(
                nid.alias("doc_id"),
                F.concat(
                    F.lit(tok + " "), F.regexp_replace("text", "\n", f"\n{tok} ")
                ).alias("text"),
                F.concat(
                    F.lit("https://"), F.col("source"), F.lit("-"),
                    (nid % 7).cast("string"), F.lit(".test/doc/"),
                    nid.cast("string"),
                ).alias("url"),
                "source",
            )
        )
    docs = copies[0]
    for c in copies[1:]:
        docs = docs.unionByName(c)
    pdf = docs.toPandas().sort_values("doc_id", ignore_index=True)
    n = len(pdf)
    pick = rng.permutation(n)
    n_dup = int(n * PREPARE_DUP_FRAC)
    n_url = int(n * PREPARE_URL_DUP_FRAC)
    exact = pdf.iloc[pick[:n_dup]].copy()
    exact["text"] = exact["text"].str.replace(" ", "  ", regex=False)
    near = pdf.iloc[pick[n_dup : 2 * n_dup]].copy()
    # one extra leading word on the first line: Jaccard stays ~0.9 on 3-word
    # shingles of these 8-96 word docs, above the 0.8 threshold
    near["text"] = ("x " + near["text"]).str.replace(" ", "  ", regex=False)
    urls = pdf.iloc[pick[2 * n_dup : 2 * n_dup + n_url]].copy()
    urls["url"] = urls["url"] + "?utm_source=feed"
    urls["text"] = synth_docs(rng, n_url)["text"].values
    copies = pd.concat([exact, near], ignore_index=True)
    copies["doc_id"] = 50_000_000 + copies.index.astype("int64")
    # a copy hosted elsewhere: only the content stages can catch it
    copies["url"] = "https://mirror.test/doc/" + copies["doc_id"].astype(str)
    urls["doc_id"] = 60_000_000 + pd.RangeIndex(len(urls)).astype("int64")
    extra = pd.concat([copies, urls], ignore_index=True)
    full = pd.concat([pdf, extra], ignore_index=True)
    # one file, the way the sf tables ship
    _shuffled(spark, full, rng).coalesce(1).write.parquet(str(out / "docs"))
    return {"rows": len(full), "files": 1}


def gen_resume_skew(spark, variant: int, out: Path) -> dict:
    """Uniform pages plus one ~10^7-byte page whose url lands in a pending
    (odd) checkpoint bucket; the template commits the even buckets."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.config import DEFAULT_CONFIG
    from ocr_obsidian_spark.operators.checkpoint import (
        BUCKET_COL, run_resumable, with_bucket,
    )
    from ocr_obsidian_spark.operators.extract import extract_pages_with_lineage
    from ocr_obsidian_spark.sources.doc_pages import pages_from_documents

    rng = _rng("resume_skew", variant)
    uniform = synth_docs(rng, SKEW_PAGES)
    giant_text = " ".join(
        "lorem ipsum dolor sit amet consectetur adipiscing elit".split()
        * (GIANT_WORDS // 8)
    )
    cand = spark.createDataFrame(
        [(GIANT_ID0 + i, giant_text, "en", "skew", len(giant_text)) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    buckets = with_bucket(pages_from_documents(cand).select("url"), SKEW_BUCKETS)
    ok = buckets.filter(F.col(BUCKET_COL) % 2 == 1).orderBy("url").first()
    if ok is None:
        raise RuntimeError("no giant-page candidate falls in a pending bucket")
    giant_id = int(ok["url"].rsplit("_", 1)[1])
    giant = cand.filter(F.col("doc_id") == giant_id)
    docs = _shuffled(spark, uniform, rng).unionByName(giant)
    pages = str(out / "pages")
    pages_from_documents(docs).repartition(SKEW_FILES).write.parquet(pages)
    # the resume template: the even buckets committed once, by the program
    # under test; every timed run restores it and resumes the odd half
    even = (
        with_bucket(spark.read.parquet(pages), SKEW_BUCKETS)
        .filter(F.col(BUCKET_COL) % 2 == 0)
        .drop(BUCKET_COL)
    )
    run_resumable(
        spark, even,
        lambda df: extract_pages_with_lineage(df, DEFAULT_CONFIG, run_id=RESUME_RUN_ID),
        out_dir=str(out / "template"), run_id=RESUME_RUN_ID, n_buckets=SKEW_BUCKETS,
    )
    committed = spark.read.parquet(str(out / "template" / "data")).filter(
        F.col("row_kind") == "data"
    ).count()
    return {
        "rows": SKEW_PAGES + 1, "files": SKEW_FILES, "giant_url": ok["url"],
        "buckets": SKEW_BUCKETS, "pending_rows": SKEW_PAGES + 1 - committed,
    }


GENERATORS = {
    "extract": gen_extract,
    "prepare": gen_prepare,
    "resume_skew": gen_resume_skew,
}


def ensure(workload: str, variant: int, env: dict[str, str]) -> dict:
    """Cached input for (workload, variant), generated by a child process on
    a miss. Returns the meta record plus the input's directory."""
    d = cache_dir(variant) / workload
    if not (d / "meta.json").exists():
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()),
             "--workload", workload, "--variant", str(variant)],
            check=True, env=env, stdout=subprocess.DEVNULL, timeout=800,
        )
    return {**json.loads((d / "meta.json").read_text()), "dir": str(d)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--variant", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, str(REPO))
    d = cache_dir(args.variant) / args.workload
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.monotonic()
    spark = _session()
    try:
        meta = GENERATORS[args.workload](spark, args.variant, tmp)
    finally:
        spark.stop()
    meta.update(workload=args.workload, variant=args.variant,
                gen_version=GEN_VERSION, gen_s=round(time.monotonic() - t0, 3))
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)  # publish atomically: a half-written input is never used


if __name__ == "__main__":
    main()
