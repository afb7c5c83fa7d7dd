#!/usr/bin/env python
"""Noop-sink stage isolation for the round-6 optimization targets
(guide §1.4): times sub-stages of the expensive bench queries so the
optimization hits the real cost, not a guess. Separate from the frozen
bench.py on purpose. Prints one JSON line.

Env: SPARK_GRAFT_SF_DIR (default sf0.1, like bench.py),
SPARK_GRAFT_CPUS, SPARK_GRAFT_PROBES (comma list; default all).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    from ocr_obsidian_spark.session import build_session

    spark = build_session(
        "bench-extra", f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8)
    )
    import __spark_entry__ as em

    timings: dict[str, float] = {}
    sel = os.environ.get("SPARK_GRAFT_PROBES", "")
    sel = set(sel.split(",")) if sel else None

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn):
        if sel is not None and not any(name.startswith(s) for s in sel):
            return
        spark.sparkContext.setJobDescription(name)
        t0 = time.monotonic()
        fn()
        timings[name] = round(time.monotonic() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    # ---------------- incremental_dedup stages ----------------
    from ocr_obsidian_spark.operators.dedup import (
        drop_exact_duplicates_against,
        minhash_banded_buckets,
        near_duplicate_matches_against,
        word_shingles,
    )

    def inc_inputs():
        new = em._incremental_new_pop(spark, SF)
        existing = em._t(spark, SF, "documents", spread=True).select(
            "doc_id", "text"
        )
        return new, existing

    def p_exact():
        new, existing = inc_inputs()
        noop(drop_exact_duplicates_against(new, existing))

    def p_minhash_existing():
        _, existing = inc_inputs()
        noop(minhash_banded_buckets(existing))

    def p_shingles_existing():
        _, existing = inc_inputs()
        noop(existing.select("doc_id", word_shingles("text").alias("s")))

    def p_near_full():
        new, existing = inc_inputs()
        noop(near_duplicate_matches_against(new, existing, threshold=0.95))

    timed("inc.exact_anti", p_exact)
    timed("inc.minhash_existing", p_minhash_existing)
    timed("inc.shingles_existing", p_shingles_existing)
    timed("inc.near_full", p_near_full)

    # ---------------- prepare_corpus stages ----------------
    from ocr_obsidian_spark.operators.langid import with_language
    from ocr_obsidian_spark.operators.recipe import gate_documents
    from ocr_obsidian_spark.operators.repetition import with_gopher_repetition
    from ocr_obsidian_spark.operators.textstats import (
        with_gopher_flags,
        with_quality_score,
    )
    from ocr_obsidian_spark.operators.webprep import (
        c4_line_filter,
        drop_duplicated_lines,
        drop_url_duplicates,
    )

    def crawl():
        return em._crawlish_docs(spark, SF)

    timed("rec.scan_shape", lambda: noop(crawl()))
    timed("rec.url_dedup", lambda: noop(drop_url_duplicates(crawl())))
    timed("rec.lang", lambda: noop(with_language(crawl())))
    timed("rec.gopher_flags", lambda: noop(with_gopher_flags(crawl())))
    timed("rec.gopher_rep", lambda: noop(with_gopher_repetition(crawl())))
    timed("rec.c4", lambda: noop(c4_line_filter(crawl())))
    timed(
        "rec.gates_all",
        lambda: noop(gate_documents(crawl(), langs=None)),
    )
    timed(
        "rec.line_dedup",
        lambda: noop(
            drop_duplicated_lines(
                crawl().select("doc_id", "text"), min_docs=2
            )
        ),
    )
    timed("rec.quality", lambda: noop(with_quality_score(crawl())))
    timed("rec.full", lambda: noop(em.q_prepare_corpus(spark, SF)))

    # ---------------- extract stages ----------------
    from ocr_obsidian_spark.operators.extract import extract_pages
    from ocr_obsidian_spark.sources.doc_pages import pages_from_documents

    def p_extract_map():
        docs = em._t(spark, SF, "documents", spread=True)
        noop(extract_pages(pages_from_documents(docs)))

    timed("ext.map_5k", p_extract_map)

    # ---------------- small stubborn ones ----------------
    timed("q.text_metrics", lambda: noop(em.q_text_metrics(spark, SF)))
    timed("q.script_mix", lambda: noop(em.q_script_mix(spark, SF)))
    timed("q.jaccard_pairs", lambda: noop(em.q_jaccard_pairs(spark, SF)))
    timed("q.minhash_pairs", lambda: noop(em.q_minhash_pairs(spark, SF)))
    timed("q.substr_dedup", lambda: noop(em.q_substr_dedup(spark, SF, anchor_hash="xxhash64")))
    timed("q.page_rank", lambda: noop(em.q_page_rank(spark, SF)))
    timed("q.lang_id", lambda: noop(em.q_lang_id(spark, SF)))

    print(json.dumps({"probes": timings, "sf": SF, "cpus": CPUS}))
    spark.stop()


if __name__ == "__main__":
    main()
