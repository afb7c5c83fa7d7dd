#!/usr/bin/env python
"""Capture .explain('formatted') for named bench queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> <suffix> [q1,q2,...]
Writes plans/<tag>/<query>_<suffix>.txt for each query (default: the
round-6 optimization target set). This is not planning only: building
some queries runs real Spark jobs (substr_dedup's local checkpoint, the
eager near-dup candidate sets, the crawl-doc and LSH local checkpoints,
centroid-seed collects), so do not run it while timing a benchmark on
the same host.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

DEFAULT = (
    "incremental_dedup,semantic_dedup,embedding_near_dup,prepare_corpus,"
    "html_blocks,html_extract,jaccard_pairs,ivf_ann,minhash_pairs,"
    "substr_dedup,gopher_flags,quality_stats,quality_tiers,script_mix,"
    "lang_id,text_metrics,url_dedup,url_canon,url_canon_idn,simhash,"
    "exact_dedup,line_dedup,pack_sequences,lsh_ann,embedding_topk,"
    "token_counts,gopher_rep,repetition_stats,paragraph_dedup,c4_filter,"
    "lm_ppl,dsir,quality_clf,decontaminate,pii_scrub,unicode_nfc,"
    "subword_tokens,bpe_tokens,unigram_tokens,page_rank,pack_shards"
)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r06"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = (sys.argv[3] if len(sys.argv) > 3 else DEFAULT).split(",")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from ocr_obsidian_spark.session import build_session

    spark = build_session("plan-capture", "local[4]", shuffle_partitions=32)
    import __spark_entry__ as entrymod

    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        fn = getattr(entrymod, f"q_{name}", None) or entrymod.queries().get(name)
        if fn is None:
            print(f"skip {name}: no q_ function", file=sys.stderr)
            continue
        try:
            df = fn(spark, sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
            print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
        except Exception as exc:  # keep going: one broken plan must not stop the sweep
            print(f"FAIL {name}: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
