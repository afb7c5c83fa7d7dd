"""Physical-plan regression tests: the PLANS.md claims asserted from
explain output — pushdown reaches the scan, dimensions broadcast, the hot
path doesn't shuffle, dedup shuffles exactly once. A plan regression here
is a 100×-scale bug even when results stay correct."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_agg_pushes_predicates_and_prunes_columns(spark):
    import __spark_entry__ as e

    p = plan_str(e.q_filter_agg(spark, SF))
    assert "PushedFilters" in p
    for f in ["l_shipdate", "l_returnflag"]:
        assert f in p.split("PushedFilters")[1][:400], f
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    # only the six referenced columns are read — the widest unused ones stay out
    for absent in ["l_comment", "l_shipinstruct", "l_partkey"]:
        assert absent not in read_schema, absent


def test_join_agg_broadcasts_all_dimensions(spark):
    import __spark_entry__ as e

    p = plan_str(e.q_join_agg(spark, SF))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_extract_has_zero_shuffles(spark, pages_df):
    from ocr_obsidian_spark.operators.extract import extract_pages

    p = plan_str(extract_pages(pages_df))
    assert "Exchange" not in p
    # html is consumed inside the stage: absent from the output schema
    assert "html" not in extract_pages(pages_df).columns


def test_detect_blocks_has_zero_shuffles(spark, pages_df):
    from ocr_obsidian_spark.operators.blocks import detect_blocks

    assert "Exchange" not in plan_str(detect_blocks(pages_df))


def test_mode_window_shuffles_narrow_and_broadcasts_nulls(spark, pages_df, tmp_path):
    from ocr_obsidian_spark.operators.extract import extract_pages
    from ocr_obsidian_spark.operators.printed_page import apply_printed_page_mode

    from ocr_obsidian_spark.operators.printed_page import roman_null_set

    path = str(tmp_path / "corpus")
    extract_pages(pages_df).write.parquet(path)
    corpus = spark.read.parquet(path)
    p = plan_str(apply_printed_page_mode(corpus))
    # the null set joins back by broadcast — wide rows never shuffle for it.
    # Round 6: the null set is checkpointed (the window pass runs once,
    # shared by the sizing count and the join), so the broadcast side is
    # the truncated scan, not a re-planned window subtree.
    assert "BroadcastExchange" in p
    assert "ExistingRDD" in p or "LogicalRDD" in p
    # the window branch itself scans only the five narrow detection columns
    pn = plan_str(roman_null_set(corpus))
    narrow_reads = [
        seg.splitlines()[0]
        for seg in pn.split("ReadSchema")[1:]
        if "printed_page_kind" in seg.splitlines()[0]
    ]
    assert narrow_reads
    assert any("lines_json" not in seg and "raw_text" not in seg for seg in narrow_reads)


def test_exact_dedup_single_shuffle(spark):
    from ocr_obsidian_spark.operators.dedup import drop_exact_duplicates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(drop_exact_duplicates(docs), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1
    # bonus: Spark inserts a map-side partial top-1 before the shuffle
    assert "WindowGroupLimit" in p


def test_minhash_signatures_map_only(spark):
    from ocr_obsidian_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert "Exchange" not in plan_str(minhash_signatures(docs))


def _semi_join_id_sets(df) -> list[int]:
    """RDD ids of the truncated id sets read by the LeftSemi joins of the
    optimized plan, one entry per join occurrence (a DataFrame used twice
    appears twice, over the same id set)."""
    ids = []

    def walk(node, under_semi_build):
        if under_semi_build and node.nodeName() == "LogicalRDD":
            ids.append(node.rdd().id())
        semi = (
            node.nodeName() == "Join"
            and node.joinType().toString() == "LeftSemi"
        )
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), under_semi_build or (semi and i == 1))

    walk(df._jdf.queryExecution().optimizedPlan(), False)
    return ids


def test_near_dup_verify_shingles_only_candidate_rows(spark):
    """The one candidate → verify composition (dedup._verified_pairs) for
    the self-join (ngram_jaccard_pairs over candidates) and the
    cross-corpus path (near_duplicate_matches_against): the candidate
    table is a truncated scan, every shingle-building Project of the
    executed plan sits above a LeftSemi join to a candidate id set —
    shingles for candidate rows only — and the self-join uses one id set
    and builds its shingle frame once, the second side a ReusedExchange."""
    import re

    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.dedup import (
        minhash_lsh_candidate_pairs,
        near_duplicate_matches_against,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    cases = [
        (
            ngram_jaccard_pairs(
                docs, threshold=0.5,
                candidate_pairs=minhash_lsh_candidate_pairs(docs),
            ),
            r"Scan ExistingRDD\[id_a#\d+L,id_b#\d+L\]",
            1,
        ),
        (
            near_duplicate_matches_against(new, docs),
            r"Scan ExistingRDD\[new_id#\d+L,existing_id#\d+L\]",
            2,
        ),
    ]
    for df, cand_scan, n_builds in cases:
        df.collect()  # AQE reuses exchanges only in the executed plan
        p = plan_str(df, mode="simple").split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in p, p
        assert re.search(cand_scan, p), p
        reused = re.search(r"ReusedExchange \[doc_id#\d+L, shs#\d+\]", p)
        assert bool(reused) == (n_builds == 1), p
        lines = p.splitlines()
        shingle_rows = [i for i, ln in enumerate(lines)
                        if "Project [" in ln and "arrays_zip" in ln]
        assert len(shingle_rows) == n_builds, p
        for i in shingle_rows:
            # a node's subtree: the following lines whose tree marker
            # (":- " / "+- ") is indented past the node's own marker
            depth = lines[i].index("Project [") - 3
            below = []
            for ln in lines[i + 1:]:
                m = re.search(r"[:+]- ", ln)
                if m is None or m.start() <= depth:
                    break
                below.append(ln)
            assert any("LeftSemi" in ln for ln in below), lines[i]
        ids = _semi_join_id_sets(df)
        assert len(ids) == 2 and len(set(ids)) == n_builds, ids


def test_block_classifier_prunes_scan(spark):
    from ocr_obsidian_spark.operators.blocks import classify_text_blocks

    # another module's session-shared cache of this table would swap the
    # parquet scan for InMemoryTableScan and hide ReadSchema
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(classify_text_blocks(docs))
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema
    for absent in ["lang", "source", "n_chars"]:
        assert absent not in read_schema, absent


def test_block_classifier_no_duplicated_split_subtrees(spark):
    """The staged _toks/_btoks projections must survive optimization: a
    collapsed plan re-inlines split(norm) into the window-transform lambda,
    re-evaluating the full-document split once per block (quadratic in doc
    length — the round-2 bench outlier)."""
    from ocr_obsidian_spark.operators.blocks import classify_text_blocks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    opt = classify_text_blocks(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(") <= 2, opt.count("split(")
    assert opt.count("regexp_replace") <= 3


def test_ivf_assign_large_k_uses_arrow_eval(spark):
    """Above IVF_EXPR_MAX_K the quantizer must be one Arrow-batched python
    eval, not a K-expression forest (which chokes codegen at real K)."""
    from ocr_obsidian_spark.operators.similarity import IVF_EXPR_MAX_K, ivf_assign

    df = spark.createDataFrame([(0, [0.0] * 4)], "vec_id long, embedding array<float>")
    cents = [[float(i), 0.0, 0.0, 0.0] for i in range(IVF_EXPR_MAX_K + 1)]
    p = ivf_assign(df, cents)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in p
    small = ivf_assign(df, cents[:4])._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in small


def test_html_blocks_map_only_and_extract_single_shuffle(spark):
    import __spark_entry__ as e

    # block features are a pure generator pipeline — no exchange beyond
    # the content-neutral round-robin input conditioning (_t spread=True,
    # round 6: single-row-group test scans otherwise serialize the regex
    # work; a real corpus scan arrives pre-partitioned and skips it)
    p = plan_str(e.q_html_blocks(spark, SF), mode="simple")
    assert p.count("Exchange") == p.count("Exchange RoundRobinPartitioning")

    # the document rebuild is ONE hash shuffle and NO restore join (empty
    # chunks ride through the aggregate, so every doc_id has a group)
    p = plan_str(e.q_html_extract(spark, SF), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_webtext_suite_plan_shapes(spark):
    """The scale claims of the round-3 webtext operators, pinned: the
    per-row feature/filter ops never shuffle; packing and url-dedup are
    exactly one hash exchange over a single source scan; the cross-doc
    dedups are the documented 3-exchange self-join shape."""
    import re

    import __spark_entry__ as e

    def counts(q):
        # folded registry rows (e.g. mix_corpus → mix_suite) keep their
        # original per-shape bodies as q_* functions — pin THOSE shapes,
        # like bench.py times them
        fn = e.queries().get(q) or getattr(e, f"q_{q}")
        p = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        return (
            len(re.findall(r"Exchange hashpartitioning", p)),
            len(re.findall(r"Scan parquet|FileScan", p)),
        )

    for q in ["script_mix", "gopher_flags", "c4_filter", "url_canon",
              "mix_corpus", "blocklist"]:
        ex, _ = counts(q)
        assert ex == 0, q
    for q in ["pack_shards", "url_dedup"]:
        ex, scans = counts(q)
        assert ex == 1 and scans == 1, q
    for q in ["line_dedup", "paragraph_dedup"]:
        ex, _ = counts(q)
        assert ex == 3, q


def test_line_dedup_shuffles_hashed_keys_not_line_strings(spark):
    """The boilerplate agg/join key is xxhash64(norm), so the first two
    exchanges carry 8-byte keys — the normalized line string must not
    appear below either exchange's agg/join keying."""
    import __spark_entry__ as e

    p = plan_str(e.queries()["line_dedup"](spark, SF), mode="simple")
    assert "xxhash64" in p
    # the aggregation and join both key on the hash column
    assert "hashpartitioning(_k#" in p or "hashpartitioning(_k " in p


def test_substr_dedup_three_narrow_shuffles(spark):
    """drop_duplicated_substrings: exactly three hash exchanges — the
    duplicate-anchor aggregation and the occurrence semi-join both keyed
    on the 16-byte md5 anchor, the coverage rollup on doc id. The wide
    text column must never ride past the scan projections (the explode
    branch carries only (doc, pos, hash))."""
    import re

    from ocr_obsidian_spark.operators.substrdedup import drop_duplicated_substrings

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # the narrow (doc, pos, hash) table is materialized once behind a
    # truncate_lineage boundary, so both consumers read its scan instead
    # of re-running the shingle hash transform
    p = plan_str(drop_duplicated_substrings(docs), mode="simple")
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert sorted(k.split("#")[0] for k in keys) == ["_h", "_h", "doc_id"], keys
    scans = [ln for ln in p.splitlines() if "ExistingRDD[" in ln]
    assert scans, p
    for ln in scans:
        # the truncated scan carries only (doc, pos, hash) — never text
        assert "_pos#" in ln and "_h#" in ln and "text#" not in ln, ln
    assert p.count("posexplode") <= 1  # shingle transform not duplicated


def test_pack_sequences_single_shuffle(spark):
    """pack_token_sequences: exactly ONE hash exchange — the offset
    window partitions by group, and because the rebuild groups on
    (group, seq), hashpartitioning(group) already satisfies its
    clustering requirement, so Catalyst inserts no second exchange; the
    token explode is map-side."""
    import re

    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.webprep import pack_token_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.split(F.coalesce("text", F.lit("")), " ").alias("tokens")
    )
    p = plan_str(pack_token_sequences(docs, key_col="doc_id"), mode="simple")
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", p)
    assert [k.split("#")[0] for k in keys] == ["_grp"], keys
    assert p.count("Generate posexplode") == 1


def test_lm_and_langid_are_map_only(spark):
    """LM perplexity scoring and the language-ID cascade are single-pass
    Arrow map stages: zero exchanges, one ArrowEvalPython each (the
    cascade must NOT split/re-union the corpus for its pre-filter — the
    skip happens inside the UDF)."""
    from ocr_obsidian_spark.operators.langid import with_language
    from ocr_obsidian_spark.operators.lm import with_lm_perplexity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (with_lm_perplexity(docs), with_language(docs)):
        p = plan_str(df, mode="simple")
        assert "Exchange" not in p
        assert p.count("ArrowEvalPython") == 1
        assert "Union" not in p


def test_large_blocklist_corpus_never_shuffles(spark):
    """Large-list filter_blocked_domains: after AQE finalizes, the corpus
    side anti-joins a BROADCAST of the blocked-host set — the corpus scan
    feeds the join with no exchange; the only exchanges sit on the narrow
    distinct-hosts branch."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.webprep import filter_blocked_domains

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "url",
        F.concat(F.lit("https://h"), (F.col("doc_id") % 13).cast("string"),
                 F.lit(".test/p/"), F.col("doc_id").cast("string")),
    )
    blocked = [f"h{i}.test" for i in range(3)] + [
        f"junk{i}.example" for i in range(80)
    ]
    out = filter_blocked_domains(docs, blocked)
    out.count()  # materialize so AdaptiveSparkPlan finalizes
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p
    assert "monotonically_increasing_id" not in p


def test_bpe_tokenize_is_map_only(spark):
    """BPE encoding is a single Arrow map stage: the merge table rides in
    the closure, zero exchanges."""
    from ocr_obsidian_spark.operators.tokenize import tokenize_bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(tokenize_bpe(docs), mode="simple")
    assert "Exchange" not in p
    assert p.count("ArrowEvalPython") == 1


def test_dsir_scoring_map_only_and_topk_never_global_sorts(spark):
    """DSIR plan shape: weight scoring is one Arrow UDF with zero
    exchanges; selection's top-k is TakeOrderedAndProject (per-partition
    partial top-k) — never a global Sort — and the kept-flag join
    broadcasts the k ids."""
    from ocr_obsidian_spark.operators.dsir import dsir_select, with_dsir_weight

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(with_dsir_weight(docs), mode="simple")
    assert "Exchange" not in p
    assert p.count("ArrowEvalPython") == 1

    full = plan_str(dsir_select(docs, 10), mode="simple")
    assert "TakeOrderedAndProject" in full
    assert "BroadcastHashJoin" in full
    assert "SortMergeJoin" not in full
    # the scored table is lineage-truncated once — neither branch may
    # re-run the corpus scan or the gram-hashing UDF
    assert "ArrowEvalPython" not in full
    assert "FileScan" not in full and "Scan parquet" not in full


def test_quality_clf_is_map_only(spark):
    """Classifier scoring: one Arrow UDF, zero exchanges."""
    from ocr_obsidian_spark.operators.qualityclf import with_quality_label

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_str(with_quality_label(docs), mode="simple")
    assert "Exchange" not in p
    assert p.count("ArrowEvalPython") == 1


def test_semdedup_assignment_is_map_only_and_no_cartesian(spark):
    """SemDeDup plan shape: cell assignment + centroid similarity are
    ONE map-side Arrow pass (zero exchanges, exactly one ArrowEvalPython
    — the round-6 fused matmul quantizer); the full label pipeline
    contains no cartesian product anywhere — every pair comes from the
    cell-key grouping."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.semdedup import (
        assign_semantic_cells,
        semantic_dedup_labels,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = [[float(i == j) for j in range(64)] for i in range(8)]
    p = plan_str(assign_semantic_cells(emb, cents), mode="simple")
    assert "Exchange" not in p
    assert p.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in p

    full = plan_str(semantic_dedup_labels(emb, cents), mode="simple")
    assert "CartesianProduct" not in full and "BroadcastNestedLoop" not in full


def test_page_rank_iteration_plan_is_truncated_and_narrow(spark):
    """page_rank plan shape: lineage is truncated every iteration, so
    the FINAL action's plan contains exactly one iteration's work —
    one src-key equi-join + one dst groupBy + one left join back to
    nodes — over checkpointed scans, regardless of iteration count.
    Without the truncation the plan would nest one full join/agg stack
    per iteration (the round-5 semdedup lesson: iterative loops must
    cut the DataFrames they re-join or planning cost compounds)."""
    import re

    from ocr_obsidian_spark.operators.graphrank import page_rank

    edges = spark.createDataFrame(
        [(f"h{i % 13}", f"h{(i * 7 + 3) % 13}") for i in range(200)],
        ["src", "dst"],
    )
    p2 = plan_str(page_rank(edges, iters=2), mode="simple")
    p6 = plan_str(page_rank(edges, iters=6), mode="simple")
    # iteration-count-independent plan size: the 6-iter final plan is
    # the same shape as the 2-iter one (same join/agg node counts)
    for marker in ("SortMergeJoin", "BroadcastHashJoin", "HashAggregate",
                   "Exchange"):
        assert p2.count(marker) == p6.count(marker), marker
    # and it is genuinely one iteration deep: at most one equi-join per
    # side family and no python anywhere
    assert "Python" not in p6 and "CartesianProduct" not in p6
    joins = len(re.findall(r"SortMergeJoin|BroadcastHashJoin", p6))
    assert joins <= 2, p6


def test_recipe_final_plan_is_truncated_and_udf_free(spark):
    """The composed recipe's FINAL plan (what the sink re-executes) must
    start at the second checkpoint boundary: every Arrow/Python UDF
    stage (lang NB, Gopher repetition) ran exactly once into the
    boundary, so the final plan contains no Python evaluation at all,
    no cartesian product, and only small-side exchanges (near-dedup
    losers / contamination ids), never a corpus re-shuffle."""
    from ocr_obsidian_spark.operators.recipe import prepare_web_corpus
    from test_recipe import CONTAM_LINE, _fixture_rows

    docs = spark.createDataFrame(_fixture_rows(), ["doc_id", "url", "text"])
    bench = spark.createDataFrame([(0, CONTAM_LINE)], ["bid", "text"])
    res = prepare_web_corpus(
        docs, langs=["en"], line_dedup_min_docs=3, benchmark=bench
    )
    p = plan_str(res.df, mode="simple")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert "CartesianProduct" not in p
    # corpus side reads from the checkpoint scan, not the original source
    assert "Scan ExistingRDD" in p
    # the static plan carries ENSURE_REQUIREMENTS sort-merge anti-joins;
    # at runtime AQE broadcasts the tiny build sides (near-dup losers,
    # contaminated ids) — assert on the FINAL adaptive plan: both
    # anti-joins became broadcast joins. AQE materializes the originally
    # planned shuffle stages before re-planning and then reads them
    # locally (AQEShuffleRead local) — those stages appear as exchanges
    # in the text but no longer repartition anything across the cluster,
    # so bound the count instead of requiring zero.
    res.df.collect()  # count() would plan a DIFFERENT QueryExecution
    pf = plan_str(res.df, mode="simple")
    assert "isFinalPlan=true" in pf
    final = pf.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 2, final
    assert "SortMergeJoin" not in final, final
    assert "ArrowEvalPython" not in final and "BatchEvalPython" not in final
    assert final.count("Exchange hashpartitioning") <= 4, final


def test_multimodal_meta_is_native_and_hashes_utf8_bytes(spark, tmp_path):
    """Payload size + sha256 come from JVM expressions over the UTF-8
    bytes of ``text`` (NULL hashes as the empty payload): the values
    match hashlib and the executed plan carries no Python worker."""
    import hashlib

    import __spark_entry__ as e

    texts = {1: None, 2: "", 3: "plain ascii", 4: "naïve café — 東京 ✓"}
    spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    df = e.queries()["multimodal_meta"](spark, str(tmp_path))
    got = {r["doc_id"]: (r["n_bytes"], r["content_sha256"]) for r in df.collect()}
    want = {}
    for doc_id, text in texts.items():
        b = (text or "").encode("utf-8")
        want[doc_id] = (len(b), hashlib.sha256(b).hexdigest())
    assert got == want
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in p and "Pandas" not in p, p
