"""CLI + YAML config surface (reference ingest/cli.py:38-243 and
ingest/config.py:39-77 analogs): deep-merge semantics, unknown-key
rejection, the error → exit-code contract, and the five-stage smoke chain."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from ocr_obsidian_spark.cli import main
from ocr_obsidian_spark.config import (
    ConfigError,
    DEFAULT_CONFIG,
    load_pipeline_yaml,
    pipeline_config_from_dict,
)

ROOT = Path(__file__).resolve().parents[1]


def test_yaml_deep_merge_partial_override(tmp_path):
    p = tmp_path / "pipeline.yaml"
    p.write_text("qa:\n  max_pipe_ratio: 0.1\nblocks:\n  hsv_low: [10, 30, 90]\n")
    cfg = load_pipeline_yaml(str(p))
    # overridden keys land; sibling keys keep defaults
    assert cfg.qa.max_pipe_ratio == 0.1
    assert cfg.qa.min_avg_word_conf == DEFAULT_CONFIG.qa.min_avg_word_conf
    assert cfg.blocks.hsv_low == (10, 30, 90)  # list → tuple coercion
    assert cfg.blocks.hsv_high == DEFAULT_CONFIG.blocks.hsv_high
    assert cfg.line_y_tolerance_px == DEFAULT_CONFIG.line_y_tolerance_px


def test_unknown_keys_rejected():
    with pytest.raises(ConfigError):
        pipeline_config_from_dict({"qa": {"max_pip_ratio": 0.1}})  # typo
    with pytest.raises(ConfigError):
        pipeline_config_from_dict({"not_a_section": 1})


def test_removed_arrow_batch_key_rejected():
    """The Arrow batch size is a session setting (``build_session``), not a
    pipeline knob: the loader must reject the key, not accept and ignore it."""
    with pytest.raises(ConfigError, match="arrow_max_records_per_batch"):
        pipeline_config_from_dict({"arrow_max_records_per_batch": 64})


def test_missing_and_invalid_yaml_exit_code_3(tmp_path):
    assert main(["extract", "--pages", "fixtures:1,2,1", "--out", str(tmp_path / "o"),
                 "--config", str(tmp_path / "missing.yaml")]) == 3
    bad = tmp_path / "bad.yaml"
    bad.write_text("qa: [not, a, mapping\n")
    assert main(["extract", "--pages", "fixtures:1,2,1", "--out", str(tmp_path / "o2"),
                 "--config", str(bad)]) == 3


def test_overwrite_never_exit_code_4(tmp_path):
    out = tmp_path / "run"
    (out / "corpus").mkdir(parents=True)
    rc = main(["extract", "--pages", "fixtures:1,2,1", "--out", str(out)])
    assert rc == 4


def _raise_on(victim):
    """A Python UDF that passes every row but raises on ``victim``."""
    from pyspark.sql import functions as F

    def check(v):
        if v == victim:
            raise RuntimeError(f"injected failure on {v!r}")
        return True

    return F.udf(check, "boolean")


def _snapshot(root: Path) -> dict[str, str]:
    """relative path → sha256 of every file under ``root``."""
    import hashlib

    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def _leftovers(root: Path) -> list[str]:
    return [str(p) for p in root.rglob("*")
            if ".staging-" in p.name or ".old-" in p.name]


def _extract(out: Path, pages: str = "fixtures:1,4,3") -> int:
    return main(["extract", "--pages", pages, "--out", str(out),
                 "--overwrite", "always", "--master", "local[4]",
                 "--shuffle-partitions", "8", "--run-id", "r"])


def test_failed_extract_keeps_previous_output(tmp_path, spark, monkeypatch):
    """A failed ``--overwrite always`` extract leaves the old corpus and
    lineage byte-equal: the tables are staged and swapped in only after
    every write succeeded. The injected row fails inside the corpus
    write job, after every eager job of the pipeline."""
    from ocr_obsidian_spark.plans import pipeline

    out = tmp_path / "run"
    assert _extract(out) == 0
    before = _snapshot(out)
    victim = spark.read.parquet(str(out / "corpus")).first()["url"]
    mode = pipeline.apply_printed_page_mode

    def boom(raw, cfg):
        return mode(raw, cfg).filter(_raise_on(victim)("url"))

    monkeypatch.setattr(pipeline, "apply_printed_page_mode", boom)
    assert _extract(out) == 1
    assert _snapshot(out) == before
    assert not _leftovers(tmp_path)


def test_failed_extract_lineage_commits_neither_table(tmp_path, spark, monkeypatch):
    """The corpus/lineage pair commits together: when only the lineage
    write fails, the corpus written before it is not swapped in either."""
    from dataclasses import replace

    from ocr_obsidian_spark.plans import pipeline

    out = tmp_path / "run"
    assert _extract(out) == 0
    before = _snapshot(out)
    run = pipeline.run_pipeline

    def lineage_fails(*a, **kw):
        res = run(*a, **kw)
        return replace(res, lineage=res.lineage.filter(_raise_on("r")("run_id")))

    monkeypatch.setattr(pipeline, "run_pipeline", lineage_fails)
    # a different corpus, so a swapped-in corpus would show
    assert _extract(out, "fixtures:1,5,3") == 1
    assert _snapshot(out) == before
    assert not _leftovers(tmp_path)


def test_failed_prepare_keeps_previous_output(tmp_path, spark, monkeypatch):
    """A failed ``--overwrite always`` prepare leaves the old prepared
    corpus byte-equal, with no staging directory behind. The injected row
    fails in the last gate, inside the write job."""
    from test_recipe import _fixture_rows

    from ocr_obsidian_spark.operators import recipe

    src = str(tmp_path / "docs")
    spark.createDataFrame(_fixture_rows(), ["doc_id", "url", "text"]).write.parquet(src)
    out = tmp_path / "prepared"
    argv = ["prepare", "--docs", src, "--out", str(out), "--overwrite", "always"]
    assert main(argv) == 0
    before = _snapshot(out)
    victim = spark.read.parquet(str(out)).first()["doc_id"]
    scrub = recipe.scrub_pii

    def boom(df, text_col):
        return scrub(df, text_col=text_col).filter(_raise_on(victim)("doc_id"))

    monkeypatch.setattr(recipe, "scrub_pii", boom)
    assert main(argv) == 1
    assert _snapshot(out) == before
    assert not _leftovers(tmp_path)


def test_export_text_refuses_before_writing_any_book(tmp_path, spark):
    """``--overwrite never`` with one of two book files present exits 4
    without writing the other one."""
    corpus = str(tmp_path / "run" / "corpus")
    assert main(["extract", "--pages", "fixtures:2,2,5", "--out",
                 str(tmp_path / "run"), "--master", "local[4]"]) == 0
    probe = tmp_path / "probe"
    assert main(["export-text", "--corpus", corpus, "--out", str(probe)]) == 0
    _, second = sorted(p.name for p in probe.iterdir())
    books = tmp_path / "books"
    books.mkdir()
    (books / second).write_text("kept", encoding="utf-8")
    assert main(["export-text", "--corpus", corpus, "--out", str(books)]) == 4
    assert sorted(p.name for p in books.iterdir()) == [second]
    assert (books / second).read_text(encoding="utf-8") == "kept"


def test_smoke_chains_all_five_stages(tmp_path, spark):
    work = str(tmp_path / "smoke")
    assert main(["smoke", "--workdir", work, "--master", "local[4]",
                 "--shuffle-partitions", "8"]) == 0
    for sub in ["corpus", "lineage", "triggers", "spans", "notes", "books"]:
        assert (tmp_path / "smoke" / sub).exists(), sub
    corpus = spark.read.parquet(f"{work}/corpus")
    assert corpus.count() == 20
    books = list((tmp_path / "smoke" / "books").glob("book_*.md"))
    assert len(books) == 2
    content = books[0].read_text(encoding="utf-8")
    assert content.startswith("# b0") and "## Page " in content


def test_extract_with_example_config(tmp_path, spark):
    """The shipped example YAML must parse and drive a real extract run."""
    out = str(tmp_path / "cfg_run")
    rc = main(["extract", "--pages", "fixtures:1,4,2", "--out", out,
               "--config", str(ROOT / "configs" / "pipeline.example.yaml"),
               "--master", "local[4]", "--shuffle-partitions", "8"])
    assert rc == 0
    assert spark.read.parquet(f"{out}/corpus").count() == 4


def test_dedup_subcommand_exact_and_near(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    dup = docs.limit(5).select((F.col("doc_id") + 9000).alias("doc_id"),
                               "text", "lang", "source", "n_chars")
    src = str(tmp_path / "docs")
    docs.unionByName(dup).write.parquet(src)
    out1 = str(tmp_path / "deduped")
    assert main(["dedup", "--docs", src, "--out", out1]) == 0
    assert spark.read.parquet(out1).count() == 60
    out2 = str(tmp_path / "near")
    assert main(["dedup", "--docs", src, "--out", out2, "--mode", "near",
                 "--threshold", "0.9"]) == 0
    near = spark.read.parquet(out2)
    # all injected copies resolve to their min-id twin; the base corpus
    # itself contains a couple of genuine >=0.9 near-dups, so <= 60
    assert near.filter(F.col("doc_id") >= 9000).count() == 0
    assert near.filter(F.col("doc_id") < 5).count() == 5
    assert near.count() <= 60


def test_dedup_subcommand_semantic_mode(tmp_path, spark):
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    dup = emb.limit(5).select((F.col("vec_id") + 9000).alias("vec_id"), "embedding")
    allv = emb.unionByName(dup)
    esrc = str(tmp_path / "emb")
    allv.write.parquet(esrc)
    docs = allv.select(
        "vec_id", F.concat(F.lit("doc "), F.col("vec_id")).alias("text")
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out = str(tmp_path / "sem")
    # exact-copy groups tie on the rounded keep score → id asc tie-break
    # keeps the original, drops every injected +9000 copy
    assert main(["dedup", "--docs", src, "--out", out, "--mode", "semantic",
                 "--embeddings", esrc, "--id-col", "vec_id",
                 "--clusters", "4"]) == 0
    res = spark.read.parquet(out)
    assert res.count() == 40
    assert res.filter(F.col("vec_id") >= 9000).count() == 0
    # semantic mode refuses to run without the sidecar embeddings table
    assert main(["dedup", "--docs", src, "--out", str(tmp_path / "x"),
                 "--mode", "semantic"]) == 2


def test_select_subcommand_dsir(tmp_path, spark):
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.dsir import dsir_select, fit_dsir

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    # target distribution = the english half of the pool
    tgt = str(tmp_path / "target")
    docs.filter(F.col("lang") == "en").write.parquet(tgt)
    out = str(tmp_path / "sel")
    assert main(["select", "--docs", src, "--target", tgt, "--out", out,
                 "--keep-k", "12"]) == 0
    res = spark.read.parquet(out)
    assert res.count() == 12
    assert "logw_micro" in res.columns and "text" in res.columns
    # the CLI selection replays the library path exactly (same fit, k, seed)
    model = fit_dsir(spark.read.parquet(tgt), spark.read.parquet(src))
    exp = {
        r["doc_id"]
        for r in dsir_select(spark.read.parquet(src), 12, model).collect()
        if r["selected"] == 1
    }
    assert {r["doc_id"] for r in res.select("doc_id").collect()} == exp


def test_module_entrypoint_help_runs_without_spark():
    out = subprocess.run(
        [sys.executable, "-m", "ocr_obsidian_spark", "--help"],
        capture_output=True, text=True, cwd=ROOT, timeout=60,
    )
    assert out.returncode == 0
    for cmd in ["extract", "detect-blocks", "make-spans", "emit-notes", "export-text", "smoke"]:
        assert cmd in out.stdout


def test_webprep_subcommand_full_chain(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    # synthetic urls: 3 hosts; text gets a deterministic email injected
    src_df = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" mail me: a.b@x-test.org ok")).alias("text"),
        "lang", "source", "n_chars",
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 3).cast("string"),
            F.lit(".test/d/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    src = str(tmp_path / "wp_docs")
    src_df.write.parquet(src)
    bench = str(tmp_path / "wp_bench")
    src_df.filter(F.col("doc_id") < 3).write.parquet(bench)
    out = str(tmp_path / "wp_out")
    assert main([
        "webprep", "--docs", src, "--out", out,
        "--cap-per-domain", "10", "--benchmark", bench, "--scrub-pii",
    ]) == 0
    got = spark.read.parquet(out)
    n = got.count()
    assert 0 < n <= 30  # 3 hosts x cap 10
    # benchmark-overlapping docs are gone; PII scrubbed everywhere
    assert got.filter(F.col("doc_id") < 3).count() == 0
    assert got.filter(F.col("text").contains("a.b@x-test.org")).count() == 0
    assert got.filter(F.col("text").contains("<EMAIL>")).count() == n
    # overwrite refusal: the reference exit-code contract applies here too
    assert main(["webprep", "--docs", src, "--out", out]) == 4


def test_dedup_subcommand_substr_mode(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" planted shared passage one two three four five six"),
        ).alias("text"),
        "lang", "source", "n_chars",
    )
    src = str(tmp_path / "sd_docs")
    injected.write.parquet(src)
    out = str(tmp_path / "sd_out")
    assert main(["dedup", "--docs", src, "--out", out, "--mode", "substr"]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 40  # substr mode rewrites text, keeps rows
    # the planted passage (8 words, shared by all docs) is excised
    assert got.filter(F.col("text").contains("planted shared passage")).count() == 0
    assert got.agg(F.sum("n_words_dropped")).collect()[0][0] >= 40 * 8
    # all input columns survive (rebuilt text is re-joined onto full rows)
    for col in ("doc_id", "text", "lang", "source", "n_chars"):
        assert col in got.columns, col


def test_score_subcommand(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    src = str(tmp_path / "sc_docs")
    docs.write.parquet(src)
    out = str(tmp_path / "sc_out")
    assert main(["score", "--docs", src, "--out", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 30
    for col in ("lang_id", "lang_marker", "lm_ppl", "nll_micro",
                "quality_score", "clf_score_micro", "clf_label", "clf_prob"):
        assert col in got.columns, col
    assert got.filter(F.col("lm_ppl").isNull()).count() == 0
    # the perplexity gate actually filters
    out2 = str(tmp_path / "sc_out2")
    assert main(["score", "--docs", src, "--out", out2, "--max-ppl", "1"]) == 0
    assert spark.read.parquet(out2).count() == 0
    # the classifier gate keeps exactly the label-1 rows
    out3 = str(tmp_path / "sc_out3")
    assert main(["score", "--docs", src, "--out", out3, "--clf-only"]) == 0
    n_clf = got.filter(F.col("clf_label") == 1).count()
    assert spark.read.parquet(out3).count() == n_clf
    # overwrite refusal keeps the reference exit-code contract
    assert main(["score", "--docs", src, "--out", out]) == 4


def test_tokenize_subcommand(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(24)
    src = str(tmp_path / "tk_docs")
    docs.write.parquet(src)
    # wordpiece (default), doc-grain output
    out = str(tmp_path / "tk_wp")
    assert main(["tokenize", "--docs", src, "--out", out]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 24
    assert "wordpiece_tokens" in got.columns and "n_wordpiece_tokens" in got.columns
    # bpe + packing into fixed-width sequences (documents has no url
    # column, so the packing key is the id itself)
    out2 = str(tmp_path / "tk_bpe_pack")
    assert main([
        "tokenize", "--docs", src, "--out", out2, "--tokenizer", "bpe",
        "--pack-seq-len", "32", "--pack-groups", "4", "--key-col", "doc_id",
    ]) == 0
    packed = spark.read.parquet(out2)
    assert set(packed.columns) == {"shard_group", "seq_idx", "n_tokens", "tokens"}
    assert packed.filter(F.col("n_tokens") > 32).count() == 0
    # conservation: every token plus one EOS per doc survives the chop
    n_tok = (
        spark.read.parquet(out)  # wordpiece counts differ; recount bpe
        .sparkSession.read.parquet(src).count()
    )
    from ocr_obsidian_spark.operators.tokenize import tokenize_bpe

    total_bpe = (
        tokenize_bpe(spark.read.parquet(src))
        .agg(F.sum("n_bpe_tokens")).collect()[0][0]
    )
    got_total = packed.agg(F.sum("n_tokens")).collect()[0][0]
    assert got_total == total_bpe + 24  # one [EOS] per doc
    assert n_tok == 24
    # missing packing key (default url, absent here) fails closed with
    # the config exit code
    out3 = str(tmp_path / "tk_bad")
    assert main([
        "tokenize", "--docs", src, "--out", out3, "--pack-seq-len", "8",
    ]) == 3


def test_tokenize_subcommand_unigram(tmp_path, spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(12)
    src = str(tmp_path / "ug_docs")
    docs.write.parquet(src)
    out = str(tmp_path / "ug_out")
    assert main([
        "tokenize", "--docs", src, "--out", out, "--tokenizer", "unigram",
    ]) == 0
    got = spark.read.parquet(out)
    assert got.count() == 12
    assert {"unigram_tokens", "n_unigram_tokens", "unigram_cost_micro"} <= set(
        got.columns
    )
    # the Viterbi objective is a positive integer for any non-empty doc
    assert got.filter(
        (F.length(F.trim("text")) > 0) & (F.col("unigram_cost_micro") <= 0)
    ).count() == 0


def test_tokenize_fit_on_corpus(tmp_path, spark):
    """--fit-on-corpus trains the bpe/unigram table on the input itself
    (distributed histogram + driver trainer) and must equal tokenizing
    with an explicitly corpus-fit table; wordpiece fit fails closed."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.tokenize import (
        tokenize_bpe,
        train_bpe_on_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(16)
    src = str(tmp_path / "fit_docs")
    docs.write.parquet(src)

    out = str(tmp_path / "fit_bpe")
    assert main([
        "tokenize", "--docs", src, "--out", out,
        "--tokenizer", "bpe", "--fit-on-corpus",
    ]) == 0
    got = {
        r["doc_id"]: r["bpe_tokens"]
        for r in spark.read.parquet(out).select("doc_id", "bpe_tokens").collect()
    }
    merges = train_bpe_on_corpus(spark.read.parquet(src))
    want = {
        r["doc_id"]: r["bpe_tokens"]
        for r in tokenize_bpe(spark.read.parquet(src), merges=merges)
        .select("doc_id", "bpe_tokens").collect()
    }
    assert got == want
    # a corpus-fit table differs from the fixture table on real text
    assert len(merges) > 0

    out_u = str(tmp_path / "fit_unigram")
    assert main([
        "tokenize", "--docs", src, "--out", out_u,
        "--tokenizer", "unigram", "--fit-on-corpus",
    ]) == 0
    u = spark.read.parquet(out_u)
    # concat(tokens) per doc reconstructs each normalized word stream
    joined = u.select(
        F.concat_ws("", "unigram_tokens").alias("cat"),
        F.regexp_replace(
            F.lower(F.trim(F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")),
                "[ \\t\\n\\x0B\\f\\r]+", " "))), " ", ""
        ).alias("norm_nospace"),
    )
    assert joined.filter(F.col("cat") != F.col("norm_nospace")).count() == 0

    assert main([
        "tokenize", "--docs", src, "--out", str(tmp_path / "fit_wp"),
        "--fit-on-corpus",
    ]) == 3


def test_rank_subcommand(tmp_path, spark):
    """pages → host rank table; --attach-docs joins host_rank_i onto a
    docs table by url host. Rank order must reflect in-link weight."""
    rows = [
        ("https://a.test/1", b'<a href="https://b.test/x">b</a>'),
        ("https://a.test/2", b'<a href="https://b.test/y">b</a>'),
        ("https://c.test/1", b'<a href="https://b.test/z">b</a> '
                             b'<a href="https://a.test/">a</a>'),
        ("https://b.test/1", b"<p>no links</p>"),
    ]
    pages = spark.createDataFrame(rows, ["url", "html"])
    src = str(tmp_path / "rank_pages")
    pages.write.parquet(src)

    out = str(tmp_path / "hosts")
    assert main(["rank", "--pages", src, "--out", out]) == 0
    got = {r["host"]: r["host_rank_i"] for r in spark.read.parquet(out).collect()}
    assert set(got) == {"a.test", "b.test", "c.test"}
    # b.test is linked from both other hosts — it must out-rank them
    assert got["b.test"] > got["a.test"] > got["c.test"]

    docs = spark.createDataFrame(
        [(1, "https://b.test/doc"), (2, "https://nolinks.test/doc")],
        ["doc_id", "url"],
    )
    dsrc = str(tmp_path / "rank_docs")
    docs.write.parquet(dsrc)
    out2 = str(tmp_path / "ranked_docs")
    assert main([
        "rank", "--pages", src, "--out", out2, "--attach-docs", dsrc,
    ]) == 0
    joined = {r["doc_id"]: r["host_rank_i"] for r in spark.read.parquet(out2).collect()}
    assert joined[1] == got["b.test"]
    assert joined[2] is None  # host absent from the link graph: left join


def test_webprep_overlap_pct_validation_exits_config(tmp_path, spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(4)
    src = str(tmp_path / "v_docs")
    docs.write.parquet(src)
    assert main([
        "webprep", "--docs", src, "--out", str(tmp_path / "v_out"),
        "--benchmark", src, "--max-overlap-pct", "100",
    ]) == 3


def test_filter_subcommand(tmp_path, spark):
    """C4 + Gopher gates from the CLI: dropping vs --flags-only, and the
    no-filter-selected config error."""
    from pyspark.sql import functions as F

    good = (
        "The crawl was fetched and the pages were parsed with care. "
        "Many documents arrived over the wire and most of them were "
        "clean and useful for training the model. " * 3
        + "The pipeline then removed the rest because quality matters."
    )
    docs = spark.createDataFrame(
        [(0, good), (1, "{ javascript boilerplate"), (2, "tiny doc.")],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "f_docs")
    docs.write.parquet(src)

    out = str(tmp_path / "f_out")
    assert main([
        "filter", "--docs", src, "--out", out, "--c4", "--gopher",
    ]) == 0
    kept = spark.read.parquet(out)
    assert {r["doc_id"] for r in kept.collect()} == {0}
    assert kept.filter(~F.col("gopher_pass")).count() == 0

    out2 = str(tmp_path / "f_flags")
    assert main([
        "filter", "--docs", src, "--out", out2, "--gopher", "--gopher-rep",
        "--flags-only",
    ]) == 0
    flagged = spark.read.parquet(out2)
    assert flagged.count() == 3
    assert {"gopher_pass", "gopher_rep_pass"} <= set(flagged.columns)

    # --c4 --flags-only is an AUDIT: the original text column survives
    # untouched, the cleaned text lands in c4_text, and a doc C4 would
    # have emptied carries an explicit c4_pass=False
    out3 = str(tmp_path / "f_c4flags")
    assert main([
        "filter", "--docs", src, "--out", out3, "--c4", "--flags-only",
    ]) == 0
    audited = spark.read.parquet(out3)
    assert audited.count() == 3
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r for r in audited.collect()}
    assert {i: got[i]["text"] for i in orig} == orig
    assert got[0]["c4_pass"] and got[0]["c4_text"]
    assert not got[1]["c4_pass"] and got[1]["c4_text"] == ""

    assert main([
        "filter", "--docs", src, "--out", str(tmp_path / "f_none"),
    ]) == 3


def test_report_subcommand(tmp_path, spark, capsys):
    import json

    docs = spark.createDataFrame(
        [(0, "two words", "en", "s0"), (1, None, "de", "s0"),
         (2, "a b c", "en", "s1"), (3, "x", None, "s1")],
        ["doc_id", "text", "lang", "source"],
    )
    src = str(tmp_path / "r_docs")
    docs.write.parquet(src)
    assert main(["report", "--docs", src]) == 0
    line = [
        ln for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ][-1]
    rep = json.loads(line)
    assert rep["n_docs"] == 4
    assert rep["n_null_text"] == 1
    assert rep["n_ws_tokens"] == 6
    # NULL groups get a dedicated key, not Python's str(None)
    assert rep["by_lang"] == {"en": 2, "de": 1, "<null>": 1}
    assert rep["by_source"] == {"s0": 2, "s1": 2}

    # --approx adds the sketch profile (no url column here, so only the
    # content/length sketches)
    assert main(["report", "--docs", src, "--approx"]) == 0
    line = [
        ln for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ][-1]
    prof = json.loads(line)["profile"]
    # exact counts stay top-level only (the sketch pass skips them)
    assert "n_docs" not in prof
    assert prof["approx_distinct_contents"] == 4  # 3 texts + null->''
    assert "0.5" in prof["len_quantiles"]
    assert "top_hosts" not in prof


def test_prepare_subcommand(tmp_path, spark, capsys, monkeypatch):
    """The one-job composed pipeline from the CLI: stage counters printed
    as JSON, prepared corpus written. Fixture and expected stage-by-stage
    drops are shared with tests/test_recipe.py."""
    import json

    from test_recipe import CONTAM_LINE, _fixture_rows

    docs = spark.createDataFrame(_fixture_rows(), ["doc_id", "url", "text"])
    src = str(tmp_path / "p_docs")
    docs.write.parquet(src)
    benchp = str(tmp_path / "p_bench")
    spark.createDataFrame([(0, CONTAM_LINE)], ["bid", "text"]).write.parquet(benchp)

    out = str(tmp_path / "p_out")
    assert main([
        "prepare", "--docs", src, "--out", out, "--langs", "en",
        "--benchmark", benchp, "--min-line-docs", "3",
    ]) == 0
    line = [
        ln for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ][-1]
    rep = json.loads(line)
    assert rep["stages"]["input"] == 15
    assert rep["stages"]["output"] == 7
    prepared = spark.read.parquet(out)
    assert prepared.count() == 7
    assert {"lang_id", "quality_score"} <= set(prepared.columns)

    # --checkpoint-dir makes the stage boundaries reliable checkpoints
    # under that dir, deleted (and the dir unset) when the command ends;
    # the prepared rows are the default run's
    from ocr_obsidian_spark.sources import io

    ckpt = tmp_path / "p_ckpt"
    out_r = str(tmp_path / "p_out_reliable")
    sc = spark.sparkContext
    written = []  # rdd-* checkpoint dirs present once the sink wrote
    commit = io.commit_tables

    def recording_commit(*a, **kw):
        rows = commit(*a, **kw)
        written.extend(ckpt.rglob("rdd-*"))
        return rows

    monkeypatch.setattr(io, "commit_tables", recording_commit)
    try:
        assert main([
            "prepare", "--docs", src, "--out", out_r, "--langs", "en",
            "--benchmark", benchp, "--min-line-docs", "3",
            "--checkpoint-dir", str(ckpt),
        ]) == 0
        assert sc.getCheckpointDir() is None
    finally:
        # unset the dir so no later test runs with reliable boundaries
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    assert written, "no reliable checkpoint was written under --checkpoint-dir"
    assert not list(ckpt.rglob("rdd-*"))
    def rows(path):
        return sorted(spark.read.parquet(path).collect(), key=lambda r: r["doc_id"])

    assert rows(out_r) == rows(out)

    # config errors, all raised before any Spark work: bad jaccard and an
    # empty --langs allowlist (would silently drop the whole corpus)
    assert main([
        "prepare", "--docs", src, "--out", str(tmp_path / "p_bad"),
        "--jaccard", "1.5",
    ]) == 3
    assert main([
        "prepare", "--docs", src, "--out", str(tmp_path / "p_bad2"),
        "--langs", "",
    ]) == 3


def test_sample_subcommand_hash_and_alpha(tmp_path, spark):
    """Both sampling modes from the CLI: hash nesting determinism and
    alpha's rare-group boost, plus the library-equivalence checks."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.webprep import alpha_sample, hash_sample

    rows = [(i, "en" if i < 900 else "sw") for i in range(1000)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    src = str(tmp_path / "s_docs")
    docs.write.parquet(src)

    out_h = str(tmp_path / "s_hash")
    assert main([
        "sample", "--docs", src, "--out", out_h, "--mode", "hash",
        "--pct", "0.25",
    ]) == 0
    got_h = {r["doc_id"] for r in spark.read.parquet(out_h).collect()}
    # NOT vacuous: a quarter of 1000 docs, within md5-bucket variance
    # (hash_sample counts in bucket units — the CLI converts the
    # documented fraction at 1/10000 resolution)
    assert 150 < len(got_h) < 350
    exp_h = {
        r["doc_id"]
        for r in hash_sample(
            docs, 2500, key_col="doc_id", buckets=10_000
        ).collect()
    }
    assert got_h == exp_h

    out_a = str(tmp_path / "s_alpha")
    assert main([
        "sample", "--docs", src, "--out", out_a, "--mode", "alpha",
        "--alpha", "0.0", "--keep-frac", "0.4",
    ]) == 0
    got_a = spark.read.parquet(out_a)
    # rare group fully kept (caps at 1.0)
    assert got_a.filter(F.col("lang") == "sw").count() == 100
    exp_a = {
        r["doc_id"]
        for r in alpha_sample(docs, alpha=0.0, keep_frac=0.4).collect()
    }
    assert {r["doc_id"] for r in got_a.collect()} == exp_a

    # config errors: hash without --pct; an out-of-range fraction; alpha
    # with a missing group col
    assert main([
        "sample", "--docs", src, "--out", str(tmp_path / "s_bad"),
    ]) == 3
    assert main([
        "sample", "--docs", src, "--out", str(tmp_path / "s_bad1"),
        "--mode", "hash", "--pct", "25",
    ]) == 3
    assert main([
        "sample", "--docs", src, "--out", str(tmp_path / "s_bad2"),
        "--mode", "alpha", "--group-col", "nope",
    ]) == 3
