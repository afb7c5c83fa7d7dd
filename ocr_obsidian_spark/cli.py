"""CLI: the reference's five-stage toolchain re-targeted at Spark tables.

Mirrors reference ingest/cli.py:38-243 — five subcommands wired to the same
pipeline stages, a YAML config surface with deep-merge-over-defaults
(ingest/config.py:39-77 → config.load_pipeline_yaml), and the same
error → exit-code contract (cli.py:224-242):

    config error      → 3        overwrite refused → 4
    dependency error  → 5        not implemented   → 2
    anything else     → 1

Tables stand in for the reference's directory trees: ``extract`` reads a
pages parquet (or synthesizes the deterministic fixture corpus) and writes
corpus + lineage parquet; ``detect-blocks``/``make-spans``/``emit-notes``
each read the prior stage's table; ``export-text`` materializes per-book
text files from the corpus. ``smoke`` chains all five on fixtures — the
scripts/dev_smoke_test.ps1 analog (reference README.md:187-195).

Table-writing stages refuse existing outputs first and commit through
``sources.io.commit_tables`` (staged, footer-counted, swapped in together),
so a failed run leaves the previous output as it was.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback
from dataclasses import replace

from .config import ConfigError, PipelineConfig, load_pipeline_yaml
from .sources import io as sink


class DependencyError(RuntimeError):
    """A required runtime piece is missing (reference OcrDependencyError)."""


def _session(args):
    try:
        from .session import build_session
    except ImportError as exc:  # pragma: no cover — pyspark is baked in here
        raise DependencyError(f"pyspark is required: {exc}") from exc
    return build_session(
        "ocr-obsidian-spark-cli",
        args.master,
        shuffle_partitions=args.shuffle_partitions,
    )


def _load_pages(spark, pages_arg: str):
    """``fixtures[:books,pages,seed]`` → synthesized corpus;
    ``warc:<path>`` → Common-Crawl-style archives (sources/warc.py);
    else parquet."""
    from .schemas import PAGES

    if pages_arg.startswith("warc:"):
        from .sources.warc import read_warc_pages

        return read_warc_pages(spark, pages_arg[len("warc:"):])
    if pages_arg.startswith("fixtures"):
        from .sources.fixtures import fixture_page_rows

        parts = pages_arg.split(":", 1)
        books, pages, seed = 3, 18, 42
        if len(parts) == 2:
            try:
                books, pages, seed = (int(v) for v in parts[1].split(","))
            except ValueError as exc:
                raise ConfigError(
                    f"bad fixtures spec {pages_arg!r} (want fixtures:B,P,SEED)"
                ) from exc
        return spark.createDataFrame(fixture_page_rows(books, pages, seed), schema=PAGES)
    return spark.read.schema(PAGES).parquet(pages_arg)


def _cfg(args) -> PipelineConfig:
    cfg = load_pipeline_yaml(getattr(args, "config", None))
    if getattr(args, "no_clean_text", False):
        cfg = replace(cfg, clean_text=False)
    if getattr(args, "printed_page_debug", False):
        cfg = replace(
            cfg, printed_page=type(cfg.printed_page)(
                **{**cfg.printed_page.__dict__, "debug": True}
            )
        )
    return cfg


def _load_book_meta(path: str | None):
    """book YAML → (book title override, BookMeta) — reference
    ingest/config.py:80-138 surface, minus the filesystem-path fields that
    have no table analog."""
    from .operators.emit import BookMeta

    if path is None:
        return None, None
    import yaml
    from pathlib import Path

    p = Path(path)
    if not p.exists():
        raise ConfigError(f"Config file not found: {p}")
    try:
        raw = yaml.safe_load(p.read_text(encoding="utf-8")) or {}
    except yaml.YAMLError as exc:
        raise ConfigError(f"Invalid YAML in {p}: {exc}") from exc
    if not isinstance(raw, dict):
        raise ConfigError(f"Expected mapping in YAML file: {p}")
    tags = raw.get("tags") or []
    if not isinstance(tags, list):
        raise ConfigError(f"tags must be a list in {p}")
    meta = BookMeta(
        title=str(raw.get("title", "")),
        creator=str(raw.get("creator", "")),
        year=str(raw.get("year", "")),
        format=str(raw.get("format", "book")),
        publisher_studio=str(raw.get("publisher_studio", "")),
        note_type=str(raw.get("note_type", "literature_review")),
        note_status=str(raw.get("note_status", "inbox")),
        note_version=str(raw.get("note_version", "v0.1.3")),
        yaml_schema_version=str(raw.get("YAML_schema_version", "v0.1.2")),
        register=str(raw.get("register", "public")),
        tags=tuple(str(t) for t in tags),
    )
    return str(raw.get("title", "")) or None, meta


# ---------------------------------------------------------------------------
# handlers
# ---------------------------------------------------------------------------

def run_extract(args) -> int:
    from .plans.pipeline import run_pipeline

    cfg = _cfg(args)
    spark = _session(args)
    corpus_out = os.path.join(args.out, "corpus")
    lineage_out = os.path.join(args.out, "lineage")
    sink.refuse_existing(spark, [corpus_out, lineage_out], args.overwrite)
    pages = _load_pages(spark, args.pages)
    res = run_pipeline(pages, cfg=cfg, run_id=args.run_id)
    n = sink.commit_tables(
        {corpus_out: res.corpus, lineage_out: res.lineage}, args.overwrite
    )[corpus_out]
    res.combined.unpersist()
    print(f"extract: wrote {n} corpus rows to {corpus_out} (run {args.run_id})")
    return 0


def run_detect_blocks(args) -> int:
    from .operators.blocks import detect_blocks

    cfg = _cfg(args)
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    pages = _load_pages(spark, args.pages)
    triggers = detect_blocks(pages, cfg)
    n = sink.commit_tables({args.out: triggers}, args.overwrite)[args.out]
    print(f"detect-blocks: wrote {n} trigger rows to {args.out}")
    return 0


def run_make_spans(args) -> int:
    from .operators.spans_op import make_spans

    cfg = _cfg(args)
    cfg = replace(cfg, spans=type(cfg.spans)(
        **{**cfg.spans.__dict__, "k_before": args.k_before, "k_after": args.k_after}
    ))
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    corpus = spark.read.parquet(args.corpus)
    triggers = spark.read.parquet(args.triggers)
    spans = make_spans(corpus, triggers, cfg)
    n = sink.commit_tables({args.out: spans}, args.overwrite)[args.out]
    print(f"make-spans: wrote {n} span rows to {args.out}")
    return 0


def run_emit_notes(args) -> int:
    from .operators.emit import emit_notes

    cfg = _cfg(args)
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    _, meta = _load_book_meta(args.book)
    corpus = spark.read.parquet(args.corpus)
    spans = spark.read.parquet(args.spans)
    notes = emit_notes(corpus, spans, cfg, run_id=args.run_id, book_meta=meta)
    n = sink.commit_tables({args.out: notes}, args.overwrite)[args.out]
    print(f"emit-notes: wrote {n} notes to {args.out} (run {args.run_id})")
    return 0


def run_export_text(args) -> int:
    from .operators.export_text import export_book_text

    cfg = _cfg(args)
    spark = _session(args)
    title, _ = _load_book_meta(args.book)
    corpus = spark.read.parquet(args.corpus)
    out = export_book_text(corpus, fmt=args.format, title=title)
    rows = out.collect()  # one small row per book — driver-side file sink
    ext = "md" if args.format == "md" else "txt"
    paths = [os.path.join(args.out, f"book_{r['book_id']}.{ext}") for r in rows]
    sink.refuse_existing(spark, paths, args.overwrite)
    os.makedirs(args.out, exist_ok=True)
    for path, r in zip(paths, rows):
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(r["content"])
    print(f"export-text: wrote {len(rows)} book file(s) to {args.out}")
    return 0


def run_dedup(args) -> int:
    """documents table → deduplicated table (training-data suite from the
    CLI): exact = single-shuffle content-hash window; near = minhash-LSH
    candidates → Jaccard verification → connected components → keep-list;
    substr = ExactSubstr passage excision; semantic = SemDeDup over a
    sidecar embeddings table (seeded k-means cells, within-cell cosine,
    keep the most-atypical member)."""
    from .operators.dedup import (
        drop_exact_duplicates,
        drop_near_duplicates,
        minhash_lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )
    from .operators.substrdedup import drop_duplicated_substrings

    # pure-argparse validation BEFORE any Spark work: a missing
    # --embeddings must not cost a session start plus a corpus count
    if args.mode == "semantic" and not args.embeddings:
        print("dedup --mode semantic requires --embeddings", file=sys.stderr)
        return 2

    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    if args.mode == "exact":
        kept = drop_exact_duplicates(docs, args.text_col, args.id_col)
    elif args.mode == "semantic":
        from pyspark.sql import functions as F

        from .operators.semdedup import semantic_dedup_labels
        from .operators.similarity import kmeans_centroids

        emb = spark.read.parquet(args.embeddings).select(
            F.col(args.id_col),
            F.col(args.vec_col).cast("array<double>").alias(args.vec_col),
        )
        cents = kmeans_centroids(emb, args.clusters, vec_col=args.vec_col)
        labels = semantic_dedup_labels(
            emb,
            cents,
            id_col=args.id_col,
            vec_col=args.vec_col,
            threshold=args.cosine_threshold,
        )
        losers = labels.filter(F.col("kept") == 0).select(args.id_col)
        kept = docs.join(losers, args.id_col, "left_anti")
    elif args.mode == "substr":
        # ExactSubstr-style: rows survive, shared passages are excised.
        # Join the rebuilt text back onto the full rows so the output
        # keeps every input column (url/lang/...) like the other modes —
        # a bare rebuild table would silently narrow the schema and break
        # downstream stages keyed on url
        rebuilt = drop_duplicated_substrings(
            docs, text_col=args.text_col, id_col=args.id_col,
            width=args.substr_width,
        )
        kept = docs.drop(args.text_col).join(rebuilt, args.id_col)
    else:
        cands = minhash_lsh_candidate_pairs(docs, args.text_col, args.id_col)
        pairs = ngram_jaccard_pairs(
            docs, args.text_col, args.id_col,
            threshold=args.threshold, candidate_pairs=cands,
        )
        kept = drop_near_duplicates(docs, pairs, args.id_col)
    n_out = sink.commit_tables({args.out: kept}, args.overwrite)[args.out]
    if args.mode == "substr":
        from pyspark.sql import functions as F

        res = spark.read.parquet(args.out)
        dropped = res.agg(F.sum("n_words_dropped")).collect()[0][0] or 0
        print(
            f"dedup[substr]: {n_in} docs, {dropped} duplicated words excised "
            f"at {args.out}"
        )
    else:
        print(f"dedup[{args.mode}]: {n_in} → {n_out} docs ({n_in - n_out} dropped) at {args.out}")
    return 0


def run_score(args) -> int:
    """documents table → scored table (the CCNet-style curation step):
    cascade language ID (marker heuristic + char-n-gram NB), KN-bigram
    LM perplexity, the composite quality features, and the supervised
    fastText-style classifier — all map-only (operators/langid.py,
    lm.py, textstats.py, qualityclf.py)."""
    from .operators.langid import with_language
    from .operators.lm import with_lm_perplexity
    from .operators.qualityclf import with_quality_label
    from .operators.textstats import with_quality_score

    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    out = with_language(docs, text_col=args.text_col)
    out = with_lm_perplexity(out, text_col=args.text_col)
    out = with_quality_score(out, text_col=args.text_col)
    out = with_quality_label(out, text_col=args.text_col)
    if args.max_ppl is not None or args.clf_only:
        from pyspark.sql import functions as F

        if args.max_ppl is not None:
            out = out.filter(
                F.col("lm_ppl").isNotNull() & (F.col("lm_ppl") <= args.max_ppl)
            )
        if args.clf_only:
            out = out.filter(F.col("clf_label") == 1)
    n_out = sink.commit_tables({args.out: out}, args.overwrite)[args.out]
    print(f"score: {n_in} → {n_out} docs at {args.out}")
    return 0


def run_report(args) -> int:
    """documents table → one JSON corpus summary on stdout (counts,
    token/char totals, per-lang and per-source breakdowns, NULL-text
    count) — the sanity check every pipeline stage boundary needs.
    Distributed: one full-scan aggregate + two group-bys over single
    columns; only group-cardinality-sized rows reach the driver."""
    import json as _json

    from pyspark.sql import functions as F

    from .operators.textstats import with_token_counts

    spark = _session(args)
    docs = spark.read.parquet(args.docs)
    t = with_token_counts(docs, args.text_col)
    row = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.coalesce(F.col(args.text_col), F.lit("")))).alias("n_chars"),
        F.sum("n_ws_tokens").alias("n_ws_tokens"),
        F.sum(F.col(args.text_col).isNull().cast("long")).alias("n_null_text"),
    ).collect()[0]
    rep = {
        "n_docs": row["n_docs"],
        "n_chars": int(row["n_chars"] or 0),
        "n_ws_tokens": int(row["n_ws_tokens"] or 0),
        "n_null_text": int(row["n_null_text"] or 0),
    }
    for col in ("lang", "source"):
        if col in docs.columns:
            # NULL groups get a dedicated key — str(None) would be
            # indistinguishable from a literal 'None' value
            rep[f"by_{col}"] = {
                ("<null>" if r[col] is None else str(r[col])): r["count"]
                for r in docs.groupBy(col).count().collect()
            }
    if args.approx:
        # the sketch profile (HLL distincts + GK quantiles) — the 100 TB
        # path, where exact distinct counts would each shuffle the corpus
        from .operators.textstats import profile_corpus

        # the exact aggregate above already carries n_docs/n_chars/
        # n_null_text — the sketch pass adds only the sketch columns
        rep["profile"] = profile_corpus(
            docs, text_col=args.text_col, include_counts=False
        )
    print(_json.dumps(rep, sort_keys=True))
    return 0


def run_sample(args) -> int:
    """documents table → deterministically sampled table: md5-bucket
    hash sampling (``--mode hash --pct``, reproducible and nestable —
    a 10% sample is a subset of the 40% one) or multilingual
    alpha-sampling (``--mode alpha``: Conneau et al. 2020 temperature
    re-weighting over a group column, rare groups boosted, waterfilled
    1.0 caps). Both are map-only over the corpus; alpha adds one
    group-cardinality count to the driver."""

    # cheap validation BEFORE any Spark work (the run_dedup rule): a
    # config typo must not cost a session start + full corpus scan
    if args.mode == "hash":
        if args.pct is None:
            raise ConfigError("sample --mode hash requires --pct")
        # hash_sample counts in BUCKET units — convert the documented
        # fraction at 1/10000 resolution (0.25 -> 2500 of 10000)
        n_keep = round(args.pct * 10_000)
        if not (0.0 < args.pct <= 1.0) or n_keep < 1:
            raise ConfigError(
                f"--pct must be a keep fraction in (0, 1], got {args.pct}"
            )
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    # schema-only checks before the expensive count
    key = args.key_col or ("url" if "url" in docs.columns else args.id_col)
    if args.mode == "alpha" and args.group_col not in docs.columns:
        raise ConfigError(
            f"sample --mode alpha: group column {args.group_col!r} "
            "not in the input"
        )
    n_in = docs.count()
    if args.mode == "hash":
        from .operators.webprep import hash_sample

        out = hash_sample(docs, n_keep, key_col=key, buckets=10_000)
    else:
        from .operators.webprep import alpha_sample

        out = alpha_sample(
            docs,
            alpha=args.alpha,
            keep_frac=args.keep_frac,
            group_col=args.group_col,
            key_col=key,
        )
    n_out = sink.commit_tables({args.out: out}, args.overwrite)[args.out]
    print(f"sample: {n_in} → {n_out} docs at {args.out}")
    return 0


def run_prepare(args) -> int:
    """documents table → training-ready corpus in ONE job: the composed
    published pipeline (operators/recipe.py prepare_web_corpus) with the
    per-stage survivor counters printed as one JSON line — the counters
    ride the sink write via DataFrame.observe, so nothing re-reads the
    corpus."""
    import json as _json

    from .operators.recipe import prepare_web_corpus

    if args.jaccard <= 0 or args.jaccard > 1:
        raise ConfigError(f"--jaccard must be in (0, 1], got {args.jaccard}")
    langs = (
        [s for s in args.langs.split(",") if s.strip()]
        if args.langs is not None
        else None
    )
    if langs is not None and not langs:
        # --langs "" would otherwise filter isin([]) and silently drop
        # the ENTIRE corpus with exit code 0
        raise ConfigError(
            "--langs parsed to an empty allowlist; omit the flag to keep "
            "all languages"
        )
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    sc = spark.sparkContext
    if args.checkpoint_dir:
        # a session checkpoint dir makes every stage boundary reliable
        sc.setCheckpointDir(args.checkpoint_dir)
    try:
        docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmark) if args.benchmark else None
        res = prepare_web_corpus(
            docs,
            text_col=args.text_col,
            id_col=args.id_col,
            url_col=args.url_col,
            langs=langs,
            benchmark=bench,
            jaccard_threshold=args.jaccard,
            line_dedup_min_docs=args.min_line_docs or None,
            keep_by=args.keep_by,
        )
        sink.commit_tables({args.out: res.df}, args.overwrite)
        print(_json.dumps({"stages": res.counts(), "out": args.out}, sort_keys=True))
    finally:
        if args.checkpoint_dir:
            # Spark never deletes the per-context D/<uuid> it checkpointed
            # into; unset the dir too, so later work here is local again
            path = sc._jvm.org.apache.hadoop.fs.Path(sc.getCheckpointDir())
            path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
    return 0


def run_filter(args) -> int:
    """documents table → rule-filtered table (the published heuristic
    gates, CLI-composable like a Gopher/C4-style pipeline): C4 line
    cleaning first (sentence-level gate BEFORE document-level stats, the
    published order), then the Gopher doc-shape/stop-word rules, then
    the Gopher repetition rule set — each optional, all map-only
    (webprep.c4_line_filter, textstats.with_gopher_flags,
    repetition.with_gopher_repetition). ``--flags-only`` keeps every doc
    AND its original text column, writing flag columns instead of
    dropping (C4 adds ``c4_text`` + ``c4_pass``; later gates score
    ``c4_text`` so flags match what the dropping mode would keep)."""
    from pyspark.sql import functions as F


    if not (args.c4 or args.gopher or args.gopher_rep):
        raise ConfigError(
            "filter: pass at least one of --c4 / --gopher / --gopher-rep"
        )
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    out = docs
    # downstream gates read the C4-cleaned text when --c4 ran (the
    # published order: line cleaning BEFORE document-level stats)
    stats_col = args.text_col
    if args.c4:
        from .operators.webprep import c4_line_filter

        if args.flags_only:
            # audit mode never rewrites the text column: cleaned text
            # goes to c4_text plus a boolean, and later gates read
            # c4_text so their flags match the dropping mode exactly
            out = c4_line_filter(out, text_col=args.text_col, out_col="c4_text")
            out = out.withColumn("c4_pass", F.length(F.col("c4_text")) > 0)
            stats_col = "c4_text"
        else:
            out = c4_line_filter(out, text_col=args.text_col)
            out = out.filter(F.length(F.col(args.text_col)) > 0)
    if args.gopher:
        from .operators.textstats import with_gopher_flags

        out = with_gopher_flags(out, stats_col)
        if not args.flags_only:
            out = out.filter(F.col("gopher_pass"))
    if args.gopher_rep:
        from .operators.repetition import with_gopher_repetition

        out = with_gopher_repetition(out, stats_col)
        if not args.flags_only:
            out = out.filter(F.col("gopher_rep_pass"))
    n_out = sink.commit_tables({args.out: out}, args.overwrite)[args.out]
    print(f"filter: {n_in} → {n_out} docs at {args.out}")
    return 0


def run_select(args) -> int:
    """documents table → DSIR-selected subset (operators/dsir.py): fit
    hashed-bigram importance ratios of a TARGET corpus against the raw
    pool (distributed explode+groupBy fit), weight every document with
    exact integer micro-log sums, and keep the Gumbel-top-k sample drawn
    without replacement ∝ exp(weight). Output keeps every input column
    plus ``logw_micro``."""
    from pyspark.sql import functions as F

    from .operators.dsir import dsir_select, fit_dsir

    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    target = spark.read.parquet(args.target)
    n_in = docs.count()
    model = fit_dsir(
        target, docs, text_col=args.text_col, buckets=args.buckets
    )
    labels = dsir_select(
        docs,
        args.keep_k,
        model,
        id_col=args.id_col,
        text_col=args.text_col,
        seed=args.seed,
    )
    kept = docs.join(
        labels.filter(F.col("selected") == 1).select(args.id_col, "logw_micro"),
        args.id_col,
    )
    n_out = sink.commit_tables({args.out: kept}, args.overwrite)[args.out]
    print(f"select: {n_in} → {n_out} docs (DSIR top-{args.keep_k}) at {args.out}")
    return 0


def run_tokenize(args) -> int:
    """documents table → real tokenizer tokens (greedy WordPiece,
    character-level BPE, or unigram-LM Viterbi — the checked-in fixture
    vocab/merge/cost tables; deployments pass their own trained tables
    through the YAML config), optionally packed into fixed-width
    GPT-style training sequences (operators/tokenize.py +
    webprep.pack_token_sequences)."""
    from .operators.tokenize import (
        tokenize_bpe,
        tokenize_unigram,
        tokenize_wordpiece,
    )

    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    fit = getattr(args, "fit_on_corpus", False)
    if fit and args.tokenizer == "wordpiece":
        raise ConfigError(
            "--fit-on-corpus supports bpe/unigram (WordPiece vocabs come "
            "from a trained BERT-style pipeline; pass one via config)"
        )
    if args.tokenizer == "bpe":
        if fit:
            from .operators.tokenize import train_bpe_on_corpus

            merges = train_bpe_on_corpus(
                docs, text_col=args.text_col, max_words=args.fit_max_words
            )
            toks = tokenize_bpe(docs, merges=merges, text_col=args.text_col)
        else:
            toks = tokenize_bpe(docs, text_col=args.text_col)
        tokens_col = "bpe_tokens"
    elif args.tokenizer == "unigram":
        if fit:
            from .operators.tokenize import train_unigram_on_corpus

            costs = train_unigram_on_corpus(
                docs, text_col=args.text_col, max_words=args.fit_max_words
            )
            toks = tokenize_unigram(docs, costs=costs, text_col=args.text_col)
        else:
            toks = tokenize_unigram(docs, text_col=args.text_col)
        tokens_col = "unigram_tokens"
    else:
        toks = tokenize_wordpiece(
            docs, text_col=args.text_col, unk_mode=args.unk_mode
        )
        tokens_col = "wordpiece_tokens"
    out = toks
    if args.pack_seq_len:
        from .operators.webprep import pack_token_sequences

        if args.key_col not in toks.columns:
            raise ConfigError(
                f"--pack-seq-len needs grouping column {args.key_col!r} "
                f"(pass --key-col; input has {sorted(docs.columns)})"
            )
        out = pack_token_sequences(
            toks,
            tokens_col=tokens_col,
            id_col=args.id_col,
            key_col=args.key_col,
            seq_len=args.pack_seq_len,
            groups=args.pack_groups,
        )
    n_out = sink.commit_tables({args.out: out}, args.overwrite)[args.out]
    what = "sequences" if args.pack_seq_len else "docs"
    print(f"tokenize[{args.tokenizer}]: {n_in} docs -> {n_out} {what} at {args.out}")
    return 0


def run_rank(args) -> int:
    """pages table (url, html) → host-level link-rank table
    (operators/graphrank.py: distinct host edges from hrefs, then
    integer-exact PageRank — the Common Crawl-style domain-rank prior);
    optionally join host_rank_i onto a docs table by each doc's url
    host. The join is left UNHINTED: the host table is tiny relative to
    the corpus for ordinary crawls (AQE broadcasts it), but a 10^8-host
    web graph may exceed broadcast limits — AQE picks from real sizes."""
    from .operators.graphrank import host_link_edges, page_host, page_rank

    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    pages = spark.read.parquet(args.pages)
    edges = host_link_edges(
        pages, url_col=args.url_col, html_col=args.html_col
    )
    ranks = page_rank(
        edges, iters=args.iters, scale=args.scale,
        node_col="host", rank_col="host_rank_i",
    )
    if args.attach_docs:
        docs = spark.read.parquet(args.attach_docs)
        out = docs.withColumn("host", page_host(args.url_col)).join(
            ranks, "host", "left"
        )
    else:
        out = ranks
    n = sink.commit_tables({args.out: out}, args.overwrite)[args.out]
    what = "ranked docs" if args.attach_docs else "hosts"
    print(f"rank: {n} {what} at {args.out}")
    return 0


def run_webprep(args) -> int:
    """documents table → prepared table: optional per-domain cap →
    deterministic hash sample → decontamination vs a benchmark table →
    PII scrub (operators/webprep.py, all map-only except the domain-cap
    window)."""
    from .operators.webprep import (
        cap_per_domain,
        decontaminate,
        hash_sample,
        scrub_pii,
    )

    pct = getattr(args, "max_overlap_pct", None)
    if pct is not None and not (0 <= pct < 100):
        raise ConfigError(
            f"--max-overlap-pct must be in [0, 100), got {pct}"
        )
    spark = _session(args)
    sink.refuse_existing(spark, [args.out], args.overwrite)
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()
    out = docs
    if args.cap_per_domain and args.url_col in docs.columns:
        out = cap_per_domain(out, args.cap_per_domain, url_col=args.url_col)
    if args.sample_pct is not None:
        key = args.url_col if args.url_col in docs.columns else args.id_col
        out = hash_sample(out, args.sample_pct, key_col=key)
    if args.benchmark:
        bench = spark.read.parquet(args.benchmark)
        pct = getattr(args, "max_overlap_pct", None)
        if pct is not None:
            from .operators.webprep import decontaminate_by_overlap

            out = decontaminate_by_overlap(
                out, bench, max_overlap_pct=pct, text_col=args.text_col,
                id_col=args.id_col, k=args.shingle_k,
            )
        else:
            out = decontaminate(
                out, bench, text_col=args.text_col, id_col=args.id_col,
                k=args.shingle_k,
            )
    if args.scrub_pii:
        out = scrub_pii(out, text_col=args.text_col)
    n_out = sink.commit_tables({args.out: out}, args.overwrite)[args.out]
    print(f"webprep: {n_in} → {n_out} docs at {args.out}")
    return 0


def run_smoke(args) -> int:
    """Chain extract → detect-blocks → make-spans → emit-notes →
    export-text on fixtures from a clean directory (dev_smoke_test analog)."""
    import tempfile
    from types import SimpleNamespace

    work = args.workdir or tempfile.mkdtemp(prefix="oos_smoke_")
    base = dict(
        master=args.master, shuffle_partitions=args.shuffle_partitions,
        config=args.config, overwrite="always", run_id="smoke-run",
        no_clean_text=False, printed_page_debug=False, book=None,
    )
    pages = "fixtures:2,10,7"
    rc = run_extract(SimpleNamespace(**base, pages=pages, out=work))
    rc |= run_detect_blocks(SimpleNamespace(**base, pages=pages, out=os.path.join(work, "triggers")))
    rc |= run_make_spans(SimpleNamespace(
        **base, corpus=os.path.join(work, "corpus"),
        triggers=os.path.join(work, "triggers"),
        out=os.path.join(work, "spans"), k_before=2, k_after=2,
    ))
    rc |= run_emit_notes(SimpleNamespace(
        **base, corpus=os.path.join(work, "corpus"),
        spans=os.path.join(work, "spans"), out=os.path.join(work, "notes"),
    ))
    rc |= run_export_text(SimpleNamespace(
        **base, corpus=os.path.join(work, "corpus"),
        out=os.path.join(work, "books"), format="md",
    ))
    print(f"smoke: all stages completed under {work}")
    return rc


# ---------------------------------------------------------------------------
# parser + main
# ---------------------------------------------------------------------------

def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default="local[*]", help="Spark master URL.")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--config", default=None, help="pipeline YAML (deep-merged over defaults)")
    p.add_argument("--overwrite", choices=["never", "always"], default="never")


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ocr_obsidian_spark", description="Spark-native extraction toolchain."
    )
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("extract", help="pages → corpus + lineage tables (OCR-spine analog).")
    _add_common(p)
    p.add_argument("--pages", required=True, help="pages parquet path or fixtures[:B,P,SEED]")
    p.add_argument("--out", required=True, help="output root (corpus/ + lineage/)")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--no-clean-text", action="store_true")
    p.add_argument("--printed-page-debug", action="store_true",
                   help="emit the top-10 candidate debug payload column")
    p.set_defaults(handler=run_extract)

    p = sub.add_parser("detect-blocks", help="pages → block-candidate triggers table.")
    _add_common(p)
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.set_defaults(handler=run_detect_blocks)

    p = sub.add_parser("make-spans", help="corpus + triggers → spans table.")
    _add_common(p)
    p.add_argument("--corpus", required=True)
    p.add_argument("--triggers", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--k-before", type=int, default=2)
    p.add_argument("--k-after", type=int, default=2)
    p.set_defaults(handler=run_make_spans)

    p = sub.add_parser("emit-notes", help="corpus + spans → notes table.")
    _add_common(p)
    p.add_argument("--corpus", required=True)
    p.add_argument("--spans", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--book", default=None, help="book metadata YAML")
    p.set_defaults(handler=run_emit_notes)

    p = sub.add_parser("export-text", help="corpus → concatenated per-book text files.")
    _add_common(p)
    p.add_argument("--corpus", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--format", choices=["txt", "md"], default="txt")
    p.add_argument("--book", default=None, help="book metadata YAML (title)")
    p.set_defaults(handler=run_export_text)

    p = sub.add_parser("dedup", help="documents table → deduplicated table.")
    _add_common(p)
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--out", required=True)
    p.add_argument("--mode", choices=["exact", "near", "substr", "semantic"],
                   default="exact")
    p.add_argument("--threshold", type=float, default=0.8, help="near-dup Jaccard floor")
    p.add_argument("--substr-width", type=int, default=8,
                   help="substr mode: shared-passage word threshold")
    p.add_argument("--embeddings", default=None,
                   help="semantic mode: parquet with (id-col, vec-col)")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--clusters", type=int, default=64,
                   help="semantic mode: k-means cell count (seeded fit)")
    p.add_argument("--cosine-threshold", type=float, default=0.999,
                   help="semantic mode: within-cell duplicate cosine floor")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.set_defaults(handler=run_dedup)

    p = sub.add_parser(
        "score",
        help="documents table → language / LM-perplexity / quality scored table.",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--max-ppl", type=float, default=None,
                   help="drop docs whose LM perplexity exceeds this")
    p.add_argument("--clf-only", action="store_true",
                   help="keep only docs the supervised classifier accepts")
    p.set_defaults(handler=run_score)

    p = sub.add_parser(
        "report",
        help="documents table → one-line JSON corpus summary on stdout.",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--text-col", default="text")
    p.add_argument("--approx", action="store_true",
                   help="add the sketch profile (HLL distinct contents/"
                        "hosts, doc-length quantiles, top hosts) — the "
                        "scale-safe stats exact groupBys can't give")
    p.set_defaults(handler=run_report)

    p = sub.add_parser(
        "sample",
        help="documents table → deterministic sample (md5-bucket hash "
             "or multilingual alpha temperature re-weighting).",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--mode", default="hash", choices=["hash", "alpha"])
    p.add_argument("--pct", type=float, default=None,
                   help="hash mode: keep fraction in (0, 1]")
    p.add_argument("--alpha", type=float, default=0.3,
                   help="alpha mode: temperature (0=equal kept counts, "
                        "1=proportional; 0.3 = the published XLM-R value)")
    p.add_argument("--keep-frac", type=float, default=0.5,
                   help="alpha mode: total corpus fraction to keep")
    p.add_argument("--group-col", default="lang",
                   help="alpha mode: group column (language)")
    p.add_argument("--key-col", default=None,
                   help="bucket key column (default: url if present, "
                        "else --id-col)")
    p.add_argument("--id-col", default="doc_id")
    p.set_defaults(handler=run_sample)

    p = sub.add_parser(
        "prepare",
        help="documents table → training-ready corpus (the full published "
             "pipeline: url dedup → lang → Gopher → C4 → line/exact/near "
             "dedup → decontaminate → PII), one job, stage counts printed.",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--url-col", default="url",
                   help="url column for the first dedup pass (skipped if absent)")
    p.add_argument("--langs", default=None,
                   help="comma-separated language allowlist (default: attach "
                        "lang_id, keep all)")
    p.add_argument("--benchmark", default=None,
                   help="eval-set parquet for k-shingle decontamination")
    p.add_argument("--keep-by", default=None, choices=[None, "quality_score"],
                   help="near-dedup representative rule (default: min id)")
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--min-line-docs", type=int, default=2,
                   help="cross-document line dedup threshold (0 disables)")
    p.add_argument("--checkpoint-dir", default=None,
                   help="write stage boundaries as reliable checkpoints "
                        "here (cluster setting — survives executor loss); "
                        "default: local checkpoints (fastest; truncated "
                        "blocks die with an executor)")
    p.set_defaults(handler=run_prepare)

    p = sub.add_parser(
        "filter",
        help="documents table → rule-filtered table (C4 / Gopher gates).",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--c4", action="store_true",
                   help="C4 line cleaning (drop docs left empty)")
    p.add_argument("--gopher", action="store_true",
                   help="Gopher doc-shape + stop-word rules")
    p.add_argument("--gopher-rep", action="store_true",
                   help="Gopher repetition rule set (11 fractions)")
    p.add_argument("--flags-only", action="store_true",
                   help="keep all docs; write flag columns instead of dropping")
    p.set_defaults(handler=run_filter)

    p = sub.add_parser(
        "select",
        help="documents table → DSIR importance-resampled subset.",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="raw pool parquet")
    p.add_argument("--target", required=True,
                   help="target-distribution documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--keep-k", type=int, required=True,
                   help="sample size (Gumbel top-k without replacement)")
    p.add_argument("--buckets", type=int, default=8192,
                   help="hashed n-gram feature buckets")
    p.add_argument("--seed", type=int, default=7)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.set_defaults(handler=run_select)

    p = sub.add_parser(
        "webprep",
        help="documents table → capped/sampled/decontaminated/scrubbed table.",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--url-col", default="url")
    p.add_argument("--cap-per-domain", type=int, default=0,
                   help="max docs per domain (0 = off; needs a url column)")
    p.add_argument("--sample-pct", type=int, default=None,
                   help="deterministic md5-bucket sample, percent kept")
    p.add_argument("--benchmark", default=None,
                   help="benchmark/eval parquet to decontaminate against")
    p.add_argument("--shingle-k", type=int, default=8)
    p.add_argument("--max-overlap-pct", type=int, default=None,
                   help="threshold decontamination: drop docs whose distinct-"
                        "shingle overlap with the benchmark exceeds this "
                        "percent (default: drop on ANY shared shingle)")
    p.add_argument("--scrub-pii", action="store_true")
    p.set_defaults(handler=run_webprep)

    p = sub.add_parser(
        "rank",
        help="pages (url, html) → host link-rank table (integer PageRank).",
    )
    _add_common(p)
    p.add_argument("--pages", required=True, help="input pages parquet (url, html)")
    p.add_argument("--out", required=True)
    p.add_argument("--url-col", default="url")
    p.add_argument("--html-col", default="html")
    p.add_argument("--iters", type=int, default=5)
    p.add_argument("--scale", type=int, default=10**12,
                   help="integer rank units per node of initial mass; keep "
                        "n_hosts * scale * 85 < 2^63 — pass 10**9 for "
                        "web-scale host graphs (default suits <=10^5 hosts)")
    p.add_argument("--attach-docs", default=None,
                   help="optional docs parquet: left-join host_rank_i onto it "
                        "by each doc's url host instead of writing the host table")
    p.set_defaults(handler=run_rank)

    p = sub.add_parser(
        "tokenize",
        help="documents table → tokenizer tokens, optionally packed sequences.",
    )
    _add_common(p)
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--key-col", default="url",
                   help="packing group key (pure function of this column)")
    p.add_argument("--tokenizer", choices=["wordpiece", "bpe", "unigram"],
                   default="wordpiece")
    p.add_argument("--unk-mode", choices=["char", "word"], default="char",
                   help="WordPiece [UNK] policy (char fallback / whole word)")
    p.add_argument("--pack-seq-len", type=int, default=0,
                   help="chop token streams into N-token training sequences (0 = off)")
    p.add_argument("--pack-groups", type=int, default=64)
    p.add_argument("--fit-on-corpus", action="store_true",
                   help="bpe/unigram: fit the merge/cost table on the input "
                        "corpus itself (distributed word histogram + "
                        "deterministic driver trainer) instead of the "
                        "fixture tables")
    p.add_argument("--fit-max-words", type=int, default=1_000_000,
                   help="histogram bound for --fit-on-corpus (top-K words "
                        "by count desc, word asc)")
    p.set_defaults(handler=run_tokenize)

    p = sub.add_parser("smoke", help="chain all five stages on fixtures.")
    _add_common(p)
    p.add_argument("--workdir", default=None)
    p.set_defaults(handler=run_smoke)

    return parser


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    try:
        return int(args.handler(args))
    except ConfigError as exc:
        print(f"ERROR: {exc}")
        return 3
    except sink.OverwriteError as exc:
        print(f"ERROR: {exc}")
        return 4
    except DependencyError as exc:
        print(f"ERROR: {exc}")
        return 5
    except NotImplementedError as exc:
        print(f"ERROR: {exc}")
        return 2
    except Exception as exc:  # defensive CLI boundary (reference cli.py:239-242)
        print(f"ERROR: {exc}")
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
