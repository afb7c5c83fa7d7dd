"""Text-analysis operators (all-native column expressions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.textstats import (
    _norm,
    with_quality_score,
    with_quality_tiers,
    with_repetition_stats,
    with_token_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "Hello world, 42 times!"), (2, ""), (3, "  spaced   out  ")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in with_token_counts(df).collect()}
    assert rows[1]["n_ws_tokens"] == 4
    # hello | world | , | 42 | times | !
    assert rows[1]["n_subword_tokens"] == 6
    assert rows[2]["n_ws_tokens"] == 0
    assert rows[3]["n_ws_tokens"] == 2


def test_quality_score_ranges(docs):
    scored = with_quality_score(docs)
    agg = scored.agg(
        F.min("quality_score").alias("lo"), F.max("quality_score").alias("hi")
    ).first()
    assert 0.0 <= agg["lo"] <= agg["hi"] <= 1.0
    # real prose should score comfortably above zero
    assert scored.filter(F.col("quality_score") > 0.5).count() > 0


def test_quality_score_degenerate_inputs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "@@@@ #### $$$$ %%%%"), (3, "the cat sat on the mat with a hat")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert rows[1] == 0.0
    assert rows[3] > rows[2]


def test_lang_id(spark):
    """The stopword-marker stage of the language-ID cascade."""
    from ocr_obsidian_spark.operators.langid import with_language

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of that house is to be"),
            (2, "der Hund und die Katze ist nicht das Problem"),
            (3, "le chat est la meilleure des choses une fois"),
            (4, "zzz qqq xxx"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["lang_marker"] for r in with_language(df).collect()}
    assert rows[1] == "en"
    assert rows[2] == "de"
    assert rows[3] == "fr"
    assert rows[4] == "und"


def test_repetition_stats_edges(spark):
    df = spark.createDataFrame(
        [
            (1, None),  # null text → all-zero stats, no NULL leakage
            (2, "one"),  # single token → no bigrams
            (3, "a b a b a b"),  # "a b" x3, "b a" x2 → top = 3/5
            (4, "x\nx\nx\ny"),  # 4 lines, 2 distinct → dup 0.5
            (5, "all words distinct here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert rows[1]["n_lines"] == 1 and rows[1]["n_bigrams"] == 0
    assert rows[1]["dup_line_frac"] == 0.0 and rows[1]["top_bigram_frac"] == 0.0
    assert rows[2]["n_bigrams"] == 0 and rows[2]["top_bigram_frac"] == 0.0
    assert rows[3]["n_bigrams"] == 5
    assert rows[3]["top_bigram_frac"] == 0.6
    assert rows[4]["n_lines"] == 4 and rows[4]["dup_line_frac"] == 0.5
    assert rows[5]["top_bigram_frac"] == pytest.approx(1 / 3, abs=1e-6)
    # schema: counters are long, fractions are double in [0, 1]
    out = with_repetition_stats(df)
    kinds = dict(out.dtypes)
    assert kinds["n_lines"] == "bigint" and kinds["n_bigrams"] == "bigint"
    assert kinds["dup_line_frac"] == "double" and kinds["top_bigram_frac"] == "double"


def test_quality_tiers_exact(spark):
    # two groups of 6 docs with distinct scores → tiers of exactly 2
    df = spark.createDataFrame(
        [(gi * 10 + i, g, float(i)) for gi, g in enumerate(("a", "b")) for i in range(6)],
        ["doc_id", "grp", "score"],
    )
    out = with_quality_tiers(df, score_col="score", by="grp", tiers=3)
    got = {(r["grp"], r["score"]): r["tier"] for r in out.collect()}
    for g in ("a", "b"):
        assert got[(g, 5.0)] == 1 and got[(g, 4.0)] == 1
        assert got[(g, 3.0)] == 2 and got[(g, 2.0)] == 2
        assert got[(g, 1.0)] == 3 and got[(g, 0.0)] == 3


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello   world"), (2, "hello world"), (3, "different")],
        ["doc_id", "text"],
    )
    # the normalized-content fingerprint of the ``fingerprint`` registry row
    norm = _norm("text")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.md5(norm).alias("fingerprint_md5"),
            F.xxhash64(norm).alias("fingerprint64"),
        ).collect()
    }
    assert rows[1]["fingerprint_md5"] == rows[2]["fingerprint_md5"]
    assert rows[1]["fingerprint64"] == rows[2]["fingerprint64"]
    assert rows[1]["fingerprint_md5"] != rows[3]["fingerprint_md5"]


def test_script_mix(spark):
    from ocr_obsidian_spark.operators.textstats import with_script_mix

    rows = [
        (1, "plain latin text"),
        (2, "привет мир"),  # cyrillic
        (3, "一丁丂七丄丅丆万丈三 ab"),  # 10 cjk vs 2 latin → cjk-dominant
        (4, "1234 .,!?"),  # no letters at all
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_script_mix(df).collect()}
    assert got[1]["dominant_script"] == "latin" and got[1]["cyrillic_frac"] == 0.0
    assert got[2]["dominant_script"] == "cyrillic"
    assert got[2]["cyrillic_frac"] > 0.8
    assert got[3]["dominant_script"] == "cjk"
    assert got[4]["dominant_script"] == "und"
    assert got[5]["dominant_script"] == "und" and got[5]["latin_frac"] == 0.0


def test_gopher_flags(spark):
    from ocr_obsidian_spark.operators.textstats import with_gopher_flags

    sentence = (
        "The quick brown fox jumps over the lazy dog and it is that good. "
        "It runs to the hill and the end of the field is near that barn."
    )
    clean = sentence + " " + sentence  # 54 words: past the published 50 floor
    rows = [
        (1, clean),
        (2, clean + "\n# # # # # # # # # # # # # # # # # # # #"),  # symbol spam
        (3, "\n".join(f"{b} {sentence}" for b in "--*•")),  # all bullets
        (4, clean + "\nmore...\nstill more...\nagain…\nyet…"),  # ellipsis heavy
        (5, "000 111 222 333 444 555 " * 10),  # no alpha words, no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_gopher_flags(df).collect()}
    assert all(r["n_words"] >= 50 for r in got.values())
    assert got[1]["gopher_pass"]
    assert got[2]["symbol_word_ratio"] > 0.1 and not got[2]["gopher_pass"]
    assert got[3]["bullet_line_frac"] == 1.0 and not got[3]["gopher_pass"]
    assert got[4]["ellipsis_line_frac"] > 0.3 and not got[4]["gopher_pass"]
    assert got[5]["alpha_word_frac"] == 0.0 and got[5]["stop_distinct"] == 0
    assert not got[5]["gopher_pass"]


def test_gopher_document_shape_gates(spark):
    """Published Gopher doc-shape rules: word count in [50, 100k], mean
    word length in [3, 10]."""
    from ocr_obsidian_spark.operators.textstats import (
        GOPHER_THRESHOLDS,
        with_gopher_flags,
    )

    ok = "the good and solid words keep flowing here with sense " * 6  # 60 words
    rows = [
        (1, ok),
        (2, "the cat sat on that mat with it"),  # 8 words < 50
        (3, "to be of an it " * 12),  # 60 words, mean len 2 < 3
        (4, ("pneumonoultramicroscopic words with the " + "x" * 40 + " ") * 15),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_gopher_flags(df).collect()}
    assert got[1]["n_words"] == 60 and got[1]["gopher_pass"]
    assert got[2]["n_words"] == 8 and not got[2]["gopher_pass"]
    assert got[3]["mean_word_len"] < 3.0 and not got[3]["gopher_pass"]
    assert got[4]["mean_word_len"] > 10.0 and not got[4]["gopher_pass"]
    # the short document fails the word floor alone
    for c, (lo, hi) in GOPHER_THRESHOLDS.items():
        if c != "n_words":
            assert (lo is None or got[2][c] >= lo) and (hi is None or got[2][c] <= hi), c


def test_gopher_stopword_rule_is_published_set(spark):
    """The marker set is the 8-word Gopher rule (Rae et al. 2021 A1.1),
    counted as DISTINCT presence, at least two."""
    from ocr_obsidian_spark.operators.textstats import (
        GOPHER_STOPWORDS,
        GOPHER_THRESHOLDS,
        with_gopher_flags,
    )

    assert GOPHER_STOPWORDS == (
        "the", "be", "to", "of", "and", "that", "have", "with",
    )
    assert GOPHER_THRESHOLDS["stop_distinct"] == (2, None)
    filler = " good words keep flowing here" * 10  # 50 non-stopwords
    rows = [
        (1, "the the the the the cat" + filler),  # 1 distinct stopword, many hits
        (2, "be with someone nice" + filler),  # exactly 2 distinct
        (3, "the be to of and that have with all words once" + filler),  # all 8
        (4, "is it a in on for words only" + filler),  # non-Gopher markers: zero
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_gopher_flags(df).collect()}
    assert got[1]["stop_distinct"] == 1 and not got[1]["gopher_pass"]
    assert got[2]["stop_distinct"] == 2 and got[2]["gopher_pass"]
    assert got[3]["stop_distinct"] == 8 and got[3]["gopher_pass"]
    assert got[4]["stop_distinct"] == 0 and not got[4]["gopher_pass"]


def test_gopher_repetition_fractions(spark):
    from ocr_obsidian_spark.operators.repetition import with_gopher_repetition

    clean = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, clean),
        # one line repeated 3x among two unique ones
        (2, "alpha beta\nunique one\nalpha beta\nalpha beta"),
        # repeated paragraph
        (3, "para one body\n\npara one body\n\nother"),
        # inline phrase repeated: covers dup 5-grams via union coverage
        (4, ("the quick brown fox jumps again " * 3) + clean),
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_gopher_repetition(df).collect()}
    assert got[1]["gopher_rep_pass"]
    assert all(got[1][c] == 0.0 for c in ("dup_line_char_frac", "dup_5gram_char_frac"))
    # doc 2: 'alpha beta' (10 chars) x3 -> 2 dup occurrences of 10 chars
    # over 10*3 + 10 total line chars
    assert got[2]["dup_line_char_frac"] == round(20 / 40, 6)
    assert not got[2]["gopher_rep_pass"]
    assert got[3]["dup_para_char_frac"] == round(13 / (13 * 2 + 5), 6)
    # doc 4: every word of the repeated phrase region is covered by a
    # duplicated 5-gram (union coverage)
    assert got[4]["dup_5gram_char_frac"] > 0.2
    assert not got[4]["gopher_rep_pass"]
    assert got[5]["dup_line_char_frac"] == 0.0 and got[5]["gopher_rep_pass"]
    assert got[6]["top_2gram_char_frac"] == 0.0


def test_gopher_repetition_top_gram_and_coverage_exact(spark):
    from ocr_obsidian_spark.operators.repetition import with_gopher_repetition

    # 'a b' appears 3x ('a b c a b d a b'): top 2-gram = 'a b' (3 chars),
    # norm len = 15 -> 3*3/15 = 0.6
    rows = [(1, "a b c a b d a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    [r] = with_gopher_repetition(df).collect()
    assert r["top_2gram_char_frac"] == 0.6
    # overlapping duplicated 5-grams must count each covered word once:
    # 'x x x x x x x' -> every 5-gram 'x x x x x' duplicated, coverage =
    # all 7 words (7 chars) over norm len 13
    rows = [(1, "x x x x x x x")]
    [r] = with_gopher_repetition(spark.createDataFrame(rows, "doc_id long, text string")).collect()
    assert r["dup_5gram_char_frac"] == round(7 / 13, 6)


def test_gopher_repetition_numpy_path_matches_counter():
    """The large-doc numpy n-gram path must be bit-identical to the
    Counter path (same counts, same tie-breaks, same union coverage)."""
    import random

    from ocr_obsidian_spark.operators.repetition import (
        _ngram_stats_counter,
        _ngram_stats_numpy,
    )

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(12)] + ["a", "ab", "b"]  # prefix ties
    for trial in range(20):
        m = rng.randrange(10, 400)
        toks = [vocab[rng.randrange(len(vocab))] for _ in range(m)]
        norm = " ".join(toks)
        a: dict = {}
        b: dict = {}
        _ngram_stats_counter(toks, m, len(norm), a)
        _ngram_stats_numpy(toks, m, len(norm), b)
        assert a == b, (trial, m)


def test_profile_corpus_sketches_match_exact_on_fixture(spark):
    """The sketch profile's HLL distinct counts must land within the
    configured rsd of the exact answers on a corpus with KNOWN
    cardinalities (at fixture scale HLL++ is near-exact), quantiles
    within the neighboring exact order statistics, and the top-host
    table exact."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.textstats import profile_corpus

    rows = []
    for i in range(300):
        # 60 distinct contents (each repeated 5x), 7 hosts, skewed
        rows.append(
            (
                i,
                f"https://h{i % 7}.test/d/{i}",
                ("document body number %d. " % (i % 60)) * ((i % 60) + 1),
            )
        )
    rows.append((9000, None, None))  # null url + null text ride through
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    prof = profile_corpus(df)
    assert prof["n_docs"] == 301
    assert prof["n_null_text"] == 1
    # 60 distinct non-null contents + the null/'' group
    assert abs(prof["approx_distinct_contents"] - 61) <= 2
    # 7 hosts + '' for the null url
    assert abs(prof["approx_distinct_hosts"] - 8) <= 1
    exact_hosts = {
        r["host"]: r["count"]
        for r in df.groupBy(
            F.lower(F.regexp_extract(F.coalesce("url", F.lit("")), r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)).alias("host")
        ).count().collect()
    }
    for h, c in prof["top_hosts"].items():
        assert exact_hosts[h] == c, h
    assert len(prof["top_hosts"]) == 8  # every host fits the top-10 table
    # quantiles: within the exact value range, ordered
    q = prof["len_quantiles"]
    assert q["0.5"] <= q["0.9"] <= q["0.99"]
    lens = sorted(
        r[0] for r in df.select(F.length(F.coalesce("text", F.lit("")))).collect()
    )
    assert lens[0] <= q["0.5"] <= lens[-1]
    # NULL urls group under '' (never a None key — sorted-JSON consumers
    # would crash on mixed None/str keys) and the dict is JSON-safe
    import json as _json

    assert "" in prof["top_hosts"]
    _json.dumps(prof, sort_keys=True)
    # include_counts=False drops exactly the exact-count keys
    slim = profile_corpus(df, include_counts=False)
    assert "n_docs" not in slim and "approx_distinct_contents" in slim


def test_profile_corpus_single_pass_plan(spark):
    """The sketch aggregate is ONE partial-aggregable pass: the corpus's
    raw values never hash-shuffle (only the sketch merge exchange),
    pinned via the plan of the agg the profiler runs."""
    from pyspark.sql import functions as F

    from ocr_obsidian_spark.operators.dedup import normalized_text

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.sha2(normalized_text("text"), 256), 0.02).alias("d"),
        F.percentile_approx(F.length("text").cast("double"), [0.5], 10_000).alias("q"),
    )
    p = agg._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_count_distinct" in p or "HashAggregate" in p
    assert "Exchange hashpartitioning" not in p  # single-partition merge only
