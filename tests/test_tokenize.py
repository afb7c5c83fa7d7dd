"""Vocab-driven WordPiece tokenizer: greedy longest-match semantics,
[UNK] character fallback, and the pack_shards wiring (budgets denominated
in real tokenizer tokens)."""

from __future__ import annotations


def test_wordpiece_greedy_longest_match(spark):
    from ocr_obsidian_spark.operators.tokenize import tokenize_wordpiece

    vocab = ("a", "ab", "abc", "x", "##b", "##c", "##bc", "##x")
    rows = [(1, "abcx"), (2, "ABC  x"), (3, "axb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["wordpiece_tokens"]), r["n_wordpiece_tokens"])
        for r in tokenize_wordpiece(df, vocab=vocab).collect()
    }
    # longest initial piece wins (abc, not a/ab), then continuation
    assert got[1] == (["abc", "##x"], 2)
    # normalization: lowercase + whitespace collapse, two words
    assert got[2] == (["abc", "x"], 2)
    # 'x' has a continuation entry, 'a'/'b' only via ##b
    assert got[3] == (["a", "##x", "##b"], 3)


def test_wordpiece_unk_char_fallback(spark):
    from ocr_obsidian_spark.operators.tokenize import (
        UNK_TOKEN,
        tokenize_wordpiece,
    )

    vocab = ("a", "##a")
    rows = [(1, "aqa"), (2, "qq"), (3, ""), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["wordpiece_tokens"])
        for r in tokenize_wordpiece(df, vocab=vocab).collect()
    }
    # unknown position advances ONE char, then matching resumes
    assert got[1] == ["a", UNK_TOKEN, "##a"]
    assert got[2] == [UNK_TOKEN, UNK_TOKEN]
    assert got[3] == [] and got[4] == []


def test_wordpiece_fixture_vocab_covers_ascii(spark):
    """The checked-in fixture vocab tokenizes any ascii-alnum word with
    zero [UNK]s (single-char coverage both initial and continuation)."""
    from ocr_obsidian_spark.operators.tokenize import (
        UNK_TOKEN,
        tokenize_wordpiece,
    )

    rows = [(1, "zqxjkv9 w7 unbreakable runn1ng"), (2, "totally normal text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in tokenize_wordpiece(df).collect():
        assert UNK_TOKEN not in set(r["wordpiece_tokens"])
        assert r["n_wordpiece_tokens"] > 0


def test_pack_shards_on_wordpiece_counts(spark):
    """End-to-end wiring: shard budgets denominated in REAL tokenizer
    tokens — tokenize, pack on n_wordpiece_tokens, check the one-doc
    overshoot bound per shard."""
    from ocr_obsidian_spark.operators.tokenize import tokenize_wordpiece
    from ocr_obsidian_spark.operators.webprep import pack_shards

    rows = [
        (i, f"https://h.test/{i}", "the running total of " * ((i % 9) + 1))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    toks = tokenize_wordpiece(df)
    out = pack_shards(
        df=toks, budget=120, tokens_col="n_wordpiece_tokens", groups=4
    ).collect()
    assert all(r["n_wordpiece_tokens"] > 0 for r in out)
    by_shard: dict[tuple, int] = {}
    for r in out:
        key = (r["shard_group"], r["shard_idx"])
        by_shard[key] = by_shard.get(key, 0) + r["n_wordpiece_tokens"]
    max_tok = max(r["n_wordpiece_tokens"] for r in out)
    for key, total in by_shard.items():
        assert total <= 120 + max_tok, (key, total)


def test_whole_word_unk_mode(spark):
    """Classic BERT whole-word [UNK]: any unmatched position collapses
    the word; fully-matching words tokenize identically to char mode."""
    from ocr_obsidian_spark.operators.tokenize import (
        UNK_TOKEN,
        tokenize_wordpiece,
    )

    rows = [(1, "unbreakable éclair running")]  # é has no vocab entry
    df = spark.createDataFrame(rows, "doc_id long, text string")
    char = tokenize_wordpiece(df, unk_mode="char").collect()[0]
    word = tokenize_wordpiece(df, unk_mode="word").collect()[0]
    # éclair: char mode falls back per character, word mode nukes it
    assert UNK_TOKEN in char["wordpiece_tokens"]
    assert char["wordpiece_tokens"] != word["wordpiece_tokens"]
    assert word["wordpiece_tokens"].count(UNK_TOKEN) == 1
    # the fully-matching words are identical in both modes
    assert word["wordpiece_tokens"][0] == char["wordpiece_tokens"][0]
    assert word["wordpiece_tokens"][-2:] == char["wordpiece_tokens"][-2:]


def test_whole_word_mode_applies_word_char_cap(spark):
    from ocr_obsidian_spark.operators.tokenize import (
        UNK_TOKEN,
        tokenize_wordpiece,
    )

    long_word = "a" * 101  # fully matchable but over BERT's 100-char cap
    df = spark.createDataFrame([(1, f"{long_word} ok")], "doc_id long, text string")
    char = tokenize_wordpiece(df, unk_mode="char").collect()[0]
    word = tokenize_wordpiece(df, unk_mode="word").collect()[0]
    assert UNK_TOKEN not in char["wordpiece_tokens"]
    assert word["wordpiece_tokens"] == [UNK_TOKEN, "o", "##k"]


def test_both_mode_matches_single_modes_and_post_fold(spark):
    """unk_mode='both' emits exactly the two single-mode outputs in one
    pass, and word mode == the documented post-fold of char mode."""
    from ocr_obsidian_spark.operators.tokenize import (
        UNK_TOKEN,
        tokenize_wordpiece,
    )

    rows = [
        (1, "the quick éclair jumped over running waters"),
        (2, ""),
        (3, None),
        (4, "café cañon straße"),
        (5, "plain english words tokenize fine here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = {r["doc_id"]: r for r in tokenize_wordpiece(df, unk_mode="both").collect()}
    char = {r["doc_id"]: r for r in tokenize_wordpiece(df, unk_mode="char").collect()}
    word = {r["doc_id"]: r for r in tokenize_wordpiece(df, unk_mode="word").collect()}
    for i, _ in rows:
        assert both[i]["wordpiece_tokens"] == char[i]["wordpiece_tokens"]
        assert both[i]["wordpiece_tokens_ww"] == word[i]["wordpiece_tokens"]


def test_wordpiece_to_sequence_packing_end_to_end(spark):
    """The real pipeline wiring: WordPiece tokens → fixed-width packed
    training sequences. Every emitted token must be a vocab piece or
    [EOS]; chopping loses nothing."""
    from ocr_obsidian_spark.operators.tokenize import (
        WORDPIECE_FIXTURE_VOCAB,
        tokenize_wordpiece,
    )
    from ocr_obsidian_spark.operators.webprep import pack_token_sequences

    rows = [
        (i, f"https://h.test/{i}", "the running total of tokens grows " * (i % 4 + 1))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    toks = tokenize_wordpiece(df)
    packed = pack_token_sequences(
        toks, tokens_col="wordpiece_tokens", seq_len=16, groups=4
    ).collect()
    vocab = set(WORDPIECE_FIXTURE_VOCAB) | {"[EOS]", "[UNK]"}
    total = 0
    for r in packed:
        assert r["n_tokens"] <= 16
        assert all(t in vocab for t in r["tokens"])
        total += r["n_tokens"]
    n_tok = sum(r["n_wordpiece_tokens"] for r in toks.collect())
    assert total == n_tok + len(rows)  # every token + one EOS per doc


# ---------------------------------------------------------------------------
# BPE (Sennrich et al. 2016): trainer determinism, encoder semantics and
# the Spark operator
# ---------------------------------------------------------------------------


def test_bpe_trainer_on_the_published_example():
    """The paper's worked example (low/lower/newest/widest) — hand-checked
    first merges under the no-end-of-word-marker variant: ('e','s') and
    ('s','t') tie at 9, lexicographic tie-break picks ('e','s'); then
    ('es','t') dominates at 9; then the l-o-w chain."""
    from ocr_obsidian_spark.operators.tokenize import train_bpe

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = train_bpe(freqs, n_merges=4)
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]
    # determinism: same input, same table
    assert merges == train_bpe(dict(freqs), n_merges=4)


def test_bpe_encoder_overlap_semantics():
    """Left-to-right non-overlapping pass: 'aaaa' -> [aa, aa],
    'aaa' -> [aa, a] (then the rank-1 chain can continue)."""
    from ocr_obsidian_spark.operators.tokenize import bpe_encode_word

    ranks = {("a", "a"): 0}
    assert bpe_encode_word("aaaa", ranks) == ["aa", "aa"]
    assert bpe_encode_word("aaa", ranks) == ["aa", "a"]
    ranks2 = {("a", "a"): 0, ("aa", "aa"): 1, ("aa", "a"): 2}
    assert bpe_encode_word("aaaa", ranks2) == ["aaaa"]
    assert bpe_encode_word("aaaaa", ranks2) == ["aaaa", "a"]


def test_bpe_encoder_matches_rank_order_pass_reference():
    """The min-rank loop equals the published apply-merges-in-training-
    order encoding (a pair of rank r can only be created by merges of
    lower rank, so processing ranks in order never misses one). The
    reference here applies each merge as one full pass in rank order."""
    import random

    from ocr_obsidian_spark.operators.tokenize import (
        BPE_FIXTURE_MERGES,
        _merge_pass,
        bpe_encode_word,
    )

    ranks = {p: i for i, p in enumerate(BPE_FIXTURE_MERGES)}
    rng = random.Random(5)
    alphabet = "abdelnorstw"
    for _ in range(300):
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14)))
        syms = tuple(word)
        for pair in BPE_FIXTURE_MERGES:
            syms = _merge_pass(syms, pair)
        assert bpe_encode_word(word, ranks) == list(syms), word


def test_tokenize_bpe_spark(spark):
    from ocr_obsidian_spark.operators.tokenize import (
        BPE_FIXTURE_MERGES,
        bpe_encode_word,
        tokenize_bpe,
    )

    rows = [
        (1, "The BANANA  data was Packed"),
        (2, ""),
        (3, None),
        (4, "bananas xyzzy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"])
        for r in tokenize_bpe(df).collect()
    }
    ranks = {p: i for i, p in enumerate(BPE_FIXTURE_MERGES)}

    def ref(text):
        out = []
        for w in text.split(" "):
            if w:
                out.extend(bpe_encode_word(w, ranks))
        return out

    assert got[1] == (ref("the banana data was packed"), len(ref("the banana data was packed")))
    assert got[2] == ([], 0) and got[3] == ([], 0)
    assert got[4] == (ref("bananas xyzzy"), len(ref("bananas xyzzy")))
    # the fixture table actually merges: 'banana' is one token
    assert "banana" in got[1][0]


# ---------------------------------------------------------------------------
# Unigram LM (Kudo 2018) — trainer, Viterbi encoder, Spark operator
# ---------------------------------------------------------------------------


def _brute_best(word, costs, max_piece_len, unk_cost):
    """Exhaustive min over ALL segmentations of the (cost, n, path)
    tuple — the spec viterbi_segment must match."""
    from ocr_obsidian_spark.operators.tokenize import UNIGRAM_SEP

    best = None

    def rec(pos, cost, n, path):
        nonlocal best
        if pos == len(word):
            t = (cost, n, path)
            if best is None or t < best:
                best = t
            return
        for end in range(pos + 1, min(pos + max_piece_len, len(word)) + 1):
            piece = word[pos:end]
            c = costs.get(piece)
            if c is None:
                if end - pos != 1:
                    continue
                c = unk_cost
            rec(end, cost + c, n + 1, path + UNIGRAM_SEP + piece)

    rec(0, 0, 0, "")
    return best


def test_viterbi_matches_exhaustive_enumeration():
    from ocr_obsidian_spark.operators.tokenize import (
        UNIGRAM_FIXTURE_COSTS,
        UNIGRAM_MAX_PIECE_LEN,
        UNIGRAM_SEP,
        UNIGRAM_UNK_COST,
        viterbi_segment,
    )

    words = [
        "a", "the", "banana", "tokenizer", "trained", "deduplicated",
        "qqq", "ab", "aaaa", "(tokens)", "x9z.", "merges", "corpus",
    ]
    for w in words:
        pieces, cost = viterbi_segment(w, UNIGRAM_FIXTURE_COSTS)
        bc, bn, bpath = _brute_best(
            w, UNIGRAM_FIXTURE_COSTS, UNIGRAM_MAX_PIECE_LEN, UNIGRAM_UNK_COST
        )
        assert cost == bc and pieces == bpath.split(UNIGRAM_SEP)[1:], w
        # reconstruction invariant: pieces concatenate back to the word
        assert "".join(pieces) == w


def test_viterbi_cost_is_sum_of_piece_costs():
    from ocr_obsidian_spark.operators.tokenize import (
        UNIGRAM_FIXTURE_COSTS,
        UNIGRAM_UNK_COST,
        viterbi_segment,
    )

    pieces, cost = viterbi_segment("bananaq", UNIGRAM_FIXTURE_COSTS)
    assert cost == sum(
        UNIGRAM_FIXTURE_COSTS.get(p, UNIGRAM_UNK_COST) for p in pieces
    )


def test_unigram_trainer_deterministic_and_covering():
    from collections import Counter

    from ocr_obsidian_spark.operators.tokenize import (
        UNIGRAM_SEED_CORPUS,
        train_unigram,
    )

    freqs = Counter(UNIGRAM_SEED_CORPUS.split())
    a = train_unigram(freqs)
    b = train_unigram(freqs)
    assert a == b and list(a) == list(b)  # values AND order
    # every character of the corpus survives pruning (full coverage)
    chars = {c for w in freqs for c in w}
    assert chars <= set(a)
    assert all(isinstance(c, int) and c > 0 for c in a.values())


def test_unigram_trainer_em_compresses():
    """After hard-EM, frequent whole words segment as ONE piece."""
    from ocr_obsidian_spark.operators.tokenize import (
        UNIGRAM_FIXTURE_COSTS,
        viterbi_segment,
    )

    for w in ["the", "data", "banana", "pages", "corpus"]:
        assert viterbi_segment(w, UNIGRAM_FIXTURE_COSTS)[0] == [w]


def test_tokenize_unigram_spark(spark):
    from ocr_obsidian_spark.operators.tokenize import (
        UNIGRAM_FIXTURE_COSTS,
        UNIGRAM_MAX_WORD_CHARS,
        UNIGRAM_UNK_COST,
        tokenize_unigram,
        viterbi_segment,
    )

    long_word = "ab" * 15  # 30 chars > the 24-char unroll cap
    rows = [
        (1, "The banana  DATA"),
        (2, "résumé"),
        (3, long_word),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            list(r["unigram_tokens"]),
            r["n_unigram_tokens"],
            r["unigram_cost_micro"],
        )
        for r in tokenize_unigram(df).collect()
    }
    exp_toks, exp_cost = [], 0
    for w in ["the", "banana", "data"]:
        p, c = viterbi_segment(w, UNIGRAM_FIXTURE_COSTS)
        exp_toks += p
        exp_cost += c
    assert got[1] == (exp_toks, len(exp_toks), exp_cost)
    # é is out-of-vocab -> per-char UNK cost, word still segments
    p2, c2 = viterbi_segment("résumé", UNIGRAM_FIXTURE_COSTS)
    assert got[2] == (p2, len(p2), c2)
    assert "".join(p2) == "résumé" and c2 >= 2 * UNIGRAM_UNK_COST
    # whole-word fallback past the unroll cap
    assert got[3] == ([long_word], 1, UNIGRAM_UNK_COST * len(long_word))
    assert len(long_word) > UNIGRAM_MAX_WORD_CHARS
    assert got[4] == ([], 0, 0) and got[5] == ([], 0, 0)


def test_tokenize_unigram_plan_is_map_only(spark):
    from ocr_obsidian_spark.operators.tokenize import tokenize_unigram

    df = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    plan = tokenize_unigram(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_distributed_fit_equals_local_fit(spark):
    """train_*_on_corpus == the local trainer over the same corpus when
    the histogram bounds don't bind (the DSIR distributed-fit pattern)."""
    from collections import Counter

    from ocr_obsidian_spark.operators.tokenize import (
        train_bpe,
        train_bpe_on_corpus,
        train_unigram,
        train_unigram_on_corpus,
    )

    texts = [
        "The banana DATA   was packed over and over",
        "the tokenizer trained on\tthe training data corpus",
        "aaaa abab banana bananas better letter",
        None,
        "",
        "Settle LITTLE widest pages  were rendered",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"]).repartition(7)
    local_counts = Counter(
        w for t in texts for w in (t or "").lower().split()
    )
    assert train_bpe_on_corpus(df) == train_bpe(local_counts)
    assert train_unigram_on_corpus(df) == train_unigram(local_counts)


def test_word_histogram_bounds_and_determinism(spark):
    from ocr_obsidian_spark.operators.tokenize import corpus_word_histogram

    rows = [("aa aa aa bb bb cc dd",), ("bb cc xx",)]
    df = spark.createDataFrame(rows, ["text"])
    full = {
        r["word"]: r["count"] for r in corpus_word_histogram(df).collect()
    }
    assert full == {"aa": 3, "bb": 3, "cc": 2, "dd": 1, "xx": 1}
    # top-3: count desc, word asc — 'aa' and 'bb' tie at 3, then 'cc'
    top = [
        r["word"]
        for r in corpus_word_histogram(df, max_words=3)
        .orderBy("word")
        .collect()
    ]
    assert sorted(top) == ["aa", "bb", "cc"]
    # deterministic across parallelism
    top16 = {
        r["word"]
        for r in corpus_word_histogram(df.repartition(16), max_words=3).collect()
    }
    assert top16 == set(top)


def test_word_histogram_single_shuffle_plan(spark):
    """One hash exchange (the groupBy); the top-K is TakeOrdered, not a
    global sort exchange."""
    from ocr_obsidian_spark.operators.tokenize import corpus_word_histogram

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = (
        corpus_word_histogram(df, max_words=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Exchange hashpartitioning") == 1
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p
