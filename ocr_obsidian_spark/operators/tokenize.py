"""Vocab-driven subword tokenization (greedy longest-match WordPiece).

``with_token_counts`` (textstats.py) counts a cheap regex proxy; shard
budgets and mixing ratios of a real training pipeline are denominated in
TOKENIZER tokens, so this module adds the real thing: greedy
longest-match WordPiece (the published inference-time algorithm of the
BERT tokenizer — Devlin et al. 2018; Song et al. 2021 "Fast WordPiece
Tokenization" describes the same greedy longest-match-first scheme) over
a caller-supplied vocabulary.

Semantics (chosen for cross-engine reproducibility, pinned by the
``subword_tokens`` driver oracle — a DuckDB recursive CTE replaying the
same matches over the same vocab):

  * text is whitespace-normalized and lowercased EXACTLY like every
    other textstats operator (xengine.WS_RE), then split on single
    spaces; empty words contribute nothing;
  * within a word, the longest vocab piece matching at the cursor wins;
    non-initial positions match continuation pieces (``##``-prefixed in
    the vocab, emitted with the ``##``);
  * a position with NO match emits ``[UNK]`` and advances ONE character
    (character fallback) by default — corpus statistics stay smooth;
    ``unk_mode="word"`` gives the classic BERT whole-word [UNK]
    (incl. the 100-char word cap), computed as a per-word fold over the
    char-fallback pieces in the same pass — greedy matching is
    identical in both modes up to the first failure, so the fold is
    exact (property-pinned).

The tokenizer is an Arrow-batched pandas UDF (the documented
vectorized-UDF exception class: per-position hash lookups have no
builtin-expression form), map-only — zero shuffles. At 100 TB this is
embarrassingly parallel and CPU-bound; the vocab rides to executors in
the UDF closure once per worker (a real 30k-entry vocab is ~300 KB).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .textstats import _norm

UNK_TOKEN = "[UNK]"

# Checked-in fixture vocabulary: full single-character coverage for ascii
# letters/digits (initial + continuation) so ascii words always tokenize
# without [UNK], plus common English words, prefixes and suffix pieces so
# the segmentation is linguistically non-trivial. Deployments pass their
# own trained vocab; this one exists so tests and the driver oracle have
# a stable, public, self-contained fixture.
_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789"
WORDPIECE_FIXTURE_VOCAB: tuple[str, ...] = tuple(
    [
        *(_CHARS),
        *("##" + c for c in _CHARS),
        *("##" + c for c in ".,!?;:'\"-()[]"),
        *(".,!?;:'\"-()[]"),
        # whole words (incl. the Gopher stop-word set)
        "the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
        "it", "for", "on", "is", "was", "as", "at", "by", "an", "are",
        "this", "from", "or", "not", "but", "his", "her", "they", "we",
        "you", "all", "one", "two", "page", "book", "data", "time", "over",
        "about", "while", "where", "when", "what", "which", "who", "how",
        # prefixes (initial pieces)
        "un", "re", "pre", "con", "com", "de", "dis", "en", "ex", "inter",
        "sub", "trans", "per", "pro", "anti", "over", "under",
        # continuation pieces (suffixes / common tails)
        "##ing", "##ed", "##er", "##ers", "##est", "##ly", "##tion",
        "##tions", "##ment", "##ments", "##ness", "##able", "##ible",
        "##ous", "##ful", "##less", "##al", "##ic", "##ive", "##ity",
        "##ies", "##es", "##s", "##e", "##y", "##n", "##d", "##r", "##t",
        "##th", "##ch", "##sh", "##ck", "##ll", "##ss", "##an", "##en",
        "##on", "##in", "##ar", "##or", "##at", "##it", "##is", "##le",
        "##re", "##te", "##se", "##ce", "##nt", "##st", "##nd", "##rd",
    ]
)


def _word_pieces(word: str, init, cont, max_i: int, max_c: int) -> list[str]:
    """Greedy longest-match pieces of one word (character-fallback
    [UNK] at unmatched positions)."""
    out: list[str] = []
    n, pos = len(word), 0
    while pos < n:
        table, mx = (init, max_i) if pos == 0 else (cont, max_c)
        k = min(n - pos, mx)
        while k > 0 and word[pos : pos + k] not in table:
            k -= 1
        if k == 0:
            out.append(UNK_TOKEN)
            pos += 1
        else:
            piece = word[pos : pos + k]
            out.append(piece if pos == 0 else "##" + piece)
            pos += k
    return out


def _fold_whole_word(pieces: list[str], word: str, max_word_chars: int) -> list[str]:
    """The classic BERT post-fold: a word with ANY unmatched position —
    or longer than ``max_word_chars`` — becomes one [UNK]. Greedy
    matching is identical in both modes up to the first failure, so the
    fold over char-fallback pieces IS whole-word mode (pinned by
    tests/test_tokenize.py)."""
    if len(word) > max_word_chars or UNK_TOKEN in pieces:
        return [UNK_TOKEN]
    return pieces


# BERT's whole-word [UNK] length cut (Devlin et al. 2019, the released
# WordPiece tokenizer's max_input_chars_per_word)
WORDPIECE_MAX_WORD_CHARS = 100


def _wordpiece_udf(vocab: Sequence[str], *, both: bool = False):
    init = frozenset(p for p in vocab if not p.startswith("##"))
    cont = frozenset(p[2:] for p in vocab if p.startswith("##") and len(p) > 2)
    max_i = max((len(p) for p in init), default=1)
    max_c = max((len(p) for p in cont), default=1)

    if not both:
        @F.pandas_udf(T.ArrayType(T.StringType(), False))
        def tok(norm_text: pd.Series) -> pd.Series:
            def one(text: str | None) -> list[str]:
                if not text:
                    return []
                out: list[str] = []
                for word in text.split(" "):
                    out.extend(_word_pieces(word, init, cont, max_i, max_c))
                return out

            return norm_text.map(one)

        return tok

    @F.pandas_udf(T.StructType([
        T.StructField("char", T.ArrayType(T.StringType(), False), False),
        T.StructField("word", T.ArrayType(T.StringType(), False), False),
    ]))
    def tok_both(norm_text: pd.Series) -> pd.DataFrame:
        chars, words_out = [], []
        for text in norm_text:
            c_out: list[str] = []
            w_out: list[str] = []
            if text:
                for word in text.split(" "):
                    pieces = _word_pieces(word, init, cont, max_i, max_c)
                    c_out.extend(pieces)
                    w_out.extend(_fold_whole_word(pieces, word, WORDPIECE_MAX_WORD_CHARS))
            chars.append(c_out)
            words_out.append(w_out)
        return pd.DataFrame({"char": chars, "word": words_out})

    return tok_both


def tokenize_wordpiece(
    df: DataFrame,
    *,
    vocab: Sequence[str] = WORDPIECE_FIXTURE_VOCAB,
    text_col: str = "text",
    unk_mode: str = "char",
) -> DataFrame:
    """Add ``wordpiece_tokens`` (array<string>, the WordPiece pieces in order)
    and ``n_wordpiece_tokens`` (long). Normalization runs JVM-side (the
    shared textstats norm expression); only the per-word greedy matching
    is Python. Feed ``n_wordpiece_tokens`` to ``pack_shards(...,
    tokens_col="n_wordpiece_tokens")`` / ``mix_corpus`` for budgets
    denominated in real tokenizer tokens.

    ``unk_mode`` selects the failure policy (both are one Arrow pass):
      * ``"char"`` (default, the round-1 semantics): an unmatched
        position emits [UNK] and advances one character;
      * ``"word"``: classic BERT whole-word [UNK] — any unmatched
        position, or a word over ``WORDPIECE_MAX_WORD_CHARS``, collapses
        the whole word to one [UNK];
      * ``"both"``: char-mode columns plus ``wordpiece_tokens_ww`` /
        ``n_wordpiece_tokens_ww`` with the whole-word fold.
    """
    if unk_mode == "char":
        toks = _wordpiece_udf(vocab)(_norm(text_col))
        return df.withColumn("wordpiece_tokens", toks).withColumn(
            "n_wordpiece_tokens", F.size("wordpiece_tokens").cast("long")
        )
    if unk_mode not in ("word", "both"):
        raise ValueError(f"unknown unk_mode {unk_mode!r}")
    both = _wordpiece_udf(vocab, both=True)(_norm(text_col))
    staged = df.withColumn("_wp", both)
    if unk_mode == "word":
        return (
            staged.withColumn("wordpiece_tokens", F.col("_wp.word"))
            .withColumn("n_wordpiece_tokens", F.size("wordpiece_tokens").cast("long"))
            .drop("_wp")
        )
    return (
        staged.withColumn("wordpiece_tokens", F.col("_wp.char"))
        .withColumn("n_wordpiece_tokens", F.size("wordpiece_tokens").cast("long"))
        .withColumn("wordpiece_tokens_ww", F.col("_wp.word"))
        .withColumn(
            "n_wordpiece_tokens_ww", F.size("wordpiece_tokens_ww").cast("long")
        )
        .drop("_wp")
    )


# ---------------------------------------------------------------------------
# Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
# Rare Words with Subword Units") — trainer + encoder. Character-level BPE
# over whitespace-split words: merges never cross a word boundary and there
# is no explicit end-of-word marker (the word split already provides the
# boundary; documented deviation from the paper's `</w>` variant, chosen so
# token surface strings contain only characters of the source text and stay
# exactly replayable in the cross-engine oracle).
# ---------------------------------------------------------------------------

# Fixture training corpus for the checked-in merge table: lowercase ascii
# prose with deliberate high-frequency character pairs, plus repeated-pair
# words (aaaa / abab / banana) so the fixture merges exercise the
# overlapping-occurrence path of the encoder (merging ('a','a') in "aaaa"
# must yield [aa, aa], matching the left-to-right one-pass semantics).
BPE_SEED_CORPUS = (
    "the banana data was packed over and over into the data shard while "
    "the tokenizer trained on the training data corpus the lower newest "
    "widest pages were rendered and the banana pages were deduplicated "
    "again and again the corpus contains many tokens and many pages and "
    "the trainer counts pairs of characters that appear together most "
    "often and then merges them into larger units until the merge budget "
    "is spent the merges are ranked and the ranks are applied in order "
    "aaaa aaaa abab abab banana bananas better letter little settle"
)


def _merge_pass(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """One left-to-right non-overlapping merge pass of ``pair`` over a
    symbol sequence — the exact published semantics: after a merge the
    cursor advances past the merged symbol, so "aaa" under ('a','a')
    becomes [aa, a] and "aaaa" becomes [aa, aa]."""
    a, b = pair
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


# BPE trainer stop rule: a pair seen fewer than this many times is not merged
BPE_MIN_COUNT = 2


def train_bpe(
    word_freqs: Mapping[str, int], n_merges: int = 120
) -> list[tuple[str, str]]:
    """Learn a BPE merge table from word frequencies (Sennrich et al.
    2016 algorithm 1): repeatedly count adjacent symbol pairs weighted by
    word frequency, merge the most frequent pair, record it. Fully
    deterministic: ties on count break to the lexicographically smallest
    pair. Stops early when the best pair occurs fewer than
    ``BPE_MIN_COUNT`` times (degenerate single-occurrence merges only memorize the corpus).

    This is the DRIVER-SIDE trainer for fixture/test vocabularies — at
    production scale pair counting is a corpus-wide aggregation done once
    offline; the distributed operator is the ENCODER (``tokenize_bpe``),
    which only ever ships the learned table in a closure."""
    vocab: dict[tuple[str, ...], int] = {}
    for w, f in word_freqs.items():
        if w:
            vocab[tuple(w)] = vocab.get(tuple(w), 0) + f
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[syms[i], syms[i + 1]] += f
        if not pairs:
            break
        best_count = max(pairs.values())
        if best_count < BPE_MIN_COUNT:
            break
        best = min(p for p, c in pairs.items() if c == best_count)
        merges.append(best)
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            new_vocab[_merge_pass(syms, best)] = f
        vocab = new_vocab
    return merges


BPE_FIXTURE_MERGES: tuple[tuple[str, str], ...] = tuple(
    train_bpe(Counter(BPE_SEED_CORPUS.split()), n_merges=120)
)


def bpe_encode_word(word: str, ranks: Mapping[tuple[str, str], int]) -> list[str]:
    """Encode one word with a learned merge table: repeatedly apply the
    LOWEST-RANK pair present (one left-to-right pass per pair), until no
    adjacent pair is in the table — the standard BPE inference loop."""
    syms: tuple[str, ...] = tuple(word)
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        syms = _merge_pass(syms, best_pair)
    return list(syms)


def _bpe_udf(merges: Sequence[tuple[str, str]]):
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf(T.ArrayType(T.StringType(), False))
    def tok(norm_text: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def one(text: str | None) -> list[str]:
            if not text:
                return []
            out: list[str] = []
            for word in text.split(" "):
                if not word:
                    continue
                got = cache.get(word)
                if got is None:
                    got = bpe_encode_word(word, ranks)
                    cache[word] = got
                out.extend(got)
            return out

        return norm_text.map(one)

    return tok


def tokenize_bpe(
    df: DataFrame,
    *,
    merges: Sequence[tuple[str, str]] = BPE_FIXTURE_MERGES,
    text_col: str = "text",
) -> DataFrame:
    """Add ``bpe_tokens`` (array<string>, the BPE tokens in order) and
    ``n_bpe_tokens`` (long). Normalization (lowercase + whitespace
    collapse) runs JVM-side via the shared textstats norm expression;
    only the per-word merge loop is Python (Arrow-batched, with a
    per-batch word cache — web text is zipfian, so the cache hit rate is
    high). Map-only: zero shuffles, embarrassingly parallel at 100 TB;
    the merge table rides in the closure (a real 50k-merge GPT-2-scale
    table is ~500 KB, same order as the WordPiece vocab above)."""
    toks = _bpe_udf(merges)(_norm(text_col))
    return df.withColumn("bpe_tokens", toks).withColumn(
        "n_bpe_tokens", F.size("bpe_tokens").cast("long")
    )


# ---------------------------------------------------------------------------
# Unigram language-model tokenizer (Kudo 2018, "Subword Regularization:
# Improving Neural Network Translation Models with Multiple Subword
# Candidates" — the SentencePiece unigram model). Inference is Viterbi:
# the segmentation minimizing the sum of per-piece costs, where
# cost(piece) = -log P(piece). Costs are INTEGER-quantIZED micro-log10
# units (round(-log10 p * 1e6)) so scoring is exact 64-bit integer
# arithmetic in both engines — the same oracle pattern that made lm_ppl
# and the NB language cascade bit-exact (no float is ever compared).
#
# Deterministic semantics (pinned by the driver oracle — a generated
# unrolled-DP DuckDB twin replaying the same Viterbi over the same cost
# literals):
#   * text normalized EXACTLY like the other tokenizers (lowercase +
#     whitespace collapse), split on single spaces; empty words nothing;
#   * within a word, best[k] = min over the last UNIGRAM_MAX_PIECE_LEN
#     predecessors j of best[j] + cost(word[j:k]); a length-1 piece
#     absent from the vocab scores UNIGRAM_UNK_COST (single characters
#     are therefore always admissible, so every word segments);
#   * ties break on the tuple (cost, n_pieces, path) where path is the
#     U+001F-joined piece string — path comparison is decided strictly
#     before any appended suffix matters (two different segmentations of
#     the same prefix first differ at a separator-vs-character position,
#     and U+001F sorts below every text character), so the tuple order
#     is prefix-monotone and the DP argmin is globally optimal;
#   * words longer than UNIGRAM_MAX_WORD_CHARS skip the DP and emit the WHOLE
#     word as one token costing len(word) * UNIGRAM_UNK_COST (bounds the
#     oracle's DP unroll and the UDF's worst case; concat(tokens) per
#     word == word holds in every mode).
# ---------------------------------------------------------------------------

UNIGRAM_SEP = "\x1f"
UNIGRAM_MAX_PIECE_LEN = 6
UNIGRAM_MAX_WORD_CHARS = 24
# cost of an out-of-vocabulary single character: p = 1e-12
UNIGRAM_UNK_COST = 12_000_000
# unigram trainer: seed pieces seen fewer times are pruned (single
# characters never are); hard-EM re-segmentation rounds
UNIGRAM_MIN_COUNT = 2
UNIGRAM_EM_ITERS = 3


def _counts_to_costs(counts: Mapping[str, int]) -> dict[str, int]:
    from .xengine import micro_log10_cost

    total = sum(counts.values())
    return {
        p: max(1, micro_log10_cost(c / total))
        for p, c in sorted(counts.items())
    }


def viterbi_segment(word: str, costs: Mapping[str, int]) -> tuple[list[str], int]:
    """Min-cost segmentation of one word (see module-section contract).
    Returns (pieces, total_cost_micro)."""
    n = len(word)
    if n == 0:
        return [], 0
    best: list[tuple[int, int, str] | None] = [None] * (n + 1)
    best[0] = (0, 0, "")
    for k in range(1, n + 1):
        cand: tuple[int, int, str] | None = None
        for j in range(max(0, k - UNIGRAM_MAX_PIECE_LEN), k):
            prev = best[j]
            if prev is None:
                continue
            piece = word[j:k]
            c = costs.get(piece)
            if c is None:
                if k - j != 1:
                    continue
                c = UNIGRAM_UNK_COST
            t = (prev[0] + c, prev[1] + 1, prev[2] + UNIGRAM_SEP + piece)
            if cand is None or t < cand:
                cand = t
        best[k] = cand
    cost, _, path = best[n]  # type: ignore[misc]
    return path.split(UNIGRAM_SEP)[1:], cost


def train_unigram(word_freqs: Mapping[str, int]) -> dict[str, int]:
    """Learn a unigram piece-cost table: seed with every substring of
    length 1..UNIGRAM_MAX_PIECE_LEN (frequency-weighted), then hard-EM — Viterbi
    re-segment the corpus under the current costs, recount piece usage,
    re-derive costs — the Viterbi-counts variant of Kudo 2018's EM (the
    posterior sum is replaced by the argmax path, a standard hard-EM
    simplification; documented deviation). Single characters are never
    pruned (full coverage); unused kept pieces get add-one smoothing.
    Fully deterministic. Driver-side trainer for fixture/test vocabs —
    at production scale piece counting is one corpus aggregation done
    offline; the distributed operator is the ENCODER below."""
    counts: Counter[str] = Counter()
    for w, f in word_freqs.items():
        n = len(w)
        for i in range(n):
            for ln in range(1, min(UNIGRAM_MAX_PIECE_LEN, n - i) + 1):
                counts[w[i : i + ln]] += f
    vocab = {p: c for p, c in counts.items() if c >= UNIGRAM_MIN_COUNT or len(p) == 1}
    costs = _counts_to_costs(vocab)
    for _ in range(UNIGRAM_EM_ITERS):
        usage: Counter[str] = Counter()
        for w, f in word_freqs.items():
            for p in viterbi_segment(w, costs)[0]:
                usage[p] += f
        vocab = {
            p: usage[p] for p in vocab if usage[p] > 0 or len(p) == 1
        }
        costs = _counts_to_costs({p: c if c > 0 else 1 for p, c in vocab.items()})
    return costs


# Fixture seed: the BPE corpus plus digits/punctuation-bearing words so
# the single-character floor covers more of the real alphabet (unknown
# characters still score UNIGRAM_UNK_COST — exercised by the driver
# query's accented injection).
UNIGRAM_SEED_CORPUS = BPE_SEED_CORPUS + (
    " 2021 2022 100 3.5 (tokens) data-set, shard; end. the end. 100 pages"
)

UNIGRAM_FIXTURE_COSTS: dict[str, int] = train_unigram(
    Counter(UNIGRAM_SEED_CORPUS.split())
)


def _unigram_udf(costs: Mapping[str, int]):
    table = dict(costs)

    @F.pandas_udf(T.StructType([
        T.StructField("toks", T.ArrayType(T.StringType(), False), False),
        T.StructField("cost", T.LongType(), False),
    ]))
    def tok(norm_text: pd.Series) -> pd.DataFrame:
        cache: dict[str, tuple[list[str], int]] = {}

        def one_word(word: str) -> tuple[list[str], int]:
            got = cache.get(word)
            if got is None:
                if len(word) > UNIGRAM_MAX_WORD_CHARS:
                    got = ([word], UNIGRAM_UNK_COST * len(word))
                else:
                    got = viterbi_segment(word, table)
                cache[word] = got
            return got

        toks_out, cost_out = [], []
        for text in norm_text:
            pieces: list[str] = []
            total = 0
            if text:
                for word in text.split(" "):
                    if not word:
                        continue
                    p, c = one_word(word)
                    pieces.extend(p)
                    total += c
            toks_out.append(pieces)
            cost_out.append(total)
        return pd.DataFrame({
            "toks": pd.Series(toks_out, dtype=object),
            "cost": pd.Series(cost_out, dtype="int64"),
        })

    return tok


def tokenize_unigram(
    df: DataFrame,
    *,
    costs: Mapping[str, int] = UNIGRAM_FIXTURE_COSTS,
    text_col: str = "text",
) -> DataFrame:
    """Add ``unigram_tokens`` (array<string>, Viterbi pieces in order),
    ``n_unigram_tokens`` (long) and ``unigram_cost_micro`` (long, the
    exact integer Viterbi objective — a real -log10 corpus likelihood in
    micro units, usable directly as a CCNet-style quality signal next to
    lm_ppl). Normalization runs JVM-side (shared textstats norm); only
    the per-word DP is Python (Arrow-batched, per-batch word cache —
    zipfian text makes the hit rate high). Map-only: zero shuffles,
    embarrassingly parallel at 100 TB; the cost table rides in the
    closure (a real 32k-piece table is ~400 KB, same order as the
    WordPiece vocab)."""
    staged = df.withColumn("_ug", _unigram_udf(costs)(_norm(text_col)))
    return (
        staged.withColumn("unigram_tokens", F.col("_ug.toks"))
        .withColumn("n_unigram_tokens", F.size("unigram_tokens").cast("long"))
        .withColumn("unigram_cost_micro", F.col("_ug.cost"))
        .drop("_ug")
    )


# ---------------------------------------------------------------------------
# Distributed tokenizer training — the corpus-scale fit path for both
# trainers above. Tokenizer training at web scale is one corpus-wide word
# histogram (the vocabulary grows sublinearly with corpus size — Heaps'
# law — so the HISTOGRAM fits a driver even when the corpus is 100 TB;
# GPT-2's BPE was fit this way: count words once, train on the counts).
# The Spark half is a single explode+groupBy with map-side partial
# aggregation; the driver half is the SAME deterministic trainer the
# fixtures use, so distributed fit == local fit is pinned by construction
# and by tests (the DSIR distributed-fit precedent).
# ---------------------------------------------------------------------------


def corpus_word_histogram(
    df: DataFrame,
    *,
    text_col: str = "text",
    max_words: int | None = None,
) -> DataFrame:
    """(word, count:long) over the corpus, using EXACTLY the tokenizer
    normalization (shared textstats norm: lowercase + whitespace
    collapse) and single-space word split, so a vocabulary fit on this
    histogram agrees with what the encoders will see.

    ``max_words`` keeps the top-K by
    (count desc, word asc) — a deterministic total order, so the kept
    set is reproducible across runs and parallelism. Plan shape: one
    hash exchange for the groupBy; the top-K is a TakeOrdered, not a
    global sort."""
    words = (
        df.select(F.explode(F.split(_norm(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
    )
    hist = words.groupBy("word").agg(F.count(F.lit(1)).alias("count"))
    if max_words is not None:
        hist = hist.orderBy(F.col("count").desc(), F.col("word")).limit(max_words)
    return hist


def _collect_histogram(
    df: DataFrame, text_col: str, max_words: int | None
) -> dict[str, int]:
    hist = corpus_word_histogram(df, text_col=text_col, max_words=max_words)
    return {r["word"]: r["count"] for r in hist.collect()}


def train_bpe_on_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    max_words: int | None = 1_000_000,
) -> list[tuple[str, str]]:
    """Fit a BPE merge table on a corpus DataFrame: distributed word
    histogram (bounded by ``max_words`` so the collect is
    vocabulary-sized, never corpus-sized) + the deterministic
    driver-side Sennrich trainer. Equals ``train_bpe(Counter(all
    normalized text.split()))`` whenever the bounds don't bind — pinned
    by tests."""
    return train_bpe(_collect_histogram(df, text_col, max_words))


def train_unigram_on_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    max_words: int | None = 1_000_000,
) -> dict[str, int]:
    """Fit a unigram-LM cost table on a corpus DataFrame: same
    bounded-histogram shape as ``train_bpe_on_corpus``, driver-side
    hard-EM trainer. Equals the local fit when the bounds don't bind."""
    return train_unigram(_collect_histogram(df, text_col, max_words))
