"""N-gram LM perplexity scoring for corpus quality (CCNet-style).

CCNet (Wenzek et al. 2019, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data" — public) ranks web documents by the
perplexity of a Kneser-Ney n-gram language model trained on a trusted
corpus; low-perplexity documents go to the head bucket. This module is
that recipe at Spark scale with a bigram interpolated-Kneser-Ney model
(Kneser & Ney 1995; the standard formulation in Chen & Goodman 1999 —
both public):

    P(w|u) = max(c(u,w) - D, 0)/c(u) + lam(u) * Pcont(w)
    lam(u) = D * N1+(u,*) / c(u)            (1 when c(u) = 0)
    Pcont(w) = (N1+(*,w) + 1) / (N1+(*,*) + |V|)   (add-one smoothed so
               every vocab word has continuation mass)
    D = n1 / (n1 + 2*n2)  over bigram count-of-counts

Cross-engine exactness (the driver oracle replays scoring in DuckDB
from literal tables): every model probability is quantized at TRAINING
time to an integer micro-negative-log10 (``round(-log10(p) * 1e6)``).
Scoring is then pure integer arithmetic — seen bigram cost from the
bigram table, unseen cost = ``backoff(u) + cont(w)`` as an INTEGER sum
of the two quantized parts — so per-document totals are exact 64-bit
sums, identical in any summation order and in any engine. Perplexity
(a float) is derived from the integer total only at the edge
(``ppl = 10^(nll_micro/1e6/n_tokens)``), never hashed.

The model trains at import from ``LM_FIXTURE_TRAIN`` (an embedded,
public, apostrophe-free English fixture corpus) so tests, the Spark UDF
and the DuckDB oracle share one checked-in artifact (CCNet trains the
same kind of model on Wikipedia).

Scale shape: scoring is a single Arrow-batched pandas UDF over
JVM-normalized text — map-only, zero shuffles; the model rides to
executors in the UDF closure (a Wikipedia-scale bigram table is tens of
MB — still closure-shippable; beyond that, a broadcast variable).
Reference tie-in: the reference's crude analog is the garbage-text gate
of ingest/qa_metrics.py:81-108 (threshold features); this is its
corpus-scale, model-based upgrade.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .textstats import _norm

BOS = "<s>"
UNK = "<unk>"

# Embedded fixture training corpus: plain public-domain-style English
# prose authored for this repo (no apostrophes — the sentences become
# SQL literals in the driver oracle). Deliberately overlaps common
# function words so natural English scores low perplexity and junk
# scores high.
LM_FIXTURE_TRAIN: tuple[str, ...] = (
    "the quick brown fox jumps over the lazy dog near the river",
    "a language model assigns a probability to a sequence of words",
    "the model was trained on a small corpus of english text",
    "documents with low perplexity are similar to the training corpus",
    "the quality of web text varies and filtering improves the data",
    "we keep the documents that look like natural english prose",
    "the pipeline reads pages from the crawl and cleans the text",
    "a good sentence has common words in a natural order",
    "the brown dog sleeps near the quiet river in the sun",
    "training data quality matters more than model size in practice",
    "the corpus contains many short sentences about simple things",
    "words that appear often in english carry most of the signal",
    "the system removes pages that repeat the same words many times",
    "clean text improves the model and reduces the noise in training",
    "a fox and a dog played near the river bank in the morning",
    "the data pipeline counts words and scores each document",
    "most web pages contain some useful text and some noise",
    "the filter keeps prose and drops lists of links and numbers",
    "simple english sentences with common words score very well",
    "the model gives a high probability to fluent natural text",
)


from .xengine import micro_log10_cost as _lpm


@dataclass(frozen=True)
class KNBigramModel:
    """Quantized interpolated-KN bigram model: all costs are integer
    micro -log10 probabilities (exact cross-engine arithmetic)."""

    vocab: frozenset[str]                 # surface vocab (excl. BOS/UNK)
    bigram_lpm: dict[tuple[str, str], int]  # seen (context, word) cost
    backoff_lpm: dict[str, int]           # -log10 lam(u) per context
    cont_lpm: dict[str, int]              # -log10 Pcont(w) per word

    def token_cost(self, prev: str, cur: str) -> int:
        c = self.bigram_lpm.get((prev, cur))
        if c is not None:
            return c
        return self.backoff_lpm[prev] + self.cont_lpm[cur]

    def map_token(self, w: str) -> str:
        return w if w in self.vocab else UNK

    def doc_cost(self, words: Sequence[str]) -> tuple[int, int]:
        """(n_tokens, total micro-cost) for one tokenized document."""
        prev = BOS
        total = 0
        for w in words:
            cur = self.map_token(w)
            total += self.token_cost(prev, cur)
            prev = cur
        return len(words), total


def _tokenize(text: str) -> list[str]:
    # the shared textstats normal form, replayed in python for training
    import re

    from .xengine import WS_RE

    norm = re.sub(WS_RE, " ", text or "").strip().lower()
    return norm.split(" ") if norm else []


def train_kn_bigram(texts: Iterable[str] = LM_FIXTURE_TRAIN) -> KNBigramModel:
    """Train an interpolated-KN bigram model driver-side (the training
    corpus is small and trusted — CCNet trains on Wikipedia once, not
    per-job). Every training word is in the vocabulary; ``UNK`` carries
    the mass of unseen words. Deterministic: same texts → bit-identical
    tables."""
    docs = [_tokenize(t) for t in texts]
    vocab = frozenset(w for ws in docs for w in ws)

    bi: Counter[tuple[str, str]] = Counter()
    for ws in docs:
        prev = BOS
        for w in ws:
            bi[(prev, w)] += 1
            prev = w
    c_ctx = Counter()
    n1plus_fwd: Counter[str] = Counter()   # N1+(u, *)
    n1plus_rev: Counter[str] = Counter()   # N1+(*, w)
    for (u, w), c in bi.items():
        c_ctx[u] += c
        n1plus_fwd[u] += 1
        n1plus_rev[w] += 1
    n1 = sum(1 for c in bi.values() if c == 1)
    n2 = sum(1 for c in bi.values() if c == 2)
    # n1 == 0 (a corpus with no singleton bigrams) would give D = 0,
    # hence lam(u) = 0 and log10(0) — fall back to the neutral 0.5
    # discount instead of crashing on repetitive corpora
    d = n1 / (n1 + 2 * n2) if n1 else 0.5

    events = vocab | {UNK}                 # what can be predicted
    contexts = events | {BOS}              # what can condition
    n_types = len(bi)
    cont = {
        w: (n1plus_rev.get(w, 0) + 1) / (n_types + len(events))
        for w in events
    }
    cont_lpm = {w: _lpm(p) for w, p in cont.items()}
    backoff_lpm = {}
    for u in contexts:
        cu = c_ctx.get(u, 0)
        lam = (d * n1plus_fwd[u] / cu) if cu else 1.0
        backoff_lpm[u] = _lpm(lam)
    bigram_lpm = {}
    for (u, w), c in bi.items():
        p = max(c - d, 0.0) / c_ctx[u] + (d * n1plus_fwd[u] / c_ctx[u]) * cont[w]
        bigram_lpm[(u, w)] = _lpm(p)
    return KNBigramModel(vocab, bigram_lpm, backoff_lpm, cont_lpm)


FIXTURE_LM = train_kn_bigram()


def with_lm_perplexity(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Score ``text_col`` with the fixture model ``FIXTURE_LM``: add
    ``n_tokens`` (long), ``nll_micro`` (long, exact integer sum of
    quantized token costs) and ``lm_ppl`` (double, derived at the edge).
    Map-only; one Arrow-batched UDF over JVM-normalized text. ``lm_ppl``
    feeds ``textstats.with_quality_tiers(score_col="lm_ppl")`` for
    CCNet-style head/middle/tail bucketing."""

    @F.pandas_udf(T.StructType([
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("nll_micro", T.LongType(), False),
    ]))
    def score(norm_text: pd.Series) -> pd.DataFrame:
        out_n, out_c = [], []
        for text in norm_text:
            words = text.split(" ") if text else []
            n, cost = FIXTURE_LM.doc_cost(words)
            out_n.append(n)
            out_c.append(cost)
        return pd.DataFrame({"n_tokens": out_n, "nll_micro": out_c})

    scored = df.withColumn("_lm", score(_norm(text_col)))
    return (
        scored.withColumn("n_tokens", F.col("_lm.n_tokens"))
        .withColumn("nll_micro", F.col("_lm.nll_micro"))
        .withColumn(
            "lm_ppl",
            F.when(
                F.col("n_tokens") > 0,
                F.pow(
                    F.lit(10.0),
                    F.col("nll_micro") / 1e6 / F.col("n_tokens"),
                ),
            ).otherwise(F.lit(None).cast("double")),
        )
        .drop("_lm")
    )


def model_sql_tables() -> dict[str, str]:
    """The quantized fixture model as SQL VALUES literals (vocab / per-token
    backoff+continuation / seen bigrams) for the DuckDB oracle twin.
    Tokens are SQL-escaped; the fixture corpus is apostrophe-free so the
    escape is a no-op there."""

    from .xengine import sql_str_literal as esc

    model = FIXTURE_LM
    vocab_rows = ", ".join(f"({esc(w)})" for w in sorted(model.vocab))
    uni_rows = ", ".join(
        f"({esc(t)}, {model.backoff_lpm.get(t, 0)}, {model.cont_lpm.get(t, 0)})"
        for t in sorted(set(model.backoff_lpm) | set(model.cont_lpm))
    )
    bi_rows = ", ".join(
        f"({esc(u)}, {esc(w)}, {c})"
        for (u, w), c in sorted(model.bigram_lpm.items())
    )
    return {
        "vocab": f"(VALUES {vocab_rows})",        # alias as name(tok)
        "uni": f"(VALUES {uni_rows})",            # name(tok, bo_lpm, cont_lpm)
        "bigram": f"(VALUES {bi_rows})",          # name(u, w, lpm)
    }
