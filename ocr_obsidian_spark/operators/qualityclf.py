"""Supervised linear quality classifier (fastText-style).

The public recipe behind the LLaMA / GPT-3 pretraining quality filters
(Brown et al. 2020 §A; Touvron et al. 2023: a linear classifier over
hashed n-gram features trained to separate a trusted reference corpus
from raw crawl text, à la fastText — Joulin et al. 2016, "Bag of Tricks
for Efficient Text Classification"). Documents scoring below the
decision boundary are dropped or down-sampled.

This module trains that classifier driver-side and scores it at corpus
scale in the repo's exact-cross-engine shape:

  * features are the SAME hashed unigram+bigram buckets as
    ``operators/dsir.py`` (md5-first-8-hex mod B — identical in python,
    Spark SQL and DuckDB);
  * the model is logistic regression parameterized over raw gram
    COUNTS plus a bias — a deliberate deviation from fastText's mean
    pooling, because a count-linear score is an exact 64-bit INTEGER
    once the trained weights are quantized to micro units
    (``round(w * 1e6)``): ``score_micro = bias_micro + Σ_grams
    w_micro[bucket(g)]``, and the label is the integer compare
    ``score_micro >= 0`` — no float ever crosses engines or enters a
    driver hash (the probability is derived at the edge only);
  * training is deterministic full-batch gradient descent (fixed
    epochs, learning rate, L2) on embedded fixture corpora — positive =
    the trusted prose fixture shared with the KN-LM, negative = the
    link-list/boilerplate junk fixture shared with DSIR — so tests, the
    Spark UDF and the DuckDB oracle load one bit-identical artifact;
    deployments retrain on their own (reference, crawl) sample and pass
    the model in.

Scale shape: scoring is one Arrow-batched map-only UDF with the
B-integer weight table in its closure — zero shuffles; training is
driver-side over a small labeled sample (the published recipes train on
thousands of documents, not the corpus).

Reference tie-in: the reference's crude analog is the threshold garbage
gate (ingest/qa_metrics.py:81-108 → functions/qa.py); alongside
lm.with_lm_perplexity (generative scoring) this is the discriminative
member of the model-based quality pair.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .dsir import DSIR_FIXTURE_RAW, _bucket, _grams, _tokenize
from .lm import LM_FIXTURE_TRAIN

# the junk half of the DSIR raw-pool fixture (its first half IS the
# trusted prose fixture) — the negative class
QUALITY_FIXTURE_NEG: tuple[str, ...] = DSIR_FIXTURE_RAW[len(LM_FIXTURE_TRAIN):]


@dataclass(frozen=True)
class LinearQualityModel:
    """Quantized count-linear logistic model: integer micro weights per
    hashed-gram bucket plus an integer micro bias."""

    buckets: int
    w_micro: tuple[int, ...]
    bias_micro: int

    def doc_score(self, words: Sequence[str]) -> int:
        gs = _grams(words) if words else []
        return self.bias_micro + sum(
            self.w_micro[_bucket(g, self.buckets)] for g in gs
        )


# logistic-regression training: hashed-gram buckets, full-batch epochs,
# learning rate and L2 weight decay of the fixture classifier
CLF_BUCKETS = 256
CLF_EPOCHS = 200
CLF_LR = 0.5
CLF_L2 = 1e-3


def train_quality_clf(
    pos_texts: Iterable[str] = LM_FIXTURE_TRAIN,
    neg_texts: Iterable[str] = QUALITY_FIXTURE_NEG,
) -> LinearQualityModel:
    """Deterministic full-batch logistic regression (``CLF_EPOCHS``
    epochs, no shuffling, float64 driver arithmetic — same inputs give a
    bit-identical model). Features are raw bucket counts, so the learned
    weights quantize straight into the integer scoring rule."""
    buckets, lr, l2 = CLF_BUCKETS, CLF_LR, CLF_L2
    docs: list[tuple[dict[int, int], int]] = []
    for texts, y in ((pos_texts, 1), (neg_texts, 0)):
        for t in texts:
            counts: dict[int, int] = {}
            for g in _grams(_tokenize(t)):
                b = _bucket(g, buckets)
                counts[b] = counts.get(b, 0) + 1
            docs.append((counts, y))
    w = [0.0] * buckets
    bias = 0.0
    n = len(docs)
    for _ in range(CLF_EPOCHS):
        gw = [0.0] * buckets
        gb = 0.0
        for counts, y in docs:
            z = bias + sum(w[b] * c for b, c in counts.items())
            p = 1.0 / (1.0 + math.exp(-z))
            err = p - y
            gb += err
            for b, c in counts.items():
                gw[b] += err * c
        bias -= lr * gb / n
        for b in range(buckets):
            w[b] -= lr * (gw[b] / n + l2 * w[b])
    return LinearQualityModel(
        buckets,
        tuple(round(x * 1_000_000) for x in w),
        round(bias * 1_000_000),
    )


QUALITY_FIXTURE_CLF = train_quality_clf()


def with_quality_label(
    df: DataFrame,
    model: LinearQualityModel = QUALITY_FIXTURE_CLF,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Add ``clf_score_micro`` (long, exact integer count-linear score),
    ``clf_label`` (long 0/1 — the integer compare ``score >= 0``) and
    ``clf_prob`` (double, sigmoid at the edge — never hashed). Map-only;
    one Arrow-batched UDF over JVM-normalized text."""
    from .textstats import _norm

    w = model.w_micro
    buckets = model.buckets
    bias = model.bias_micro

    @F.pandas_udf(T.LongType())
    def score(norm_text: pd.Series) -> pd.Series:
        out = []
        for text in norm_text:
            words = text.split(" ") if text else []
            gs = _grams(words) if words else []
            out.append(bias + sum(w[_bucket(g, buckets)] for g in gs))
        return pd.Series(out)

    return (
        df.withColumn("clf_score_micro", score(_norm(text_col)))
        .withColumn("clf_label", (F.col("clf_score_micro") >= 0).cast("long"))
        .withColumn(
            "clf_prob",
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("clf_score_micro") / F.lit(1e6))),
        )
    )


def clf_sql_tables() -> dict[str, str]:
    """The quantized fixture model for the DuckDB oracle twin: the weight
    table as a VALUES literal — alias as name(b, w) — plus the bias
    literal."""
    model = QUALITY_FIXTURE_CLF
    rows = ", ".join(f"({b}, {v})" for b, v in enumerate(model.w_micro))
    return {"weights": f"(VALUES {rows})", "bias": str(model.bias_micro)}
