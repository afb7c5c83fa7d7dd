"""Supervised quality classifier: fixture separation, UDF-vs-python
exactness, training determinism, NULL/empty handling, retrain path."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.dsir import _tokenize
from ocr_obsidian_spark.operators.lm import LM_FIXTURE_TRAIN
from ocr_obsidian_spark.operators.qualityclf import (
    QUALITY_FIXTURE_CLF,
    QUALITY_FIXTURE_NEG,
    train_quality_clf,
    with_quality_label,
)


def test_fixture_model_separates_classes_perfectly():
    m = QUALITY_FIXTURE_CLF
    for t in LM_FIXTURE_TRAIN:
        assert m.doc_score(_tokenize(t)) >= 0, t
    for t in QUALITY_FIXTURE_NEG:
        assert m.doc_score(_tokenize(t)) < 0, t


def test_training_is_deterministic():
    a = train_quality_clf()
    b = train_quality_clf()
    assert a == b


def test_udf_matches_python_replay(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["clf_score_micro"], r["clf_label"])
        for r in with_quality_label(docs)
        .select("doc_id", "clf_score_micro", "clf_label")
        .collect()
    }
    m = QUALITY_FIXTURE_CLF
    n_pos = 0
    for r in docs.select("doc_id", "text").collect():
        s = m.doc_score(_tokenize(r["text"]))
        assert got[r["doc_id"]] == (s, 1 if s >= 0 else 0), r["doc_id"]
        n_pos += s >= 0
    # the fixture model splits the sf corpus non-degenerately
    assert 0 < n_pos < len(got)


def test_null_and_empty_text_score_bias_only(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    rows = with_quality_label(df).collect()
    bias = QUALITY_FIXTURE_CLF.bias_micro
    for r in rows:
        assert r["clf_score_micro"] == bias
        assert r["clf_label"] == (1 if bias >= 0 else 0)


def test_retrained_model_scores_through_udf(spark):
    # a caller-supplied model (different corpora) flows through
    m = train_quality_clf(["good clean prose here"], ["zzz 1 2 3 click"])
    df = spark.createDataFrame(
        [(1, "good clean prose here"), (2, "zzz 1 2 3 click")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["clf_label"]
           for r in with_quality_label(df, m).collect()}
    assert got == {1: 1, 2: 0}


def test_prob_is_sigmoid_of_score(spark):
    import math

    df = spark.createDataFrame([(1, "the quick fox")], "doc_id long, text string")
    r = with_quality_label(df).collect()[0]
    exp = 1.0 / (1.0 + math.exp(-r["clf_score_micro"] / 1e6))
    assert abs(r["clf_prob"] - exp) < 1e-12
