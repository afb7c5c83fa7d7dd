"""DSIR importance resampling: python-replay exactness of the scoring
UDF, distributed-fit ≡ text-fit, Gumbel-top-k selection vs a naive
replay, determinism across partitioning, and the measured float margins
the driver oracle's cross-engine assumptions rest on."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.dsir import (
    DSIR_FIXTURE_BUCKETS,
    DSIR_FIXTURE_MODEL,
    DSIR_FIXTURE_RAW,
    _bucket,
    _grams,
    _tokenize,
    dsir_select,
    fit_dsir,
    fit_dsir_texts,
    with_dsir_weight,
)
from ocr_obsidian_spark.operators.lm import LM_FIXTURE_TRAIN


def test_fixture_model_separates_prose_from_junk():
    m = DSIR_FIXTURE_MODEL
    prose = _tokenize("the model keeps documents that look like natural english prose")
    junk = _tokenize("click here login register 1 2 3 free shipping buy now")
    _, w_prose = m.doc_weight(prose)
    _, w_junk = m.doc_weight(junk)
    assert w_prose > 0 > w_junk


def test_udf_scoring_matches_python_replay(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r["doc_id"]: (r["n_grams"], r["logw_micro"])
        for r in with_dsir_weight(docs).select(
            "doc_id", "n_grams", "logw_micro"
        ).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        exp = DSIR_FIXTURE_MODEL.doc_weight(_tokenize(r["text"]))
        assert got[r["doc_id"]] == exp, r["doc_id"]


def test_distributed_fit_matches_text_fit(spark):
    target = list(LM_FIXTURE_TRAIN)
    raw = list(DSIR_FIXTURE_RAW)
    tdf = spark.createDataFrame([(t,) for t in target], "text string")
    rdf = spark.createDataFrame([(t,) for t in raw], "text string")
    dist = fit_dsir(tdf, rdf, buckets=DSIR_FIXTURE_BUCKETS)
    local = fit_dsir_texts(target, raw)
    assert dist == local


def test_fit_handles_null_and_empty_text(spark):
    tdf = spark.createDataFrame(
        [("the quick fox",), (None,), ("",), ("  ",)], "text string"
    )
    rdf = spark.createDataFrame([("a b c",)], "text string")
    dist = fit_dsir(tdf, rdf, buckets=DSIR_FIXTURE_BUCKETS)
    local = fit_dsir_texts(["the quick fox", None, "", "  "], ["a b c"])
    assert dist == local


def _naive_select(rows, k, seed=7):
    """Pure-python Gumbel-top-k replay: rounded key desc, id asc."""
    import hashlib

    def key(doc_id, logw):
        h = int(
            hashlib.md5(f"gumbel:{seed}:{doc_id}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / 4294967296.0
        return round(logw / 1e6 + -math.log(-math.log(u)), 6)

    ranked = sorted(rows, key=lambda r: (-key(r[0], r[1]), r[0]))
    return {r[0] for r in ranked[:k]}


def test_select_matches_naive_gumbel_topk(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dsir_select(docs, 20).collect()
    rows = [(r["doc_id"], r["logw_micro"]) for r in out]
    exp = _naive_select(rows, 20)
    got = {r["doc_id"] for r in out if r["selected"] == 1}
    assert got == exp
    assert len(got) == 20


def test_select_deterministic_across_partitioning(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, dsir_select(docs.repartition(1), 15).collect()))
    b = sorted(map(tuple, dsir_select(docs.repartition(16), 15).collect()))
    assert a == b


def test_select_k_larger_than_corpus_selects_all(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(10)
    out = dsir_select(docs, 1000).collect()
    assert all(r["selected"] == 1 for r in out) and len(out) == 10


def test_driver_oracle_margins(spark):
    """The q_dsir cross-engine assumptions, measured on the driver input
    (sf0.01 documents, fixture model, seed 7, k=100): every selection
    key sits far from a round-half boundary (ln may differ by ~1 ulp
    between engines — ~1e-16 relative — so a raw key must not sit within
    ~1e-9 of a x.xxxxxx5 micro boundary), and the k-boundary gap between
    the 100th and 101st ROUNDED keys is either zero (id breaks the tie
    identically in both engines) or a real gap."""
    import hashlib

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    scored = with_dsir_weight(docs).select("doc_id", "logw_micro").collect()

    keys = []
    for r in scored:
        h = int(
            hashlib.md5(f"gumbel:7:{r['doc_id']}".encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / 4294967296.0
        raw = r["logw_micro"] / 1e6 + -math.log(-math.log(u))
        frac = (raw * 1e6) % 1.0
        assert abs(frac - 0.5) > 1e-6, (r["doc_id"], raw)
        keys.append((round(raw, 6), r["doc_id"]))

    ranked = sorted(keys, key=lambda t: (-t[0], t[1]))
    k100, k101 = ranked[99][0], ranked[100][0]
    assert k100 == k101 or (k100 - k101) > 5e-7  # distinct rounded micro steps


def test_grams_and_bucket_are_stable():
    # pin the feature definition the oracle replays: unigrams then
    # bigrams, space-joined, md5-first-8-hex mod B
    assert _grams(["a", "b", "c"]) == ["a", "b", "c", "a b", "b c"]
    assert _bucket("a b", 256) == int(
        __import__("hashlib").md5(b"a b").hexdigest()[:8], 16
    ) % 256
