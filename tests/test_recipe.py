"""End-to-end test of the composed web-corpus recipe
(operators/recipe.py): a 15-doc synthetic crawl with exactly one planted
casualty per stage, so the observed stage counters — which ride the sink
write, no extra count jobs — pin both the published ordering and each
gate's semantics at once."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

VOCAB = [
    "crawl", "pages", "model", "data", "training", "corpus", "filter",
    "tokens", "quality", "pipeline", "window", "sample", "bucket",
    "shard", "batch", "vector", "index", "merge", "clean", "parse",
    "stream", "layout", "anchor", "record", "signal",
]

# every template passes the C4 line gate (terminal punctuation, >= 3
# words, no code markers) and carries the Gopher stopwords
TEMPLATES = [
    "the {a} and the {b} of the {c} moved to the {d} with the {e} that {f} kept.",
    "every {a} in the {b} was read and the {c} of that {d} stayed with the {e} all night.",
    "we sorted the {a} into the {b} and kept the {c} of the {d} that the {e} needed.",
    "a {a} with a {b} is better than the {c} of the {d} and that {e} proves it.",
    "nobody moved the {a} until the {b} and the {c} of the {d} were checked with care.",
]

BOILERPLATE = "subscribe to the newsletter and share the page with everyone today."
CONTAM_LINE = (
    "the secret benchmark answer of the hidden eval set is that the number stays seven."
)


def _make_doc(rng: random.Random, n_sent: int = 4) -> str:
    # distinct templates and within-sentence-distinct vocabulary keep
    # every generated doc under the Gopher dup-n-gram thresholds
    sents = []
    for t in rng.sample(TEMPLATES, n_sent):
        sents.append(t.format(**dict(zip("abcdef", rng.sample(VOCAB, 6)))))
    return "\n".join(sents)


def _fixture_rows() -> list[tuple[int, str, str]]:
    rng = random.Random(7)
    good = [_make_doc(rng) for _ in range(10)]
    rows = [(i, f"https://site{i}.test/d/{i}", good[i]) for i in range(6)]
    # one planted casualty per stage, in stage order:
    rows.append((6, "https://site0.test/d/0", good[6]))  # url dup of doc 0
    rows.append((7, "https://site7.test/d/7",  # german -> lang gate
                 "der hund und die katze ist nicht hier und das haus ist "
                 "alt und die sonne ist nicht kalt.\n" * 4))
    rows.append((8, "https://site8.test/d/8",  # < 50 words -> gopher gate
                 "the cat and the dog is in the house with the mouse."))
    rep = ("the crawl and the pages of the corpus moved to the bucket "
           "with the index that data kept.")
    rows.append((9, "https://site9.test/d/9", "\n".join([rep] * 8)))  # repetition
    rows.append((10, "https://site10.test/d/10", good[9].replace(".", "")))  # c4 empties
    rows.append((11, "https://site11.test/d/11", good[1]))  # exact dup of doc 1
    pre, _, last = good[2].rsplit(" ", 2)
    rows.append((12, "https://site12.test/d/12", f"{pre} checked {last}"))  # near dup of 2
    rows.append((13, "https://site13.test/d/13", good[7] + "\n" + CONTAM_LINE))
    rows.append((14, "https://site14.test/d/14",
                 good[8] + "\nyou can write to bob@example.com for the data answers."))
    # cross-document boilerplate line in >= min_docs distinct docs
    return [
        (i, u, (t + "\n" + BOILERPLATE) if i in (3, 4, 5) else t)
        for (i, u, t) in rows
    ]


def test_prepare_web_corpus_stage_by_stage(spark, tmp_path):
    from ocr_obsidian_spark.operators.recipe import prepare_web_corpus

    docs = spark.createDataFrame(_fixture_rows(), ["doc_id", "url", "text"])
    bench = spark.createDataFrame([(0, CONTAM_LINE)], ["bid", "text"])
    res = prepare_web_corpus(
        docs, langs=["en"], line_dedup_min_docs=3, benchmark=bench
    )
    # counters ride the sink action — the documented usage
    res.df.write.parquet(str(tmp_path / "prepared"))
    assert res.counts() == {
        "input": 15,
        "url_dedup": 14,      # doc 6 shares doc 0's url
        "lang": 13,           # doc 7 is german
        "gopher": 12,         # doc 8 is under 50 words
        "gopher_rep": 11,     # doc 9 repeats one line 8x
        "c4": 10,             # doc 10 has no terminal punctuation left
        "line_dedup": 10,     # removes LINES (docs 3-5's boilerplate), no doc
        "exact_dedup": 9,     # doc 11 == doc 1
        "near_dedup": 8,      # doc 12 is doc 2 with one word changed
        "decontaminate": 7,   # doc 13 shares an 8-shingle with the benchmark
        "output": 7,          # pii scrub is row-preserving
    }
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "prepared")).collect()}
    assert sorted(out) == [0, 1, 2, 3, 4, 5, 14]
    # output schema: input columns + the attached enrichments
    assert set(next(iter(out.values())).asDict()) == {
        "doc_id", "url", "text", "lang_id", "quality_score"
    }
    assert {r["lang_id"] for r in out.values()} == {"en"}
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in out.values())
    # the cross-document boilerplate line was excised from docs 3-5
    for i in (3, 4, 5):
        assert BOILERPLATE not in out[i]["text"]
        assert len(out[i]["text"]) > 0
    # PII scrubbed, text otherwise intact
    assert "bob@example.com" not in out[14]["text"]
    assert "<EMAIL>" in out[14]["text"]


def test_prepare_web_corpus_deterministic_across_parallelism(spark):
    from ocr_obsidian_spark.operators.recipe import prepare_web_corpus

    docs = spark.createDataFrame(_fixture_rows(), ["doc_id", "url", "text"])
    a = prepare_web_corpus(docs, langs=["en"], line_dedup_min_docs=3)
    b = prepare_web_corpus(
        docs.repartition(7), langs=["en"], line_dedup_min_docs=3
    )
    rows_a = {(r["doc_id"], r["text"]) for r in a.df.collect()}
    rows_b = {(r["doc_id"], r["text"]) for r in b.df.collect()}
    assert rows_a == rows_b and rows_a


def test_prepare_web_corpus_keep_best_and_optional_stages(spark):
    """keep_by keeps the best-scoring near-dup member; disabled stages
    neither run nor report a counter."""
    from ocr_obsidian_spark.operators.recipe import prepare_web_corpus

    rng = random.Random(11)
    base = _make_doc(rng, n_sent=5)
    # a punctuation line that keeps its terminal '!' (so the C4 gate
    # keeps it) lowers the quality score
    degraded = base + "\n!!! ??? ;;; ::: !!! ??? ;;; ::: !!!"
    docs = spark.createDataFrame(
        [(0, degraded), (1, base)], ["doc_id", "text"]
    )
    res = prepare_web_corpus(
        docs,
        url_col=None,
        langs=None,
        line_dedup_min_docs=None,
        keep_by="quality_score",
    )
    kept = res.df.collect()
    # min-id would keep doc 0; keep-best keeps the clean doc 1
    assert [r["doc_id"] for r in kept] == [1]
    assert set(res.observations) == {
        "input", "gopher", "gopher_rep", "c4", "exact_dedup", "near_dedup", "output",
    }
    assert res.counts()["output"] == 1


def test_broadcast_cap_zero_takes_regular_semi_join(spark, monkeypatch):
    """With ``xengine.MAX_BROADCAST_ROWS`` patched to 0 no candidate-id set
    is hinted for broadcast: the recipe's keep set and the cross-corpus
    near-duplicate matches equal the default's, and the optimized plan
    carries no broadcast hint."""
    from ocr_obsidian_spark.operators import xengine
    from ocr_obsidian_spark.operators.dedup import near_duplicate_matches_against
    from ocr_obsidian_spark.operators.recipe import prepare_web_corpus

    docs = spark.createDataFrame(_fixture_rows(), ["doc_id", "url", "text"])
    new = docs.filter(F.col("doc_id") >= 11).select("doc_id", "text")
    existing = docs.filter(F.col("doc_id") < 11).select("doc_id", "text")

    def run():
        res = prepare_web_corpus(docs, langs=["en"], line_dedup_min_docs=3)
        keep = {r["doc_id"] for r in res.df.collect()}
        matches = near_duplicate_matches_against(new, existing)
        rows = {(r["new_id"], r["existing_id"], r["jaccard"]) for r in matches.collect()}
        # the recipe's semi-join sits behind pair_components' lineage cut,
        # so only the matches plan still shows the hint
        hinted = "strategy=broadcast" in (
            matches._jdf.queryExecution().optimizedPlan().toString()
        )
        return keep, rows, hinted

    keep, rows, hinted = run()
    assert (11, 1, 1.0) in rows  # the exact copy of doc 1 matches
    assert hinted
    monkeypatch.setattr(xengine, "MAX_BROADCAST_ROWS", 0)
    keep0, rows0, hinted0 = run()
    assert keep0 == keep and keep
    assert rows0 == rows
    assert not hinted0
