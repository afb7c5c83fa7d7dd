"""Char-n-gram NB language ID: held-out accuracy across 17 languages /
9 scripts, cascade semantics, and exact DuckDB replay of the quantized
model tables (the driver-oracle mechanism, incl. codepoint substr
equivalence on non-Latin text)."""

from __future__ import annotations

import re

import pytest

from ocr_obsidian_spark.operators.langid import (
    FIXTURE_NB,
    UND,
    model_sql_tables,
    train_char_ngram_nb,
    with_language,
)
from ocr_obsidian_spark.operators.xengine import WS_RE

# held-out probe sentences — none appear in LANGID_FIXTURE_TRAIN
PROBES = {
    "en": "the cat sat on the mat and looked at the bright sun",
    "de": "die katze sitzt auf der matte und schaut in die sonne",
    "fr": "le chat est assis sur le tapis et regarde le soleil",
    "es": "el gato esta sentado en la alfombra mirando el sol",
    "pt": "o gato esta sentado no tapete olhando para o sol",
    "it": "il gatto siede sul tappeto e guarda il sole luminoso",
    "nl": "de kat zit op de mat en kijkt naar de heldere zon",
    "sv": "katten sitter paa mattan och tittar paa den ljusa solen",
    "tr": "kedi minderin üstünde oturuyor ve parlak güneşe bakıyor",
    "ru": "кошка сидит на коврике и смотрит на яркое солнце",
    "el": "η γατα καθεται στο χαλι και κοιταζει τον λαμπερο ηλιο",
    "ar": "القطة تجلس على السجادة وتنظر الى الشمس الساطعة",
    "he": "החתול יושב על המחצלת ומסתכל על השמש הבהירה",
    "hi": "बिल्ली चटाई पर बैठी है और सूरज को देख रही है",
    "zh": "猫坐在垫子上看着明亮的太阳",
    "ja": "ねこはマットのうえにすわってあかるいたいようをみています",
    "ko": "고양이가 매트 위에 앉아 밝은 해를 보고 있다",
}


def _norm(t: str) -> str:
    return re.sub(WS_RE, " ", t or "").strip().lower()


def test_held_out_probes_all_17_languages():
    for want, text in PROBES.items():
        got, hits = FIXTURE_NB.classify(_norm(text))
        assert got == want, (want, got)
        assert hits > 0


def test_training_is_deterministic():
    a, b = train_char_ngram_nb(), train_char_ngram_nb()
    assert a.sparse_dm == b.sparse_dm and a.default_lpm == b.default_lpm
    assert a.features == b.features and a.langs == b.langs


def test_empty_and_unmatched_are_und():
    assert FIXTURE_NB.classify("") == (UND, 0)
    assert FIXTURE_NB.classify("0123 4567 89")[0] == UND


def test_cascade_skips_nb_where_marker_confident(spark):
    rows = [
        # >= 3 English marker words -> heuristic confident, NB skipped
        (1, "the cat and the dog of the house went to the river"),
        # Russian: zero marker hits -> NB path
        (2, PROBES["ru"]),
        (3, PROBES["zh"]),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r.asDict() for r in with_language(df).collect()}
    assert got[1]["lang_marker"] == "en" and got[1]["lang_id"] == "en"
    assert got[1]["lang_nb"] is None          # pre-filter really skipped
    assert got[2]["lang_id"] == "ru" and got[2]["lang_nb"] == "ru"
    assert got[3]["lang_id"] == "zh"
    assert got[4]["lang_id"] == UND


def test_spark_udf_matches_python_scorer(spark):
    """Every probe the marker pre-filter is not confident about goes
    through the NB UDF and matches the python scorer."""
    rows = [(i, t) for i, t in enumerate(PROBES.values())]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["lang_nb"], r["nb_feature_hits"])
        for r in with_language(df).collect()
    }
    scored = [(i, t) for i, t in rows if got[i][0] is not None]
    assert len(scored) >= len(rows) - 3  # only en/de/fr hit 3 markers
    for i, t in scored:
        assert got[i] == FIXTURE_NB.classify(_norm(t)), t


def test_nb_udf_pickles_by_reference():
    """The NB scorer is a module-level kernel: its task command names it
    instead of carrying a copy of ``FIXTURE_NB`` (~69 KB as a closure)."""
    from pyspark import cloudpickle

    from ocr_obsidian_spark.operators.langid import _nb_udf

    assert len(cloudpickle.dumps(_nb_udf.func)) < 4096


def test_duckdb_replay_of_model_tables_is_exact():
    duckdb = pytest.importorskip("duckdb")
    t = model_sql_tables()
    docs = [(i, _norm(t_)) for i, t_ in enumerate(PROBES.values())]
    docs.append((99, "0123 4567 89"))
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id INT, norm VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    sql = f"""
        WITH pos AS (SELECT doc_id, norm,
                            unnest(generate_series(1, len(norm))) AS i
                     FROM d WHERE len(norm) > 0),
        tg AS (SELECT doc_id, substr(norm, i, o.n) AS tg
               FROM pos CROSS JOIN (VALUES (1), (2), (3)) AS o(n)
               WHERE i + o.n - 1 <= len(norm)),
        hits AS (SELECT doc_id, tg.tg
                 FROM tg JOIN {t['feats']} AS f(tg) ON tg.tg = f.tg),
        nm AS (SELECT doc_id, count(*) AS m FROM hits GROUP BY doc_id),
        delta AS (SELECT h.doc_id, s.lang, sum(s.dm) AS dsum
                  FROM hits h
                  JOIN {t['sparse']} AS s(tg, lang, dm) ON h.tg = s.tg
                  GROUP BY h.doc_id, s.lang),
        score AS (SELECT nm.doc_id, l.lang,
                         CAST(nm.m * l.def_lpm + coalesce(d.dsum, 0)
                              AS BIGINT) AS sc
                  FROM nm CROSS JOIN {t['langs']} AS l(lang, def_lpm)
                  LEFT JOIN delta d
                      ON d.doc_id = nm.doc_id AND d.lang = l.lang),
        best AS (SELECT doc_id, lang,
                        row_number() OVER (PARTITION BY doc_id
                                           ORDER BY sc, lang) AS rn
                 FROM score)
        SELECT d.doc_id, coalesce(b.lang, 'und') AS lang,
               coalesce(nm.m, 0) AS m
        FROM d
        LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b
            ON d.doc_id = b.doc_id
        LEFT JOIN nm ON d.doc_id = nm.doc_id
        ORDER BY d.doc_id
    """
    got = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    for i, norm in docs:
        assert got[i] == FIXTURE_NB.classify(norm), (i, norm)
