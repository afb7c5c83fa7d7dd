"""Char-trigram Naive-Bayes language identification (langid.py design).

The stopword-marker heuristic (``_marker_scores``, over the textstats
marker sets) covers four Latin-script languages and nothing else. This module adds the standard
model-based upgrade — a multinomial Naive Bayes over character trigrams
(the public design of langid.py, Lui & Baldwin 2012, and of the CLD
family) — trained at import from an embedded, authored fixture corpus
covering 16 languages across Latin, Cyrillic, Greek, Arabic, Hebrew,
Devanagari, Han, Kana and Hangul scripts. Deployments retrain on their
own labeled corpus via ``train_char_ngram_nb``.

Cross-engine exactness (the driver oracle replays scoring in DuckDB):
all model costs are quantized at training time to integer micro
-log10 probabilities. Scoring restricts to the capped feature set F
(union of each language's top-K trigrams); for a document with m
trigram occurrences in F,

    score(lang) = m * default(lang) + sum over hits of delta(tg, lang)

where default(lang) is the quantized add-one-smoothed unseen cost and
delta = cost(tg, lang) - default(lang) exists only for (tg, lang)
pairs seen in training — a SPARSE table small enough to embed as SQL
VALUES literals. Everything is 64-bit integer arithmetic; the argmin
tie-breaks on the language code, so both engines agree bit-for-bit.

Cascade (the production shape, and what the ``lang_id`` driver query
records): the marker heuristic runs first as a pure-codegen expression;
the NB scorer — an Arrow-batched pandas UDF — does real work only for
rows the heuristic could not decide confidently. One scan, map-only,
zero shuffles; the skip happens INSIDE the UDF so the corpus is never
split and re-unioned (two scans at 100 TB).
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from .textstats import _LANG_MARKERS, _norm
from .xengine import WS_RE

UND = "und"

# Authored fixture training corpus: a few lines of simple prose per
# language, pre-lowercased (no reliance on cross-engine lower() of
# uppercase exotica), apostrophe-free so every trigram is a safe SQL
# literal. 16 languages / 9 scripts.
LANGID_FIXTURE_TRAIN: dict[str, tuple[str, ...]] = {
    "en": (
        "the quick brown fox jumps over the lazy dog by the river",
        "this is a simple english sentence about everyday things",
        "we read books and drink coffee in the morning light",
    ),
    "de": (
        "der schnelle braune fuchs springt ueber den faulen hund",
        "das ist ein einfacher deutscher satz mit bekannten woertern",
        "wir lesen buecher und trinken kaffee am morgen im garten",
        "die katze schlaeft nicht auf dem tisch sondern unter dem stuhl",
        "heute ist das wetter schoen und wir gehen in die stadt",
    ),
    "fr": (
        "le renard brun rapide saute par dessus le chien paresseux",
        "ceci est une phrase simple en francais avec des mots connus",
        "nous lisons des livres et buvons du cafe le matin ensemble",
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso",
        "esta es una frase sencilla en espanol con palabras comunes",
        "leemos libros y bebemos cafe por la manana en el jardin",
        "el gato duerme en la silla y no quiere salir a la calle",
        "ellos estan en el patio con los ninos y sus amigos hoy",
    ),
    "pt": (
        "a rapida raposa marrom pula sobre o cachorro preguicoso",
        "esta e uma frase simples em portugues com palavras comuns",
        "lemos livros e bebemos cafe pela manha no jardim da casa",
        "o gato dorme na cadeira e nao quer sair para a rua hoje",
        "eles estao no quintal com as criancas e os amigos deles",
    ),
    "it": (
        "la rapida volpe marrone salta sopra il cane pigro",
        "questa e una frase semplice in italiano con parole comuni",
        "leggiamo libri e beviamo caffe al mattino nel giardino",
        "il gatto dorme sulla sedia e non vuole uscire nella strada",
        "gli amici sono nel cortile con i bambini della casa oggi",
    ),
    "nl": (
        "de snelle bruine vos springt over de luie hond in de tuin",
        "dit is een eenvoudige nederlandse zin met bekende woorden",
        "wij lezen boeken en drinken koffie in de ochtend samen",
        "de kat slaapt niet op de tafel maar onder de stoel vandaag",
        "het weer is mooi vandaag en we gaan naar de stad toe",
    ),
    "sv": (
        "den snabba bruna raeven hoppar oever den lata hunden",
        "detta aer en enkel svensk mening med vanliga ord i texten",
        "vi laeser boecker och dricker kaffe paa morgonen i traedgaarden",
    ),
    "tr": (
        "hızlı kahverengi tilki tembel köpeğin üzerinden atlar",
        "bu bilinen kelimelerle yazılmış basit bir türkçe cümledir",
        "sabahları bahçede kitap okur ve kahve içeriz birlikte",
        "bugün hava çok güzel ve şehre doğru yürüyoruz hep beraber",
        "çocuklar bahçede oynuyor ve köpek onları izliyor şimdi",
    ),
    "ru": (
        "быстрая коричневая лиса прыгает через ленивую собаку",
        "это простое русское предложение с обычными словами",
        "мы читаем книги и пьем кофе утром в саду вместе",
    ),
    "el": (
        "η γρηγορη καφε αλεπου πηδαει πανω απο τον τεμπελη σκυλο",
        "αυτη ειναι μια απλη ελληνικη προταση με κοινες λεξεις",
        "διαβαζουμε βιβλια και πινουμε καφε το πρωι στον κηπο",
    ),
    "ar": (
        "الثعلب البني السريع يقفز فوق الكلب الكسول في الحديقة",
        "هذه جملة عربية بسيطة تحتوي على كلمات شائعة ومعروفة",
        "نقرا الكتب ونشرب القهوة في الصباح في الحديقة معا",
    ),
    "he": (
        "השועל החום המהיר קופץ מעל הכלב העצלן בגינה",
        "זה משפט עברי פשוט עם מילים נפוצות ומוכרות",
        "אנחנו קוראים ספרים ושותים קפה בבוקר בגינה יחד",
    ),
    "hi": (
        "तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर से कूदती है",
        "यह सामान्य शब्दों वाला एक सरल हिंदी वाक्य है",
        "हम सुबह बगीचे में किताबें पढ़ते हैं और कॉफी पीते हैं",
    ),
    "zh": (
        "敏捷的棕色狐狸跳过了懒惰的狗在花园里",
        "这是一个包含常用词的简单中文句子",
        "我们早上在花园里读书和喝咖啡一起",
    ),
    "ja": (
        "すばやい茶色のきつねはなまけものの犬をとびこえる",
        "これはよく使われることばをふくむかんたんな日本語のぶんです",
        "わたしたちはあさにわでほんをよみコーヒーをのみます",
    ),
    "ko": (
        "빠른 갈색 여우가 게으른 개를 뛰어넘는다 정원에서",
        "이것은 흔한 단어가 들어간 간단한 한국어 문장이다",
        "우리는 아침에 정원에서 책을 읽고 커피를 마신다",
    ),
}


from .xengine import micro_log10_cost as _lpm


NGRAM_ORDERS = (1, 2, 3)
# order-1 grams are admitted as features only from U+0370 up (Greek and
# beyond): a single Han/Hangul/Cyrillic codepoint identifies its script,
# while Latin letter frequencies would only blur the close Latin pairs
# the 2/3-grams separate
SCRIPT_UNIGRAM_MIN = 0x0370


def _ngrams(norm: str) -> list[str]:
    """Mixed-order character n-grams (langid.py uses byte 1-4-grams; we
    use codepoint 1-3-grams — script-bearing unigrams let a Han or
    Hangul document classify even when no trigram was seen in the small
    fixture training set)."""
    return [
        tg
        for n in NGRAM_ORDERS
        for i in range(len(norm) - n + 1)
        if len(tg := norm[i : i + n]) > 1 or ord(tg) >= SCRIPT_UNIGRAM_MIN
    ]


@dataclass(frozen=True)
class CharNGramNB:
    """Quantized sparse multinomial-NB model over a capped trigram
    feature set. ``sparse[(tg, lang)] = cost - default[lang]``."""

    langs: tuple[str, ...]
    features: frozenset[str]
    default_lpm: dict[str, int]
    sparse_dm: dict[tuple[str, str], int]

    def classify(self, norm: str) -> tuple[str, int]:
        """(language, n_feature_hits); ('und', 0) when nothing matched."""
        hits = [tg for tg in _ngrams(norm) if tg in self.features]
        if not hits:
            return UND, 0
        m = len(hits)
        best_lang, best_score = UND, None
        for lang in self.langs:           # langs sorted → ties stable
            score = m * self.default_lpm[lang]
            for tg in hits:
                score += self.sparse_dm.get((tg, lang), 0)
            if best_score is None or score < best_score:
                best_lang, best_score = lang, score
        return best_lang, m


# NB feature set: each language's most frequent char n-grams
NB_TOP_K = 200
# the marker pre-filter is confident (and skips the NB scorer) at this
# many stopword-marker hits
MARKER_MIN_HITS = 3


def train_char_ngram_nb() -> CharNGramNB:
    """Multinomial NB over the ``LANGID_FIXTURE_TRAIN`` char n-grams,
    feature set = union of each language's ``NB_TOP_K`` n-grams (count
    desc, n-gram asc — fully deterministic), add-one smoothing,
    integer-quantized costs."""
    per_lang: dict[str, Counter[str]] = {}
    for lang, texts in LANGID_FIXTURE_TRAIN.items():
        c: Counter[str] = Counter()
        for t in texts:
            norm = re.sub(WS_RE, " ", t or "").strip().lower()
            c.update(_ngrams(norm))
        per_lang[lang] = c
    features: set[str] = set()
    for c in per_lang.values():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:NB_TOP_K]
        features.update(tg for tg, _ in top)
    default_lpm: dict[str, int] = {}
    sparse_dm: dict[tuple[str, str], int] = {}
    nf = len(features)
    for lang, c in per_lang.items():
        n_lang = sum(cnt for tg, cnt in c.items() if tg in features)
        denom = n_lang + nf
        default_lpm[lang] = _lpm(1 / denom)
        for tg, cnt in c.items():
            if tg in features:
                sparse_dm[(tg, lang)] = _lpm((cnt + 1) / denom) - default_lpm[lang]
    return CharNGramNB(
        tuple(sorted(per_lang)), frozenset(features), default_lpm, sparse_dm
    )


FIXTURE_NB = train_char_ngram_nb()


def _marker_scores(text_col: str) -> tuple[Column, Column]:
    """(marker lang pick, best marker hit count) — the textstats
    heuristic re-expressed with its confidence exposed; pure codegen."""
    words = F.split(_norm(text_col), " ")

    def hits(markers: list[str]) -> Column:
        return F.size(F.filter(words, lambda w: w.isin(markers)))

    scores = {lang: hits(m) for lang, m in _LANG_MARKERS.items()}
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    pick = F.lit(UND)
    for lang in reversed(langs):
        pick = F.when(scores[lang] == best, F.lit(lang)).otherwise(pick)
    pick = F.when(best > 0, pick).otherwise(F.lit(UND))
    return pick, best


_NB_STRUCT = T.StructType([
    T.StructField("lang", T.StringType(), True),
    T.StructField("hits", T.LongType(), True),
])


def _nb_labels(norm_text: pd.Series, skip: pd.Series) -> pd.DataFrame:
    """NB scorer kernel: ``(lang, hits)`` per row, NULLs where ``skip``.
    Module-level so the UDF pickles by reference and ``FIXTURE_NB``
    loads once per worker, not once per task command."""
    langs, hits = [], []
    for text, s in zip(norm_text, skip):
        if s:
            langs.append(None)
            hits.append(None)
        else:
            lang, m = FIXTURE_NB.classify(text or "")
            langs.append(lang)
            hits.append(m)
    return pd.DataFrame({"lang": langs, "hits": hits})


_nb_udf = F.pandas_udf(_nb_labels, _NB_STRUCT)


def with_language(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Cascade language ID with the fixture NB model: ``lang_marker``
    (heuristic pick),
    ``lang_nb`` (NB label, NULL where the heuristic was confident and
    the scorer was skipped), ``lang_id`` (the cascade decision) and
    ``nb_feature_hits``. Single scan, map-only."""
    pick, best = _marker_scores(text_col)
    staged = df.withColumns(
        {"lang_marker": pick, "_confident": best >= MARKER_MIN_HITS}
    )
    # confident rows ship NULL instead of their full normalized text —
    # the scorer is skipped for them anyway, so the Arrow transfer only
    # carries the undecided minority (round 6; identical outputs)
    staged = staged.withColumn(
        "_nb",
        _nb_udf(
            F.when(~F.col("_confident"), _norm(text_col)).otherwise(
                F.lit(None).cast("string")
            ),
            F.col("_confident"),
        ),
    )
    return staged.withColumns(
        {
            "lang_nb": F.col("_nb.lang"),
            "nb_feature_hits": F.col("_nb.hits"),
            "lang_id": F.when(F.col("_confident"), F.col("lang_marker")).otherwise(
                F.col("_nb.lang")
            ),
        }
    ).drop("_nb", "_confident")


def model_sql_tables() -> dict[str, str]:
    """The quantized fixture NB model as SQL VALUES literals for the DuckDB
    oracle: the feature list, per-language default costs, and the
    sparse (trigram, lang, delta) table."""

    from .xengine import sql_str_literal as esc

    model = FIXTURE_NB
    feats = ", ".join(f"({esc(tg)})" for tg in sorted(model.features))
    langs = ", ".join(
        f"({esc(lg)}, {model.default_lpm[lg]})" for lg in model.langs
    )
    sparse = ", ".join(
        f"({esc(tg)}, {esc(lg)}, {dm})"
        for (tg, lg), dm in sorted(model.sparse_dm.items())
    )
    return {
        "feats": f"(VALUES {feats})",      # alias as name(tg)
        "langs": f"(VALUES {langs})",      # name(lang, def_lpm)
        "sparse": f"(VALUES {sparse})",    # name(tg, lang, dm)
    }
