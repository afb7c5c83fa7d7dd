"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

DSIR ("Data Selection for Language Models via Importance Resampling" —
public, NeurIPS 2023) picks pretraining documents that look like a
trusted TARGET distribution: featurize every document as hashed n-gram
counts, fit bag-of-n-grams models on the target and on the raw pool,
weight each raw document by the log importance ratio

    log w(x) = sum_grams  log p_target(bucket(g)) - log p_raw(bucket(g))

and sample without replacement proportionally to w via the Gumbel
top-k trick (add an independent Gumbel to each log-weight, take the k
largest — the standard reservoir-free formulation).

This module is that recipe in the repo's established exact-cross-engine
shape (the ``lm.py`` pattern):

  * the gram hash is the first 32 md5 bits mod ``buckets`` — identical
    in python (scoring UDF + fixture trainer), Spark SQL (distributed
    fit: ``conv(substring(md5(g),1,8),16,10) % B``) and DuckDB
    (``('0x'||substr(md5(g),1,8))::BIGINT % B``);
  * the per-bucket log ratio is quantized AT FIT TIME to an integer
    micro-log10 (``round((log10 pt - log10 pr) * 1e6)``), so every
    document's log-weight is an exact 64-bit integer sum — identical in
    any engine and summation order; no model float is ever hashed;
  * Gumbel noise is DETERMINISTIC: u = (h + 0.5) / 2^32 from the md5 of
    ``gumbel:<seed>:<id>`` (never exactly 0 or 1), g = -ln(-ln(u));
    selection ranks by the ROUNDED key (CLAUDE.md cross-engine rule)
    with the id as the final tie-break.

Scale shape: scoring is one Arrow-batched map-only UDF with the
B-integer table in its closure; the distributed fit is explode →
groupBy(bucket) → a ≤B-row collect (at 100 TB you fit on a sample — the
paper itself fits hashed models on streamed subsets); top-k selection is
``orderBy().limit(k)`` = TakeOrderedAndProject (map-side partial top-k,
no global sort), and the kept-flag join broadcasts k ids.

Reference tie-in: the reference has no corpus-composition stage at all
(SURVEY §2 maps its closest analog, the qa garbage gate, to F11); this
extends the training-data suite alongside webprep.mix_corpus /
hash_sample, which compose corpora by SOURCE — DSIR composes by CONTENT.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .lm import LM_FIXTURE_TRAIN
from .textstats import _norm

# Raw-pool fixture: the same clean prose ancestry as LM_FIXTURE_TRAIN
# plus link-list / numeric / boilerplate junk, so the fixture model's
# log-ratios separate prose-like from junk-like documents. Embedded so
# tests, the Spark UDF and the DuckDB oracle share one artifact (only
# the derived INTEGER lam table rides into SQL — never these strings).
DSIR_FIXTURE_RAW: tuple[str, ...] = LM_FIXTURE_TRAIN + (
    "click here home login register next prev page 1 2 3 4 5",
    "copyright 2019 all rights reserved terms privacy cookie policy",
    "buy now sale 50 off free shipping order today limited offer",
    "0 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20",
    "menu search cart account wishlist checkout subscribe newsletter",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
    "jpg png gif pdf doc xls zip rar mp3 mp4 download upload file",
    "tags cloud popular recent comments rss feed sitemap contact us",
    "error 404 not found the page you requested does not exist",
    "january february march april may june july august september",
)


def _tokenize(text: str) -> list[str]:
    """The shared textstats normal form, replayed in python."""
    import re

    from .xengine import WS_RE

    norm = re.sub(WS_RE, " ", text or "").strip().lower()
    return norm.split(" ") if norm else []


def _grams(words: Sequence[str]) -> list[str]:
    """Unigrams + space-joined bigrams (the paper's hashed feature set).
    Tokens never contain spaces (they come from a whitespace split), so
    the join is collision-free."""
    out = list(words)
    out.extend(f"{words[i]} {words[i + 1]}" for i in range(len(words) - 1))
    return out


def _bucket(gram: str, buckets: int) -> int:
    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:8], 16) % buckets


@dataclass(frozen=True)
class HashedNgramDsirModel:
    """Per-bucket integer micro-log10 importance ratios.

    ``lam_micro[b] = round((log10 pt_b - log10 pr_b) * 1e6)`` where
    pt/pr are add-``alpha`` smoothed hashed-gram frequencies of the
    target / raw corpora. Positive = target-like."""

    buckets: int
    lam_micro: tuple[int, ...]

    def doc_weight(self, words: Sequence[str]) -> tuple[int, int]:
        """(n_grams, integer micro log-weight) for one tokenized doc."""
        gs = _grams(words) if words else []
        return len(gs), sum(self.lam_micro[_bucket(g, self.buckets)] for g in gs)


def _model_from_counts(
    tc: dict[int, int], rc: dict[int, int], buckets: int, alpha: float
) -> HashedNgramDsirModel:
    t_tot = sum(tc.values())
    r_tot = sum(rc.values())
    lam = []
    for b in range(buckets):
        pt = (tc.get(b, 0) + alpha) / (t_tot + alpha * buckets)
        pr = (rc.get(b, 0) + alpha) / (r_tot + alpha * buckets)
        lam.append(round((math.log10(pt) - math.log10(pr)) * 1e6))
    return HashedNgramDsirModel(buckets, tuple(lam))


def fit_dsir_texts(
    target_texts: Iterable[str] = LM_FIXTURE_TRAIN,
    raw_texts: Iterable[str] = DSIR_FIXTURE_RAW,
    *,
    buckets: int = 256,
    alpha: float = 1.0,
) -> HashedNgramDsirModel:
    """Driver-side fit from in-memory corpora (the fixture path —
    deterministic: same texts → bit-identical lam table)."""

    def counts(texts: Iterable[str]) -> dict[int, int]:
        c: Counter[int] = Counter()
        for t in texts:
            for g in _grams(_tokenize(t)):
                c[_bucket(g, buckets)] += 1
        return dict(c)

    return _model_from_counts(counts(target_texts), counts(raw_texts), buckets, alpha)


def _gram_buckets_col(buckets: int) -> F.Column:
    """array<long> of gram buckets from a pre-materialized ``_ws`` split
    column, pure JVM expressions: the split MUST be an attribute before
    the bigram ``transform`` references it (the HOF-capture rule — a
    non-attribute subtree inside the lambda would re-evaluate per
    element), which is why this reads ``_ws`` instead of taking a text
    column."""
    ws = F.col("_ws")
    uni = ws
    bi = F.when(
        F.size(ws) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat(
                F.element_at(ws, i), F.lit(" "), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(uni, bi)
    return F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        % buckets,
    )


def fit_dsir(
    target: DataFrame,
    raw: DataFrame,
    *,
    text_col: str = "text",
    buckets: int = 8192,
    alpha: float = 1.0,
) -> HashedNgramDsirModel:
    """Distributed fit: hashed-gram bucket counts per corpus (explode →
    groupBy bucket, ≤``buckets`` rows collected), identical math to
    ``fit_dsir_texts`` (equivalence pinned in tests/test_dsir.py). At
    100 TB fit on a sample — the model only needs frequencies."""

    def counts(df: DataFrame) -> dict[int, int]:
        base = df.select(
            F.split(_norm(text_col), " ").alias("_ws")
        ).filter(F.size("_ws") > 0)
        # empty norm splits to [''] — drop it like _tokenize does
        base = base.filter(~((F.size("_ws") == 1) & (F.element_at("_ws", 1) == "")))
        rows = (
            base.select(F.explode(_gram_buckets_col(buckets)).alias("b"))
            .groupBy("b")
            .count()
            .collect()
        )
        return {int(r["b"]): int(r["count"]) for r in rows}

    return _model_from_counts(counts(target), counts(raw), buckets, alpha)


DSIR_FIXTURE_MODEL = fit_dsir_texts()


def with_dsir_weight(
    df: DataFrame,
    model: HashedNgramDsirModel = DSIR_FIXTURE_MODEL,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Add ``n_grams`` (long) and ``logw_micro`` (long, exact integer sum
    of quantized per-bucket log ratios). Map-only; one Arrow-batched UDF
    over JVM-normalized text (the lm.py scoring shape)."""

    lam = model.lam_micro
    buckets = model.buckets

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("n_grams", T.LongType(), False),
                T.StructField("logw_micro", T.LongType(), False),
            ]
        )
    )
    def score(norm_text: pd.Series) -> pd.DataFrame:
        out_n, out_w = [], []
        for text in norm_text:
            words = text.split(" ") if text else []
            gs = _grams(words) if words else []
            out_n.append(len(gs))
            out_w.append(sum(lam[_bucket(g, buckets)] for g in gs))
        return pd.DataFrame({"n_grams": out_n, "logw_micro": out_w})

    scored = df.withColumn("_dsir", score(_norm(text_col)))
    return (
        scored.withColumn("n_grams", F.col("_dsir.n_grams"))
        .withColumn("logw_micro", F.col("_dsir.logw_micro"))
        .drop("_dsir")
    )


def _gumbel_key(id_col: str, seed: int) -> F.Column:
    """Deterministic standard Gumbel from the md5 of the row id:
    u = (h32 + 0.5) / 2^32 ∈ (0, 1) strictly, g = -ln(-ln(u))."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"gumbel:{seed}:"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    return -F.log(-F.log(u))


def dsir_select(
    df: DataFrame,
    k: int,
    model: HashedNgramDsirModel = DSIR_FIXTURE_MODEL,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 7,
) -> DataFrame:
    """One row per input row: ``(id_col, n_grams, logw_micro, selected)``
    — ``selected`` (0/1 long) marks the Gumbel-top-k sample of size
    min(k, n) drawn without replacement ∝ exp(log-weight).

    The top-k itself is ``orderBy(rounded key desc, id).limit(k)`` —
    Spark plans TakeOrderedAndProject (per-partition partial top-k, no
    global sort) — and the flag comes back via a broadcast of k ids.
    The scored table feeds BOTH the top-k branch and the join probe, so
    it is lineage-truncated once — without the cut each branch would
    re-run the corpus scan and the gram-hashing UDF (measured: two
    ArrowEvalPython + four scans in one plan)."""
    from .xengine import truncate_lineage

    scored = truncate_lineage(
        with_dsir_weight(df, model, text_col=text_col).select(
            F.col(id_col), "n_grams", "logw_micro"
        )
    )
    key = F.round(
        F.col("logw_micro") / F.lit(1e6) + _gumbel_key(id_col, seed), 6
    )
    top = (
        scored.select(F.col(id_col), key.alias("_key"))
        .orderBy(F.col("_key").desc(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).alias("_sel_id"))
    )
    return (
        scored.join(
            F.broadcast(top), scored[id_col] == top["_sel_id"], "left"
        )
        .withColumn("selected", F.col("_sel_id").isNotNull().cast("long"))
        .drop("_sel_id")
    )


def dsir_sql_lam_table(model: HashedNgramDsirModel = DSIR_FIXTURE_MODEL) -> str:
    """The quantized lam table as a SQL VALUES literal — alias as
    name(b, lam) — for the DuckDB oracle twin."""
    rows = ", ".join(f"({b}, {v})" for b, v in enumerate(model.lam_micro))
    return f"(VALUES {rows})"
