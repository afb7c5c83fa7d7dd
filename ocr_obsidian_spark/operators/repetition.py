"""The FULL published Gopher repetition rule set (Rae et al. 2021 §A1.1)
— the half that ``textstats.with_repetition_stats``'s map-only expression
columns (dup-line fraction, top-bigram share) doesn't cover:

  * ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
    characters sitting in repeat occurrences of a duplicated line /
    paragraph (occurrences beyond the first count; separators excluded
    from both numerator and denominator);
  * ``top_{2,3,4}gram_char_frac`` — characters covered by the most
    frequent word n-gram: ``count × len(gram)`` over ``len(norm)``
    (the gram's internal spaces count, as in the published formulation;
    ties break to the lexicographically smallest gram — a deterministic
    choice BOTH engines implement identically, the paper doesn't
    specify one);
  * ``dup_{5..10}gram_char_frac`` — characters of words covered by at
    least one occurrence of a duplicated n-gram, overlaps counted once
    (SET-UNION coverage over word positions — deterministic and exactly
    replayable in SQL, unlike the greedy left-to-right scan some
    implementations use; union coverage is ≥ greedy coverage, i.e. the
    conservative direction for a ≤-threshold filter), over ``len(norm)``.

``gopher_rep_pass`` folds all eleven fractions against the published
thresholds (0.20/0.20 dup-chars; 0.20/0.18/0.16 top-grams;
0.15/0.14/0.13/0.12/0.11/0.10 dup-grams), compared on the ROUNDED
columns so the driver oracle's conjunction can't flip on float dust.

Shape: one Arrow-batched pandas UDF, map-only, zero shuffles — per-doc
counters over ≤10-token windows are linear in document length but have
no builtin-expression form (the documented vectorized-UDF exception
class); normalization runs JVM-side via the shared textstats norm
expression so the two engines tokenize identically. The driver oracle
(``gopher_rep``) replays every fraction with explode + group-by SQL.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .textstats import _norm

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

# published ≤-thresholds, keyed by output column
GOPHER_REP_THRESHOLDS: dict[str, float] = {
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

_FRAC_COLS = list(GOPHER_REP_THRESHOLDS)
_REP_STRUCT = T.StructType(
    [T.StructField(c, T.DoubleType(), False) for c in _FRAC_COLS]
)


def _dup_unit_frac(units: list[str]) -> float:
    total = sum(len(u) for u in units)
    if total == 0:
        return 0.0
    dup = sum((c - 1) * len(u) for u, c in Counter(units).items() if c > 1)
    return dup / total


# above this token count the n-gram passes switch from python Counters of
# joined strings (fast for typical pages, but the joined-string transients
# are ~sum(n)≈54x the text plus per-object overhead — hundreds of MB on a
# 10^7-byte skew-tail page) to the numpy path: token-id windows via a
# zero-copy sliding_window_view + np.unique row counting, whose transient
# is a packed (m, n) int32 sort copy (~10x smaller). Outputs are
# IDENTICAL (pinned by test_gopher_repetition_numpy_path_matches_counter).
_NUMPY_MIN_TOKENS = 4096


def _ngram_stats_counter(toks: list[str], m: int, total: int, out: dict) -> None:
    lens = [len(t) for t in toks]
    for n in TOP_NS:
        col = f"top_{n}gram_char_frac"
        if total == 0 or m < n:
            out[col] = 0.0
            continue
        counts = Counter(" ".join(toks[i : i + n]) for i in range(m - n + 1))
        best = max(counts.values())
        top = min(g for g, c in counts.items() if c == best)
        out[col] = best * len(top) / total
    for n in DUP_NS:
        col = f"dup_{n}gram_char_frac"
        if total == 0 or m < n:
            out[col] = 0.0
            continue
        grams = [" ".join(toks[i : i + n]) for i in range(m - n + 1)]
        counts = Counter(grams)
        covered = bytearray(m)
        for i, g in enumerate(grams):
            if counts[g] > 1:
                covered[i : i + n] = b"\x01" * n
        out[col] = sum(ln for ln, cov in zip(lens, covered) if cov) / total


def _ngram_stats_numpy(toks: list[str], m: int, total: int, out: dict) -> None:
    import numpy as np

    ids_map: dict[str, int] = {}
    ids = np.empty(m, dtype=np.int32)
    for i, t in enumerate(toks):
        ids[i] = ids_map.setdefault(t, len(ids_map))
    tok_list = list(ids_map)
    tok_lens = np.fromiter(
        (len(t) for t in tok_list), dtype=np.int64, count=len(tok_list)
    )
    for n in (*TOP_NS, *DUP_NS):
        is_top = n in TOP_NS
        col = f"top_{n}gram_char_frac" if is_top else f"dup_{n}gram_char_frac"
        if total == 0 or m < n:
            out[col] = 0.0
            continue
        win = np.lib.stride_tricks.sliding_window_view(ids, n)
        uniq, inv, counts = np.unique(
            win, axis=0, return_inverse=True, return_counts=True
        )
        inv = inv.reshape(-1)
        if is_top:
            best = int(counts.max())
            # exact joined-string tie-break, materialized ONLY for the
            # (few) max-count candidates
            cand = uniq[counts == best]
            top = min(" ".join(tok_list[j] for j in row) for row in cand)
            out[col] = best * len(top) / total
        else:
            starts = np.nonzero(counts[inv] > 1)[0]
            # union coverage of [i, i+n) intervals via a prefix-sum delta
            delta = np.zeros(m + n + 1, dtype=np.int64)
            np.add.at(delta, starts, 1)
            np.add.at(delta, starts + n, -1)
            covered = np.cumsum(delta[:m]) > 0
            out[col] = int(tok_lens[ids[covered]].sum()) / total


def _one_doc(raw: str, norm: str) -> dict[str, float]:
    out: dict[str, float] = {}
    out["dup_line_char_frac"] = _dup_unit_frac(raw.split("\n"))
    out["dup_para_char_frac"] = _dup_unit_frac(raw.split("\n\n"))
    toks = norm.split(" ") if norm else []
    m = len(toks)
    total = len(norm)
    if m >= _NUMPY_MIN_TOKENS:
        _ngram_stats_numpy(toks, m, total, out)
    else:
        _ngram_stats_counter(toks, m, total, out)
    return out


@F.pandas_udf(_REP_STRUCT)
def _rep_udf(raw: pd.Series, norm: pd.Series) -> pd.DataFrame:
    rows = [_one_doc(r or "", n or "") for r, n in zip(raw, norm)]
    return pd.DataFrame(rows, columns=_FRAC_COLS)


def with_gopher_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the eleven repetition fractions + ``gopher_rep_pass`` (each
    fraction at most its published ``GOPHER_REP_THRESHOLDS`` value).

    Line/paragraph units come from the RAW text (exact, case-sensitive —
    boilerplate repeats exactly); n-gram stats from the shared normalized
    form."""
    raw = F.coalesce(F.col(text_col), F.lit(""))
    staged = df.withColumn("_rep", _rep_udf(raw, _norm(text_col)))
    # rounding happens JVM-side (Spark round = HALF_UP, matching DuckDB's
    # round; python's round() is half-even and diverges on exact ties)
    staged = staged.withColumns(
        {c: F.round(F.col("_rep")[c], 6) for c in _FRAC_COLS}
    )
    gate = F.lit(True)
    for c, thr in GOPHER_REP_THRESHOLDS.items():
        gate = gate & (F.col(c) <= float(thr))
    return staged.withColumn("gopher_rep_pass", gate).drop("_rep")
