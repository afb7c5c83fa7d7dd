"""Composed web-corpus preparation: the published pretraining-data
pipeline (CCNet — Wenzek et al. 2019; C4 — Raffel et al. 2020; Gopher —
Rae et al. 2021; RefinedWeb — Penedo et al. 2023) as ONE Spark job over
this repo's individually-oracled operators, in the published order:

  url dedup → language gate → Gopher doc-shape gates → Gopher repetition
  gates → C4 line cleaning → cross-document line dedup → exact dedup →
  MinHash near-dedup (Jaccard-verified) → eval-set decontamination →
  PII scrub, with a quality score attached for keep-best dedup/tiering.

Spark-first shape:
  * every gate is map-only; shuffles appear exactly where the semantics
    need cross-document state (the URL window, the line-frequency
    groupBy, the exact-dedup window, the MinHash band join, component
    pointer-doubling) — each shape individually plan-pinned by
    tests/test_plans.py via its underlying operator;
  * per-stage survivor counts ride the caller's single sink action via
    ``DataFrame.observe`` — no extra count() jobs re-reading the corpus
    (the extract single-pass-lineage idea, operators/extract.py:224,
    applied at corpus granularity);
  * two explicit ``truncate_lineage`` stage boundaries: after the
    map-only gate chain (whose UDF/expression work would otherwise be
    re-executed by every multi-branch consumer downstream) and after
    exact dedup (the near-dedup consumes that frame three times —
    signatures, Jaccard verification, final anti-join). The round-5
    semdedup/pair_components lesson: cut every frame a loop or
    multi-branch consumer re-reads. At cluster scale set a checkpoint
    dir on the session (CLI ``prepare --checkpoint-dir``) and the
    boundaries become reliable checkpoints that survive executor loss;
  * near-dedup is ``dedup.ngram_jaccard_pairs`` over MinHash LSH
    candidates — the one candidate → verify composition (candidate cut,
    id-set semi-join, shingles for candidate rows only).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F

from .dedup import (
    drop_exact_duplicates,
    drop_near_duplicates,
    minhash_lsh_candidate_pairs,
    ngram_jaccard_pairs,
)
from .langid import with_language
from .repetition import with_gopher_repetition
from .textstats import with_gopher_flags, with_quality_score
from .webprep import (
    c4_line_filter,
    decontaminate,
    drop_duplicated_lines,
    drop_url_duplicates,
    scrub_pii,
)
from .xengine import truncate_lineage


@dataclass
class PrepareResult:
    """Prepared corpus plus its per-stage survivor counters.

    ``counts()`` is valid once any action over ``df`` (normally the
    caller's sink write) has run; the shuffle-bearing tail stages also
    fire the early observations eagerly at build time (component
    resolution materializes its edge frame)."""

    df: DataFrame
    observations: dict[str, Observation] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        return {k: int(o.get["n"]) for k, o in self.observations.items()}


def gate_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    langs: list[str] | None = None,
    gopher: bool = True,
    gopher_rep: bool = True,
    c4: bool = True,
    mark=lambda stage, d: d,
) -> DataFrame:
    """The pipeline's stateless gate chain — lang gate → Gopher shape →
    Gopher repetition → C4 lines — as ONE implementation; the recipe
    threads its observe counters through ``mark``. Output columns: the
    input's plus ``lang_id``."""
    out = with_language(df, text_col=text_col)
    if langs is not None:
        out = mark("lang", out.filter(F.col("lang_id").isin(list(langs))))
    if gopher:
        out = mark(
            "gopher",
            with_gopher_flags(out, text_col).filter(F.col("gopher_pass")),
        )
    if gopher_rep:
        out = mark(
            "gopher_rep",
            with_gopher_repetition(out, text_col).filter(
                F.col("gopher_rep_pass")
            ),
        )
    if c4:
        out = mark(
            "c4",
            c4_line_filter(out, text_col=text_col).filter(
                F.length(F.col(text_col)) > 0
            ),
        )
    return out.select(
        *df.columns, *(c for c in ("lang_id",) if c not in df.columns)
    )


def prepare_web_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str | None = "url",
    langs: list[str] | None = None,
    gopher: bool = True,
    gopher_rep: bool = True,
    c4: bool = True,
    line_dedup_min_docs: int | None = 2,
    jaccard_threshold: float = 0.8,
    keep_by: str | None = None,
    benchmark: DataFrame | None = None,
    pii: bool = True,
) -> PrepareResult:
    """documents → training-ready corpus, one job, stage counts observed.

    ``langs=None`` attaches ``lang_id`` without filtering; a list keeps
    only those languages. ``keep_by="quality_score"`` makes near-dedup
    keep the best-scoring member per duplicate component (RefinedWeb
    keep-best) instead of the min-id one. ``benchmark`` enables
    k-shingle eval-set decontamination. The stage boundaries are
    ``xengine.truncate_lineage`` cuts: reliable when the session has a
    checkpoint dir, local otherwise.

    Output columns: the input's, plus ``lang_id`` and ``quality_score``.
    """
    result = PrepareResult(df=df)

    def mark(stage: str, d: DataFrame) -> DataFrame:
        obs = Observation()
        result.observations[stage] = obs
        return d.observe(obs, F.count(F.lit(1)).alias("n"))

    out = mark("input", df)
    if url_col and url_col in df.columns:
        out = mark(
            "url_dedup", drop_url_duplicates(out, url_col=url_col, id_col=id_col)
        )
    # the shared gate chain already prunes to input columns + lang_id,
    # so only those are materialized at the first stage boundary
    out = gate_documents(
        out,
        text_col=text_col,
        langs=langs,
        gopher=gopher,
        gopher_rep=gopher_rep,
        c4=c4,
        mark=mark,
    )
    out = truncate_lineage(out)
    if line_dedup_min_docs:
        # the line-frequency rebuild aggregates by id and returns only
        # (id, text) — run it on that narrow projection (wide columns
        # never ride the explode) and join the rebuilt text back
        rebuilt = (
            drop_duplicated_lines(
                out.select(id_col, text_col),
                text_col=text_col,
                id_col=id_col,
                min_docs=line_dedup_min_docs,
            )
            .filter(F.length(F.col(text_col)) > 0)
            .select(id_col, text_col)
        )
        out = mark("line_dedup", out.drop(text_col).join(rebuilt, id_col))
    out = with_quality_score(out, text_col).select(
        *df.columns,
        *(c for c in ("lang_id", "quality_score") if c not in df.columns),
    )
    out = mark("exact_dedup", drop_exact_duplicates(out, text_col, id_col))
    out = truncate_lineage(out)
    cands = minhash_lsh_candidate_pairs(out, text_col, id_col)
    pairs = ngram_jaccard_pairs(
        out, text_col, id_col, threshold=jaccard_threshold, candidate_pairs=cands
    )
    out = mark(
        "near_dedup", drop_near_duplicates(out, pairs, id_col, keep_by=keep_by)
    )
    if benchmark is not None:
        out = mark(
            "decontaminate",
            decontaminate(out, benchmark, text_col=text_col, id_col=id_col),
        )
    if pii:
        out = scrub_pii(out, text_col=text_col)
    result.df = mark("output", out)
    return result
