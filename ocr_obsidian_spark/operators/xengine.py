"""Cross-engine building blocks shared by operators AND their DuckDB
driver oracles (one definition each, so the two sides can't drift).

Whitespace: Java's ``\\s`` is ``[ \\t\\n\\x0B\\f\\r]`` but RE2's ``\\s``
omits ``\\x0B`` — a bare ``\\s`` in a pattern that both engines run is a
latent divergence on vertical-tab input. ``WS_CLASS`` spells the set out
(``\\xhh`` parses identically in Java regex and RE2), preserving Spark's
semantics bit-for-bit while pinning DuckDB to the same set.

md5 buckets: the deterministic content-keyed partitioner used by
hash_sample / mix_corpus / pack_shards — a pure function of the key, so
keep-sets and shard groups reproduce across runs, engines and any
parallelism. md5 is the one hash both engines share bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# exactly Java-regex \s, spelled explicitly for RE2 parity
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]"
WS_RE = WS_CLASS + "+"

# largest data-derived key set ``broadcast_if_small`` hints for broadcast
# (~2M keys ≈ low hundreds of MB on the driver); above it the join stays a
# regular join that AQE sizes from actual bytes
MAX_BROADCAST_ROWS = 2_000_000


def md5_bucket(key: str | Column, buckets: int) -> Column:
    """Bucket in [0, buckets): first 32 md5 bits of the key, mod buckets.

    NULL keys coalesce to ``''`` (empty and NULL keys share a bucket), so
    keyless rows get a real bucket instead of a NULL that silently fails
    every ``< thresh`` filter — hash_sample / mix_corpus keep-or-drop them
    as one deterministic group and pack_shards gives them a real
    shard_group, consistent with drop_url_duplicates keeping keyless rows.

    DuckDB twin: ``('0x' || substr(md5(coalesce(key, '')), 1, 8))::BIGINT
    % buckets``.
    """
    col = F.col(key) if isinstance(key, str) else key
    col = F.coalesce(col.cast("string"), F.lit(""))
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % buckets


def micro_log10_cost(p: float) -> int:
    """Quantize a probability to integer micro negative-log10 — the
    shared cross-engine cost unit: every model table (KN-bigram LM,
    NB language ID, unigram tokenizer) stores these integers as SQL
    VALUES literals, so scoring is exact 64-bit arithmetic in BOTH
    engines and no float ever enters a driver hash."""
    import math

    return round(-math.log10(p) * 1_000_000)


def sql_str_literal(s: str) -> str:
    """A single-quoted SQL string literal (quote doubling) — the one
    escape both engines' parsers share; used by every model_sql_tables
    VALUES emitter."""
    return "'" + s.replace("'", "''") + "'"


def truncate_lineage(df):
    """Eager lineage truncation at a stage boundary — the one place that
    picks the boundary mode, behind the recipe's stage cuts, the near-dup
    candidate cut, semdedup's assignment cut, dsir's scored-table cut and
    pair_components' edge and per-round cuts. Use it wherever a narrow
    table would otherwise carry a giant literal expression tree into every
    downstream operator (planning cost) or be re-executed by an iterative
    loop / multi-branch consumer (execution cost).

    The mode follows from the session: with a checkpoint dir set
    (``spark.sparkContext.setCheckpointDir``, CLI ``prepare
    --checkpoint-dir``) the table is written there with a reliable
    ``checkpoint`` that survives executor loss — the at-scale setting;
    otherwise ``localCheckpoint`` keeps the blocks on executors — fastest,
    but an executor loss mid-job fails the job on a real cluster."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def broadcast_if_small(df):
    """A data-derived key set (candidate ids, null urls) ready to join:
    materialized once with ``truncate_lineage`` (local or reliable, as
    the session decides) — the sizing count then reads the truncated
    blocks and the join reuses them, so the set is computed exactly
    once — and hinted ``F.broadcast`` only when it holds
    at most ``MAX_BROADCAST_ROWS`` rows. An adversarial input with a huge
    set degrades to a regular join instead of a driver OOM."""
    df = truncate_lineage(df)
    return F.broadcast(df) if df.count() <= MAX_BROADCAST_ROWS else df
