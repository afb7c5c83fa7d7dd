"""Web-corpus preparation operators: the selection stages a
large-scale training-data pipeline runs between raw crawl and dedup —
per-domain caps, deterministic sampling, benchmark decontamination, PII
scrubbing. All pure DataFrame expressions (whole-stage codegen, no UDFs);
every operator has a DuckDB-oracled driver query (__spark_entry__).

Scale shapes:
  * cap_per_domain — one hash shuffle on domain + a window rank; the rank
    input is pre-reduced map-side by WindowGroupLimit (top-n per partition).
  * hash_sample — map-only filter on a content hash; sampling is
    reproducible across runs/engines (md5, not rand()).
  * decontaminate — shingle explode + broadcast semi-join against the
    (small) benchmark shingle set: the corpus shuffles nothing.
  * scrub_pii — map-only regexp_replace chain.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

# host part of an url — the SAME regexp runs in DuckDB (RE2) and Spark
# (Java regex): alternation/classes only, no lookaround
DOMAIN_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"

# deliberately simple, cross-engine-safe patterns (no backrefs/lookaround);
# the point is the scrub PLUMBING — swap in heavier patterns per deployment
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "(?:\\+?[0-9]{1,3}[-. ]?)?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
IPV4_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"


# md5-bucket resolution of mix_corpus / alpha_sample keep fractions
MIX_BUCKETS = 10000
# C4 line rule (Raffel et al. 2020 §2.2): keep lines ending in terminal
# punctuation with at least C4_MIN_WORDS words (the paper keeps lines of
# at least 5 words; this engine's gate, recipe and oracle use 3)
C4_MIN_WORDS = 3
# document terminator pack_token_sequences appends to every token stream
EOS_TOKEN = "[EOS]"


def extract_domain(url_col: str = "url") -> F.Column:
    """Lowercased host of an url; '' when the url has no scheme://host."""
    return F.lower(F.regexp_extract(F.col(url_col), DOMAIN_RE, 1))


def cap_per_domain(
    df: DataFrame,
    max_docs: int,
    *,
    url_col: str = "url",
) -> DataFrame:
    """Keep at most ``max_docs`` documents per domain, deterministically
    (url order — rerunning or re-partitioning never changes the keep set).

    The web analog of per-source quotas: a handful of mega-hosts otherwise
    dominate a crawl-derived corpus. One shuffle on the domain key; Spark
    inserts a map-side WindowGroupLimit so only ~max_docs rows per domain
    per partition reach the exchange.
    """
    w = Window.partitionBy(extract_domain(url_col).alias("_dom")).orderBy(url_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(max_docs))
        .drop("_rn")
    )


def hash_sample(
    df: DataFrame, keep_pct: int, *, key_col: str = "url", buckets: int = 100
) -> DataFrame:
    """Deterministic content-keyed sampling: keep rows whose md5(key) falls
    in the first ``keep_pct`` of ``buckets`` hash buckets.

    Unlike ``df.sample``, the decision is a pure function of the key — the
    same document is kept in every run, on every engine, at any
    parallelism (reproducible corpus recipes; md5 because DuckDB shares it
    bit-for-bit, see the driver oracle)."""
    from .xengine import md5_bucket

    return df.filter(md5_bucket(key_col, buckets) < int(keep_pct))


# scheme://host prefix of an url (query/fragment never start a host)
SCHEME_HOST_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"
# query params dropped at canonicalization time (analytics/click noise)
TRACKING_PARAM_RE = "^(?:utm_[^=&]*|gclid|fbclid|msclkid|ref)(?:=.*)?$"

# RFC 3986 §2.3 unreserved characters, keyed by their (uppercase-hex)
# percent-escape — escapes of these decode at canonicalization time
# (§6.2.2.2); every other escape only has its hex case normalized
_UNRESERVED_ESCAPES: dict[str, str] = {
    "%%%02X" % ord(c): c
    for c in (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "abcdefghijklmnopqrstuvwxyz"
        "0123456789-._~"
    )
}


def _pct_normalize(col: F.Column) -> F.Column:
    """RFC 3986 §6.2.2 percent-encoding normalization as a pure expression
    chain: uppercase the hex digits of every escape (%3a → %3A — two
    regexp passes per hex letter with a $1 backref, patterns in the
    Java∩RE2 subset), then decode escapes of the 66 unreserved characters
    (%7E → ~, %41 → A — literal replaces). Decoding an unreserved escape
    never produces '%', so the chain can't double-decode; '%25' stays
    escaped. Map-only, whole-stage codegen, idempotent."""
    for h in "abcdef":
        col = F.regexp_replace(col, "%" + h + "([0-9a-fA-F])", "%" + h.upper() + "$1")
    for h in "abcdef":
        col = F.regexp_replace(col, "%([0-9A-F])" + h, "%$1" + h.upper())
    for esc, ch in _UNRESERVED_ESCAPES.items():
        col = F.replace(col, F.lit(esc), F.lit(ch))
    return col


def _idn_hosts(urls: pd.Series) -> pd.Series:
    """Punycode non-ASCII hosts (IDNA ToASCII via the stdlib ``idna``
    codec) in already-canonicalized urls. ASCII hosts, schemeless strings
    and userinfo authorities pass through; hosts the codec rejects (empty
    labels, overlong) pass through unchanged — fail-soft like the rest of
    the url chain. Port suffixes are preserved."""
    import re

    host_re = re.compile(r"^([a-zA-Z][a-zA-Z0-9+.-]*://)([^/?#]*)(.*)$", re.DOTALL)

    def fix(u: str | None) -> str | None:
        if u is None:
            return None
        m = host_re.match(u)
        if not m:
            return u
        scheme, auth, rest = m.groups()
        if "@" in auth:
            return u  # userinfo is case/encoding-sensitive: untouched
        try:
            auth.encode("ascii")
            return u
        except UnicodeEncodeError:
            pass
        host, sep, port = auth.rpartition(":")
        if not sep or not port.isdigit():
            host, port = auth, ""
        else:
            port = ":" + port
        try:
            enc = host.encode("idna").decode("ascii")
        except UnicodeError:
            return u
        return scheme + enc + port + rest

    return urls.map(fix)


_idn_hosts_udf = None  # built lazily: F.pandas_udf at import slows cold start


def _get_idn_udf():
    global _idn_hosts_udf
    if _idn_hosts_udf is None:
        _idn_hosts_udf = F.pandas_udf(_idn_hosts, T.StringType())
    return _idn_hosts_udf


def canonicalize_url(
    df: DataFrame,
    *,
    url_col: str = "url",
    out_col: str | None = None,
    idn: bool = False,
) -> DataFrame:
    """Canonicalize urls so URL-level dedup keys agree across crawls:
    normalize percent-encoding (uppercase escape hex, decode unreserved
    escapes — RFC 3986 §6.2.2), drop the fragment, lowercase
    scheme://host (never the path — paths are case-sensitive), strip
    default ports (:80 http, :443 https) and trailing slashes, remove
    tracking params, sort the surviving query params bytewise.

    Map-only expression chain (zero shuffles); every regex is in the
    Java∩RE2 common subset so the driver oracle replays it in DuckDB.
    Schemeless strings pass through with only fragment/query/slash
    handling (nothing to lowercase). Authorities carrying userinfo
    (``user:pass@host``) are left untouched — userinfo is case-sensitive
    per RFC 3986, so lowercasing would collapse distinct resources.

    ``idn=True`` additionally punycodes non-ASCII hosts (IDNA ToASCII) so
    ``bücher.example`` and ``xn--bcher-kva.example`` share a dedup key.
    Spark has no builtin punycode, so this one stage is an Arrow-batched
    pandas UDF (the documented vectorized-UDF exception class, like
    unicode NFC) applied after the expression chain — still map-only; the
    default keeps the operator pure codegen for the ASCII-host fast
    path."""
    u0 = _pct_normalize(F.coalesce(F.col(url_col), F.lit("")))
    u = F.regexp_replace(u0, "#.*$", "")
    query = F.regexp_extract(u, "\\?(.*)$", 1)
    base = F.regexp_replace(u, "\\?.*$", "")
    sh_raw = F.regexp_extract(base, SCHEME_HOST_RE, 1)
    shl = F.lower(sh_raw)
    sh = (
        F.when(sh_raw.contains("@"), sh_raw)
        .when(shl.rlike("^http://.*:80$"), F.regexp_replace(shl, ":80$", ""))
        .when(shl.rlike("^https://.*:443$"), F.regexp_replace(shl, ":443$", ""))
        .otherwise(shl)
    )
    path = F.regexp_replace(
        base.substr(F.length(sh_raw) + 1, F.length(base)), "/+$", ""
    )
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    out = F.concat(
        sh,
        path,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )
    if idn:
        out = _get_idn_udf()(out)
    return df.withColumn(out_col or url_col, out)


def c4_line_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """C4-style line cleaning: keep only lines that end in terminal
    punctuation, carry at least ``C4_MIN_WORDS`` words, and don't look
    like code/boilerplate (``javascript``, ``lorem ipsum``, ``{``) — the
    sentence-level gate applied before document-level quality scoring.

    Entirely per-row array expressions (split → filter → rejoin): ZERO
    shuffles, unlike the cross-document line dedup. The norm is staged
    inside a struct so the HOF filter doesn't recompute lower(trim(l))
    per predicate term. Adds ``n_lines_kept`` / ``n_lines_dropped``.
    """
    out = out_col or text_col
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    staged = df.withColumn(
        "_lx",
        F.transform(
            lines, lambda l: F.struct(l.alias("raw"), F.lower(F.trim(l)).alias("n"))
        ),
    )
    from .xengine import WS_RE

    def keep(x):  # noqa: ANN001 - Column struct
        n = x["n"]
        return (
            n.rlike("""[.!?]["')\\]]*$""")
            # split on whitespace RUNS — a double space must not make a
            # 2-word line count as 3
            & (F.size(F.split(n, WS_RE)) >= C4_MIN_WORDS)
            & ~n.contains("javascript")
            & ~n.contains("lorem ipsum")
            & ~n.contains("{")
        )

    kept = F.filter(F.col("_lx"), keep)
    staged2 = staged.withColumn("_kept", kept)
    return (
        staged2.withColumn(
            out, F.concat_ws("\n", F.transform(F.col("_kept"), lambda x: x["raw"]))
        )
        .withColumn("n_lines_kept", F.size("_kept").cast("long"))
        .withColumn(
            "n_lines_dropped",
            (F.size("_lx") - F.size("_kept")).cast("long"),
        )
        .drop("_lx", "_kept")
    )


def filter_blocked_domains(df: DataFrame, blocked: list[str]) -> DataFrame:
    """Drop documents whose ``url`` host is a blocked domain OR any
    subdomain of one (``ads.example.com`` matches a blocked ``example.com``) — the
    crawl-pipeline blocklist gate (spam/adult/SEO-farm domain lists).
    Case-insensitive; NULL/schemeless urls have no host and are KEPT.

    Two physical shapes, picked by list size:
      * small lists compile into the filter expression (map-only);
      * large lists (the typical 10³–10⁵-entry curated blocklist) would
        build a Catalyst-killing O(n)-deep Or tree, so the DISTINCT hosts
        of the corpus (a narrow shuffle of short strings) explode into
        their dot-suffixes (``ads.example.com`` → itself, ``example.com``,
        ``com`` — bounded depth) and semi-join the broadcast blocklist;
        the corpus then anti-joins the surviving blocked-host set ON THE
        HOST ITSELF. Blocked-ness is a pure function of the host, so the
        join key is content-derived — no synthetic row ids whose values
        could differ between the two plan branches on recomputation — and
        the blocked-host set is small (blocklist ∩ corpus), so AQE
        broadcasts the anti-join and the corpus never shuffles.
    """
    dom = F.coalesce(extract_domain("url"), F.lit(""))
    if len(blocked) <= 64:
        hit = F.lit(False)
        for b in blocked:
            bl = b.lower()
            hit = hit | (dom == bl) | dom.endswith("." + bl)
        return df.filter(~hit)

    spark = df.sparkSession
    bl_df = F.broadcast(
        spark.createDataFrame(
            [(b.lower(),) for b in set(blocked)], "_blocked string"
        )
    )
    tagged = df.withColumn("_dom", dom)
    parts = F.split(F.col("_dom"), "\\.")
    suffixes = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(parts) - 1, F.lit(0))),
        lambda i: F.array_join(F.slice(parts, i + 1, F.size(parts) - i), "."),
    )
    blocked_doms = (
        tagged.select("_dom")
        .distinct()
        .select(F.col("_dom"), F.explode(suffixes).alias("_one"))
        .join(bl_df, F.col("_one") == F.col("_blocked"), "left_semi")
        .select("_dom")
        .distinct()
    )
    return tagged.join(blocked_doms, "_dom", "left_anti").drop("_dom")


def drop_url_duplicates(
    df: DataFrame, *, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup: canonicalize urls (fragments, tracking params,
    default ports, trailing slashes, host case) and keep the lowest-id
    document per canonical url — the standard first dedup pass of a crawl
    pipeline (re-crawls and tracking-param variants collapse before any
    content hashing runs).

    One shuffle on the canonical url; Spark inserts a map-side
    WindowGroupLimit so only one row per url per partition reaches the
    exchange. Deterministic (id order), reproducible at any parallelism.

    Documents with a NULL/empty url (canonical key '') are ALL kept —
    they aren't duplicates of each other, and routing them through the
    window would both drop them and funnel every keyless row into one
    skewed task.
    """
    canon = canonicalize_url(df, url_col=url_col, out_col="_canon")
    # keyless rows get a UNIQUE synthetic partition key (\x00 prefix — no
    # canonicalized url starts with a NUL) so one window pass keeps them
    # all, with no second scan (a filter+union re-reads the source) and
    # no skewed all-keyless partition
    key = F.when(
        F.col("_canon") == "",
        F.concat(F.lit("\x00"), F.col(id_col).cast("string")),
    ).otherwise(F.col("_canon"))
    w = Window.partitionBy(key).orderBy(id_col)
    return (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_canon")
    )


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    *,
    source_col: str = "source",
    key_col: str = "url",
) -> DataFrame:
    """Deterministic corpus mixing: keep each source at its target
    fraction (0..1) by content-keyed md5 buckets (``MIX_BUCKETS`` of
    them) — the per-source downsampling step of a training-data recipe
    (e.g. cap web at 0.3, keep curated sources whole). Sources absent
    from ``weights`` drop.

    Like hash_sample, the keep decision is a pure function of the key:
    reproducible across runs, engines and parallelism, and map-only (the
    weight table compiles into the filter expression — no join)."""
    from .xengine import md5_bucket

    if any(not (0.0 <= w <= 1.0) for w in weights.values()):
        raise ValueError("mix weights must be fractions in [0, 1]")
    thresh = F.lit(0)
    for src, frac in sorted(weights.items()):
        n_keep = int(round(frac * MIX_BUCKETS))
        if frac > 0.0 and n_keep == 0:
            # never silently quantize an explicit positive weight to
            # zero-keep — the caller meant to keep SOME of this source
            raise ValueError(
                f"weight {frac} for {src!r} rounds to 0 of {MIX_BUCKETS} buckets"
            )
        thresh = F.when(F.col(source_col) == src, F.lit(n_keep)).otherwise(thresh)
    return df.filter(md5_bucket(key_col, MIX_BUCKETS) < thresh)


def alpha_sampling_weights(
    counts: dict[str, int], *, alpha: float = 0.3, keep_frac: float = 0.5
) -> dict[str, float]:
    """Temperature-based group re-weighting (the multilingual
    alpha-sampling recipe of mBERT/XLM-R, Conneau et al. 2020: sample
    groups ∝ count^alpha instead of raw count, boosting low-resource
    languages): per-group keep fractions q_g with kept_g ∝ count_g^alpha
    subject to q_g ≤ 1, totalling ``keep_frac`` of the corpus. Groups
    whose boosted share exceeds their size cap at 1 and the surplus
    re-normalizes over the rest (waterfilling — iterates at most once
    per group). alpha=1 keeps every group at keep_frac; alpha=0 aims at
    equal KEPT counts per group; alpha=0.3 is the published XLM-R
    setting. Pure driver-side arithmetic on the (tiny) per-group count
    table; feed the result to ``mix_corpus`` (or use ``alpha_sample``)."""
    if not counts:
        return {}
    if not (0.0 <= alpha <= 1.0):
        raise ValueError("alpha must be in [0, 1]")
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError("keep_frac must be in (0, 1]")
    if any(c <= 0 for c in counts.values()):
        raise ValueError("group counts must be positive")
    target = keep_frac * sum(counts.values())
    # One pow per group, then only +-*/ and compares: kept_g = scale *
    # c^alpha, so the cap test is `scale * p_g >= c_g` and the weight is
    # `scale * p_g / c_g` — never pow(c, alpha-1). Beyond avoiding a
    # second transcendental, this makes alpha in {0, 1} (p_g = 1.0 / the
    # exact float of c_g) pure IEEE integer-float arithmetic that a SQL
    # oracle replays bit-identically (the mix_suite alpha arm).
    powers = {g: float(c) ** alpha for g, c in counts.items()}
    capped: set[str] = set()
    scale = 0.0
    while True:
        uncapped = [g for g in counts if g not in capped]
        remaining = target - sum(counts[g] for g in capped)
        if not uncapped or remaining <= 0:
            break
        denom = sum(powers[g] for g in uncapped)
        scale = remaining / denom
        newly = [g for g in uncapped if scale * powers[g] >= counts[g]]
        if not newly:
            break
        capped.update(newly)
    return {
        g: 1.0 if g in capped else min(1.0, scale * powers[g] / counts[g])
        for g in counts
    }


def alpha_sample(
    df: DataFrame,
    *,
    alpha: float = 0.3,
    keep_frac: float = 0.5,
    group_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic temperature re-sampling over a group column: one
    tiny groupBy-count to the driver, ``alpha_sampling_weights`` for the
    per-group fractions, then the ``mix_corpus`` md5-bucket filter —
    map-only over the corpus, reproducible across runs/engines/
    parallelism, and the group count table is group-cardinality-sized
    (languages, not documents) at any corpus scale.

    NULL groups coalesce to ``''`` and are weighted as one explicit
    group (the md5_bucket NULL-key convention) — never silently dropped,
    consistent with this function's own zero-quantize guard."""
    import math

    grp = "_alpha_grp"
    work = df.withColumn(
        grp, F.coalesce(F.col(group_col).cast("string"), F.lit(""))
    )
    counts = {
        r[grp]: r["count"] for r in work.groupBy(grp).count().collect()
    }
    weights = alpha_sampling_weights(counts, alpha=alpha, keep_frac=keep_frac)
    # Quantize each fraction to bucket resolution, half-up, BEFORE the
    # mix_corpus threshold: the keep set becomes a pure function of
    # (counts, alpha, keep_frac) with no float-rounding
    # ambiguity at bucket boundaries (floor(x + 0.5) has one semantics
    # everywhere; round() is banker's in Python, half-away in DuckDB).
    quant = {
        g: math.floor(w * MIX_BUCKETS + 0.5) / MIX_BUCKETS for g, w in weights.items()
    }
    zeroed = sorted(g for g, w in quant.items() if w == 0.0)
    if zeroed:
        # alpha-sampling never *intends* to drop a group outright
        raise ValueError(
            f"groups {zeroed} quantize to 0 of {MIX_BUCKETS} buckets; "
            f"raise `keep_frac` to express their weight"
        )
    return mix_corpus(work, quant, source_col=grp, key_col=key_col).drop(grp)


def pack_shards(
    df: DataFrame,
    budget: int,
    *,
    tokens_col: str = "n_tokens",
    groups: int = 64,
) -> DataFrame:
    """Token-budget sharding: assign each document to a training shard of
    ≈``budget`` tokens by streaming-concat packing — the deterministic
    analog of what a training-file writer does when it cuts the corpus
    into ~N-token files.

    Documents are first spread over ``groups`` md5-bucket groups (pure
    function of ``url`` — reproducible at any parallelism), then
    packed within each group in ``doc_id`` order: a document starts the
    next shard when the running total BEFORE it has filled the budget
    (``shard_idx = floor(cum_before / budget)``), so shards are
    contiguous id ranges within a group and a document never splits.

    One shuffle on the group key. Each group's window is a single task —
    size ``groups`` to the cluster (≈ 10⁵ at 100 TB), not to 64; the
    default fits the local test corpus.

    Budgets are denominated in whatever ``tokens_col`` holds: feed
    ``tokenize.tokenize_wordpiece``'s ``n_wordpiece_tokens`` for real
    tokenizer-token budgets (the whitespace/regex proxies under- and
    over-count by 2-3x on web text).
    """
    from .xengine import md5_bucket

    if int(budget) <= 0:
        raise ValueError(f"shard budget must be positive, got {budget}")
    grp = md5_bucket("url", groups)
    staged = df.withColumn("_grp", grp)
    w = (
        Window.partitionBy("_grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(F.col(tokens_col)).over(w) - F.col(tokens_col)
    return (
        staged.withColumn(
            "shard_idx", F.floor(cum_before / F.lit(int(budget))).cast("long")
        )
        .withColumnRenamed("_grp", "shard_group")
    )


def pack_token_sequences(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    key_col: str = "url",
    seq_len: int = 2048,
    groups: int = 64,
) -> DataFrame:
    """GPT-style sequence packing — the actual pretraining data layout:
    within each md5-bucket group the document token streams (each
    terminated by ``EOS_TOKEN``) are concatenated in ``id_col`` order and
    chopped into consecutive ``seq_len``-token sequences; documents span
    sequence boundaries (no padding waste), the group's final partial
    sequence is emitted short. ``pack_shards`` assigns whole documents
    to ≈budget files; this produces the fixed-width training EXAMPLES.

    Returns ``(shard_group, seq_idx, n_tokens, tokens)`` — one row per
    packed sequence, fully deterministic at any parallelism: group is a
    pure function of ``key_col``; order inside a group is ``id_col``
    with a token-content hash as the tie-break, so duplicate ids (a bad
    upstream union, ``id_col="url"``) still get a value-stable order —
    rows tied on BOTH keys are byte-identical, and swapping identical
    token arrays leaves the packed stream unchanged.

    Scale shape — ONE shuffle total (plan-pinned): the offset window
    moves the token arrays once, partitioned by group (size ``groups``
    to the cluster, ≈10⁵ at 100 TB, same rule as pack_shards); the
    posexplode emitting (group, global-position, token) rows is
    map-side — linear in corpus token count, like every shingle pass in
    this repo; and the groupBy(group, seq) rebuild needs NO second
    exchange because hashpartitioning(group) already clusters the
    (group, seq) groups. No global sort, no driver state.
    """
    from .xengine import md5_bucket

    if int(seq_len) <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    key = key_col if key_col in df.columns else id_col
    staged = df.select(
        md5_bucket(F.col(key).cast("string"), groups).alias("_grp"),
        F.col(id_col).alias("_id"),
        F.concat(F.col(tokens_col), F.array(F.lit(EOS_TOKEN))).alias("_toks"),
    )
    w = (
        Window.partitionBy("_grp")
        .orderBy("_id", F.xxhash64("_toks"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum(F.size("_toks")).over(w), F.lit(0))
    exploded = staged.withColumn("_off", offset).select(
        "_grp",
        "_off",
        F.posexplode("_toks").alias("_ti", "_tok"),
    ).select(
        "_grp",
        (F.col("_off") + F.col("_ti")).alias("_gpos"),
        "_tok",
    )
    seqs = exploded.withColumn(
        "_seq", F.floor(F.col("_gpos") / F.lit(int(seq_len))).cast("long")
    )
    xs = F.array_sort(F.collect_list(F.struct(F.col("_gpos"), F.col("_tok"))))
    return (
        seqs.groupBy("_grp", "_seq")
        .agg(xs.alias("_xs"))
        .select(
            F.col("_grp").alias("shard_group"),
            F.col("_seq").alias("seq_idx"),
            F.size("_xs").cast("long").alias("n_tokens"),
            F.transform("_xs", lambda x: x["_tok"]).alias("tokens"),
        )
    )


def benchmark_shingles(
    benchmark: DataFrame, *, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Distinct word k-shingles of the benchmark/eval set (the
    contamination keys). Small by construction — broadcast it."""
    from .dedup import word_shingles

    return (
        benchmark.select(F.explode(word_shingles(text_col, k)).alias("shingle"))
        .distinct()
    )


def _bloom_positions(m: int, n_hashes: int) -> F.Column:
    """The n_hashes Bloom bit positions of the ``shingle`` column —
    xxhash64(shingle, i) mod m, i = 0..n-1 (xxhash64's fixed seed plus a
    distinct literal second column per hash). The SAME expression feeds
    the build aggregation and the probe, so build/probe consistency is
    structural, not a convention."""
    return F.array(*[
        F.pmod(F.xxhash64(F.col("shingle"), F.lit(i)), F.lit(m))
        for i in range(n_hashes)
    ])


def build_shingle_bloom(
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    k: int = 8,
    bits_log2: int = 23,
    n_hashes: int = 6,
):
    """Bloom filter over the benchmark shingle set as a packed int64
    numpy array (m = 2**bits_log2 bits). The build is DISTRIBUTED: each
    shingle's bit positions are computed JVM-side, OR-folded per 64-bit
    word with a groupBy bit_or (partial agg map-side), and only the set
    words — at most m/64 longs (1 MB at the default 2^23, independent of
    eval-set size) — ever reach the driver. That is the 100 TB point:
    a 10-GB eval shingle set cannot broadcast, but its 2^30-bit Bloom
    image (128 MB) can."""
    import numpy as np

    m = 1 << bits_log2
    pos = benchmark_shingles(benchmark, text_col=text_col, k=k).select(
        F.explode(_bloom_positions(m, n_hashes)).alias("pos")
    )
    words = (
        pos.select(
            F.shiftright("pos", 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
            .alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    bits = np.zeros(m >> 6, dtype=np.int64)
    for r in words:
        bits[r["w"]] = r["word"]
    return bits


def _bloom_hit_udf(bits):
    """Arrow-batched membership test: all n_hashes bits set. The packed
    array rides in the closure (vectorized-UDF exception class: per-row
    random bit indexing has no builtin-expression form without planting
    a multi-MB array literal in the plan)."""
    import numpy as np

    bits_u = bits.view(np.uint64)

    @F.pandas_udf(T.BooleanType())
    def hit(pos_arr: pd.Series) -> pd.Series:
        if len(pos_arr) == 0:
            return pd.Series([], dtype=bool)
        mat = np.vstack(pos_arr.to_numpy())  # (rows, n_hashes) int64
        got = (bits_u[mat >> 6] >> (mat & 63).astype(np.uint64)) & np.uint64(1)
        return pd.Series(got.all(axis=1))

    return hit


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Drop documents sharing ANY word k-shingle with the benchmark set —
    eval-set decontamination, the standard guard against test-set leakage
    into training data. k=8 is the usual contamination n-gram size (long
    enough that natural collisions are rare, short enough to catch
    partial copies).

    The corpus side explodes to (id, shingle) and semi-joins the
    broadcast benchmark shingle set; the corpus itself never shuffles.
    For an eval set too large to broadcast, ``contamination_report``'s
    Bloom path carries the same exact semantics."""
    from .dedup import word_shingles

    bench = benchmark_shingles(benchmark, text_col=text_col, k=k)
    doc_shingles = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
    )
    contaminated = (
        doc_shingles.join(F.broadcast(bench), "shingle", "left_semi")
        .select(id_col).distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    method: str = "exact",
    bits_log2: int = 23,
    n_hashes: int = 6,
) -> DataFrame:
    """Per-document contamination accounting instead of a binary drop:
    (id, n_shingles, n_contaminated) over each doc's DISTINCT word
    k-shingles (word_shingles dedups within a doc, so the counts are the
    standard 'fraction of the document's n-grams seen in the eval set'
    measure — the published large-LM practice is to threshold on this
    overlap rather than drop on any single shared n-gram, because long
    documents share boilerplate n-grams with eval sets incidentally).

    ``method="exact"`` (default) semi-joins the broadcast benchmark
    shingle set. ``method="bloom"`` is the broadcast-hostile eval-set
    shape: a packed 2^bits_log2-bit Bloom image of the benchmark shingles
    rides in a UDF closure instead of the shingle strings, the exploded
    corpus is pre-filtered map-side (JVM-computed positions, one
    vectorized bit-test UDF), and only surviving CANDIDATE shingles reach
    the exact confirm semi-join, left un-hinted so AQE picks its strategy
    from the post-filter sizes; 10^8 shingles need ~2^30 bits (128 MB,
    ~0.5% fp at 6 hashes) vs ~10 GB of strings.

    Both methods return IDENTICAL counts (no false negatives by Bloom
    construction; false positives are removed by the exact confirm join;
    pinned by tests and the driver oracle). Scale shape: totals are one narrow groupBy (only the id
    rides past the explode); hits count the confirmed contaminated
    occurrences; the final join is narrow-table vs narrow-table."""
    from .dedup import word_shingles

    bench = benchmark_shingles(benchmark, text_col=text_col, k=k)
    doc_shingles = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("shingle")
    )
    if method == "bloom":
        bits = build_shingle_bloom(
            benchmark, text_col=text_col, k=k,
            bits_log2=bits_log2, n_hashes=n_hashes,
        )
        m = len(bits) * 64
        cand = doc_shingles.where(
            _bloom_hit_udf(bits)(_bloom_positions(m, n_hashes))
        )
        hits_src = cand.join(bench, "shingle", "left_semi")
    elif method == "exact":
        hits_src = doc_shingles.join(F.broadcast(bench), "shingle", "left_semi")
    else:
        raise ValueError(f"unknown method {method!r}")
    totals = doc_shingles.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = hits_src.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    return totals.join(hits, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
    )


def decontaminate_by_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    max_overlap_pct: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Threshold decontamination: drop documents whose DISTINCT-shingle
    overlap with the benchmark exceeds ``max_overlap_pct`` percent. The
    comparison is pure integers (n_contaminated * 100 > pct *
    n_shingles) so the keep set is bit-identical across engines — no
    float boundary. ``max_overlap_pct=0`` reproduces ``decontaminate``'s
    any-shared-shingle semantics exactly."""
    if not (0 <= max_overlap_pct < 100):
        raise ValueError("max_overlap_pct must be in [0, 100)")
    rep = contamination_report(
        docs, benchmark, text_col=text_col, id_col=id_col, k=k
    )
    bad = rep.where(
        F.col("n_contaminated") * 100 > F.lit(max_overlap_pct) * F.col("n_shingles")
    ).select(id_col)
    return docs.join(bad, id_col, "left_anti")


def drop_duplicated_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    out_col: str | None = None,
    sep: str = "\n",
) -> DataFrame:
    """Line-level boilerplate removal: drop every line whose normalized
    form (lower+trim) appears in ≥ ``min_docs`` DISTINCT documents, then
    reassemble each document in original line order. The standard crawl
    cleanup for nav bars / cookie banners / copyright footers that repeat
    across a site but aren't whole-document duplicates.

    ``sep`` picks the unit: ``"\\n"`` (default) dedups lines,
    ``"\\n\\n"`` dedups whole paragraphs/blocks (the RefinedWeb-style
    variant for templated paragraph boilerplate).

    Returns ``(id_col, out_col, n_lines_kept, n_lines_dropped)`` — one row
    per input row, empty string when every line was boilerplate.

    Scale shape (three shuffles, all on narrow rows):
      1. posexplode → groupBy(xxhash64(norm_line)) countDistinct(doc) —
         partial aggregation map-side; the heavy text column never rides
         past the explode projection, and the grouping key is an 8-byte
         hash instead of the line string itself (~5-10x narrower shuffle
         on prose; a 64-bit collision mislabels one line as boilerplate
         with p ≈ n²/2⁶⁵ — a handful of lines corpus-wide at 10¹⁰
         distinct lines, the standard trade for hash-keyed dedup).
      2. shuffle hash join of (id, pos, line) against the boilerplate set
         on the SAME hash key — co-partitioned with the aggregation's
         output, and the boilerplate side is the post-filter minority.
      3. groupBy(doc) rebuild — collect_list of (pos, line) structs,
         sorted in-task, concat_ws'd; no window, no global sort.
    Blank lines are structural, never dedup candidates.
    """
    import re as _re

    out = out_col or text_col
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            # F.split takes a regex but the rejoin uses sep literally —
            # escape so any separator (e.g. '|', '. ') means itself
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("_pos", "_line"),
    ).withColumn("_norm", F.lower(F.trim(F.col("_line"))))
    boiler = (
        lines.filter(F.col("_norm") != "")
        .select(F.xxhash64("_norm").alias("_k"), F.col(id_col))
        .groupBy("_k")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= int(min_docs))
        .select("_k", F.lit(True).alias("_dup"))
    )
    marked = (
        lines.withColumn("_k", F.xxhash64("_norm"))
        .join(boiler, "_k", "left")
        .withColumn("_keep", F.col("_dup").isNull())
    )
    xs = F.array_sort(F.collect_list(F.struct("_pos", "_keep", "_line")))
    # staged projection: _kept is referenced three times below and HOF
    # lambdas are NOT common-subexpression-eliminated across columns
    staged = (
        marked.groupBy(id_col)
        .agg(xs.alias("_xs"))
        .select(
            id_col,
            F.size("_xs").alias("_n"),
            F.filter(F.col("_xs"), lambda x: x["_keep"]).alias("_kept"),
        )
    )
    return staged.select(
        id_col,
        F.concat_ws(
            sep, F.transform(F.col("_kept"), lambda x: x["_line"])
        ).alias(out),
        F.size("_kept").cast("long").alias("n_lines_kept"),
        (F.col("_n") - F.size("_kept")).cast("long").alias("n_lines_dropped"),
    )


def normalize_unicode(df: DataFrame) -> DataFrame:
    """NFC-normalize the ``text`` column — the standard training-corpus
    canonicalization so byte-level dedup/hashing treats composed and
    decomposed sequences as one document.

    Arrow-batched pandas UDF: Spark has no built-in Unicode-normalization
    expression, so this is the documented vectorized-UDF exception; the
    driver oracle replays it with DuckDB's ``nfc_normalize``. NULLs pass
    through."""

    @F.pandas_udf(T.StringType())
    def norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return df.withColumn("text", norm(F.col("text")))


def scrub_pii(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Redact emails / phone numbers / IPv4s in ``text_col`` with typed
    placeholder tokens.

    Map-only regexp_replace chain (order matters: emails first so the
    phone pattern never eats an address's digits). Patterns are
    cross-engine-safe so the driver oracle replays them in DuckDB."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), EMAIL_RE, "<EMAIL>"),
            IPV4_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return df.withColumn(text_col, scrubbed)
