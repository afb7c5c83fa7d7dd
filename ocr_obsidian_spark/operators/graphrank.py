"""Host-graph link ranking — integer-exact PageRank power iteration.

Real web-corpus pipelines rank hosts/domains by link centrality and use
the rank as a crawl-priority and quality prior (Common Crawl publishes
host- and domain-level ranks computed from its link graph; Page et al.
1999 is the public algorithm). This module gives the corpus-side half:
``page_rank(edges)`` over a (src, dst) host-link table, plus
``host_link_edges`` to derive that table from crawled HTML.

Reference tie-in: the reference repo has no graph stage (it is a
single-corpus OCR cleaner); this is part of the LLM-data-pipeline
extension surface, like dedup.py / webprep.py.

Integer-exact by construction
-----------------------------
Ranks are kept in integer "scale units" (default 10^12 per node of
initial mass) and every update is 64-bit integer arithmetic:

    r0(n)   = scale
    r_t+1(n) = (scale * (den - num)) // den
               + (num * SUM over in-edges of (r_t(src) // outdeg(src))) // den

with damping num/den = 85/100. Truncating integer division on
non-negative operands is identical in Spark (``DIV``) and DuckDB
(``//``), and integer addition is order-independent — so a fixed
iteration count reproduces BIT-IDENTICAL ranks across engines and any
parallelism, something float PageRank cannot promise (float sums
reorder under shuffle). The driver oracle replays the same iterations
as unrolled materialized CTEs.

Semantics pinned by tests:
- node set = distinct(src) UNION distinct(dst); dangling nodes (no
  out-edges) receive rank but leak their mass (the standard simplified
  formulation — documented, consistent on both sides).
- parallel edges each carry a contribution (an implicit edge weight);
  callers wanting simple-graph semantics pass ``edges.distinct()``.
- self-loops are ordinary edges.

Scale shape (the 100 TB story): after ``host_link_edges`` collapses the
page-level graph to host level (one groupBy), the iteration state is
two narrow tables — (host, rank:long) and (host, outdeg:long). Each
iteration is one equi-join on src + one groupBy on dst + one left join
back to nodes, all on the same host key, so AQE coalesces and the wide
corpus never rides. Lineage is truncated every iteration
(xengine.truncate_lineage) — the round-5 semdedup lesson: an iterative
loop that re-joins an un-truncated DataFrame re-executes the whole
upstream pipeline each round and compounds planning cost.

Overflow bound: worst case a single node absorbs all mass, so ranks are
< N * scale and the update multiplies by ``num`` first — keep
``N * scale * num < 2^63`` (at scale=10^12, num=85: N < ~10^5 hosts; at
web scale use scale=10^9, good to ~10^8 hosts at micro-rank precision).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .xengine import truncate_lineage

__all__ = ["host_link_edges", "page_host", "page_rank", "page_rank_oracle_sql"]

# hrefs in single or double quotes; the tag regex keeps the name
# boundary rule (CLAUDE.md: `<a[^>]*>` would match `<abbr>`) AND an
# attribute boundary before href (`<a\s[^>]*href` would match the href
# suffix of data-href/xlink:href and extract the wrong URL); stays in
# the Java∩RE2 subset so an oracle twin could replay it.
_HREF_RE = r"(?i)<a\s(?:[^>]*\s)?href\s*=\s*[\"']([^\"']*)[\"']"


def page_host(url_col: str = "url") -> Column:
    """Lowercased host of a page url — THE shared key expression for
    the host graph. host_link_edges builds edge endpoints with it and
    the CLI rank stage joins ranks back to docs with it; one definition
    so the join key cannot drift."""
    return F.lower(
        F.regexp_extract(F.col(url_col), r"(?i)^[a-z]+://([^/]+)", 1)
    )


def host_link_edges(
    df: DataFrame,
    *,
    url_col: str = "url",
    html_col: str = "html",
    out_col_src: str = "src",
    out_col_dst: str = "dst",
) -> DataFrame:
    """(page url, html) -> distinct host-level link edges (src, dst).

    Map-side per page: extract absolute http(s) hrefs, take each
    target's host (lowercased), pair with the page's own host; then one
    distinct. Relative links have no host and are dropped — host-graph
    ranking only cares about cross-host endorsement, and keeping
    same-host self-loops from relative links would just add a uniform
    self-edge. The page-level explode collapses to host pairs BEFORE
    the distinct so the shuffle carries (host, host) pairs, not urls.
    """
    hrefs = F.regexp_extract_all(
        F.col(html_col).cast("string"), F.lit(_HREF_RE), F.lit(1)
    )
    target_host = F.lower(
        F.regexp_extract(F.col("href"), r"(?i)^https?://([^/]+)", 1)
    )
    return (
        df.select(
            page_host(url_col).alias(out_col_src), F.explode(hrefs).alias("href")
        )
        .select(out_col_src, target_host.alias(out_col_dst))
        .where((F.col(out_col_dst) != "") & (F.col(out_col_src) != ""))
        .distinct()
    )


def page_rank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    node_col: str = "node",
    rank_col: str = "rank_i",
) -> DataFrame:
    """Integer-exact PageRank over a (src, dst) edge table.

    Returns (node, rank_i:long) for every node appearing as a src or
    dst. rank_i is in scale units (initial mass = ``scale`` per node);
    relative order and ratios are what callers consume. Deterministic
    and bit-identical across engines/parallelism — see module docstring.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")

    src = F.col(src_col)
    dst = F.col(dst_col)
    e = edges.select(src.alias("src"), dst.alias("dst"))
    # nodes is re-joined EVERY iteration — truncate it once, or each
    # iteration re-executes the 2-scan union + distinct (the
    # pair_components lesson: cut every DataFrame an iterative loop
    # re-joins; measured 2M-edge probe before/after in BENCH/SCALING_GRAPH)
    nodes = truncate_lineage(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # contributions divide by outdeg per edge, so pre-join deg once and
    # truncate: the per-iteration join then touches only narrow columns.
    edeg = truncate_lineage(e.join(deg, "src"))
    teleport = (scale * (damping_den - damping_num)) // damping_den

    # initial ranks need no cut of their own: they are a trivial
    # projection of the already-truncated nodes and are consumed once
    ranks = nodes.withColumn("r", F.lit(scale).cast("long"))
    for _ in range(iters):
        insum = (
            edeg.join(ranks, edeg["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), F.expr("r DIV deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("insum"))
        )
        ranks = (
            nodes.join(insum, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + F.expr(
                        f"({damping_num} * coalesce(insum, 0L)) DIV {damping_den}"
                    )
                ).alias("r"),
            )
        )
        ranks = truncate_lineage(ranks)
    return ranks.select(F.col("node").alias(node_col), F.col("r").cast("long").alias(rank_col))


def page_rank_oracle_sql(
    edges_sql: str,
    *,
    iters: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    node_col: str = "node",
    rank_col: str = "rank_i",
) -> str:
    """DuckDB twin: the SAME integer iteration unrolled as materialized
    CTEs (the Viterbi-oracle pattern — every multiply-referenced CTE is
    AS MATERIALIZED or DuckDB inlines it exponentially). ``edges_sql``
    must yield columns (src, dst)."""
    teleport = (scale * (damping_den - damping_num)) // damping_den
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "edeg AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e"
        " JOIN deg d ON e.src = d.src)",
        f"r0 AS MATERIALIZED (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes)",
    ]
    for t in range(1, iters + 1):
        # DuckDB SUM(BIGINT) widens to HUGEINT (which pandas renders as
        # float64) — compute the damped product in HUGEINT for headroom,
        # then CAST the per-node rank back to BIGINT (safe per the
        # overflow bound in the module docstring).
        parts.append(
            f"r{t} AS MATERIALIZED (SELECT n.node, CAST(CAST({teleport} AS HUGEINT)"
            f" + ({damping_num} * COALESCE(s.insum, 0)) // {damping_den}"
            " AS BIGINT) AS r"
            " FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, SUM(r.r // e.deg) AS insum"
            f" FROM edeg e JOIN r{t - 1} r ON e.src = r.node"
            " GROUP BY e.dst) s ON n.node = s.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node AS {node_col}, r AS {rank_col} FROM r{iters}"
    )
