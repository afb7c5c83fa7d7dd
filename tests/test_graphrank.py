"""Host-graph PageRank: integer-exact semantics, a hand-computed
fixed point, the DuckDB oracle twin, and edge extraction from HTML."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from ocr_obsidian_spark.operators.graphrank import (
    host_link_edges,
    page_rank,
    page_rank_oracle_sql,
)


def _rank_dict(df):
    return {r["node"]: r["rank_i"] for r in df.collect()}


def _py_pagerank(edges, iters, num=85, den=100, scale=10**12):
    """Independent driver-side replay of the documented integer update."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    teleport = (scale * (den - num)) // den
    r = {n: scale for n in nodes}
    for _ in range(iters):
        insum = {n: 0 for n in nodes}
        for s, d in edges:
            insum[d] += r[s] // deg[s]
        r = {n: teleport + (num * insum[n]) // den for n in nodes}
    return r


def test_page_rank_matches_python_replay(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"),               # d is a source-only node
        ("a", "e"),               # e is dangling (no out-edges)
        ("b", "b"),               # self-loop
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = _rank_dict(page_rank(df, iters=5))
    want = _py_pagerank(edges, iters=5)
    assert got == want
    # dangling node received rank, source-only node holds only teleport+decay
    assert got["e"] > 0 and "d" in got


def test_page_rank_zero_iters_is_initial_mass(spark):
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    got = _rank_dict(page_rank(df, iters=0, scale=1000))
    assert got == {"a": 1000, "b": 1000}


def test_page_rank_parallel_edges_are_weights(spark):
    # two a->b edges: a's outdeg is 2, both contributions land on b
    df = spark.createDataFrame([("a", "b"), ("a", "b")], ["src", "dst"])
    got = _rank_dict(page_rank(df, iters=1, scale=1000))
    want = _py_pagerank([("a", "b"), ("a", "b")], iters=1, scale=1000)
    assert got == want


def test_page_rank_deterministic_across_parallelism(spark):
    edges = [(f"h{i % 13}", f"h{(i * 7 + 3) % 13}") for i in range(200)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    one = _rank_dict(page_rank(df.coalesce(1), iters=4))
    many = _rank_dict(page_rank(df.repartition(16), iters=4))
    assert one == many


def test_page_rank_oracle_twin_bit_identical(spark):
    edges = [(f"h{i % 11}", f"h{(i * i + 1) % 17}") for i in range(150)]
    df = spark.createDataFrame(edges, ["src", "dst"]).distinct()
    got = _rank_dict(page_rank(df, iters=5))

    con = duckdb.connect()
    con.execute("CREATE TABLE e (src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?)", sorted(set(edges)))
    sql = page_rank_oracle_sql("SELECT src, dst FROM e", iters=5)
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_page_rank_rejects_bad_params(spark):
    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with pytest.raises(ValueError):
        page_rank(df, iters=-1)


def test_host_link_edges_extraction(spark):
    rows = [
        (
            "https://alpha.test/page/1",
            b'<p>x</p><a href="https://beta.test/a">b</a>'
            b"<A HREF='http://gamma.test:8080/x?y=1'>g</A>"
            b'<a class="z" href="/relative/skipped">r</a>'
            b'<abbr href="https://not-an-anchor.test/">no</abbr>',
        ),
        # duplicate target from a second page on the same host -> distinct
        ("https://alpha.test/page/2", b'<a href="https://beta.test/other">b</a>'),
        ("https://beta.test/", b'<a href="HTTPS://ALPHA.test/back">a</a>'),
        # data-href must NOT be read as href (attribute boundary): the
        # only real href here is relative -> no edge from this page
        (
            "https://delta.test/",
            b'<a data-href="https://tracker.test/x" href="/rel">t</a>',
        ),
        # ...but a real href after other attributes still extracts
        (
            "https://delta.test/2",
            b'<a data-href="https://tracker.test/x" href="https://beta.test/y">ok</a>',
        ),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {(r["src"], r["dst"]) for r in host_link_edges(df).collect()}
    assert got == {
        ("alpha.test", "beta.test"),
        ("alpha.test", "gamma.test:8080"),
        ("beta.test", "alpha.test"),
        ("delta.test", "beta.test"),
    }
