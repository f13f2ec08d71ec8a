"""Host link graph + fixed-point PageRank (operators/linkgraph.py)."""

import pytest
from pyspark.sql import functions as F

from no_ocr_spark.operators import linkgraph as lg


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src_host string, dst_host string, w long")


def test_extract_handles_relative_fragment_and_malformed_hrefs(spark):
    html = (
        b"<html><body>"
        b'<a href="http://a.example/x">ok</a>'
        b'<a href="https://B.EXAMPLE:8443/y">port+case</a>'
        b'<a href="/relative">rel</a>'
        b'<a href="#frag">frag</a>'
        b'<a href="mailto:x@y">mail</a>'
        b"<a>no-href</a>"
        b'<a href="http://">empty-host</a>'
        b"</body></html>"
    )
    pages = spark.createDataFrame(
        [("http://src.example/p", bytearray(html))], lg.PAGES_LINKS_SCHEMA
    )
    got = sorted(
        (r.src_host, r.dst_host)
        for r in lg.extract_host_links(pages).collect()
    )
    assert got == [("src.example", "a.example"), ("src.example", "b.example")]


def test_null_html_row_yields_no_links(spark):
    pages = spark.createDataFrame(
        [("http://s.example/p", None)], lg.PAGES_LINKS_SCHEMA
    )
    assert lg.extract_host_links(pages).count() == 0


def test_host_edges_drops_self_links_and_weights(spark):
    links = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("a", "a"), ("b", "a")],
        "src_host string, dst_host string",
    )
    rows = {(r.src_host, r.dst_host): r.w for r in lg.host_edges(links).collect()}
    assert rows == {("a", "b"): 2, ("b", "a"): 1}


def test_pagerank_rank_mass_conserved_up_to_integer_dust(spark):
    # strongly-connected triangle: damped mass never leaks, so the total
    # stays SCALE minus only integer-division dust (< n_verts + n_edges
    # per iteration)
    e = _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    init = lg.SCALE // 3
    tele = (15 * lg.SCALE) // (100 * 3)
    ranks = lg.pagerank_fixed_point(e, init_rank=init, teleport=tele)
    total = ranks.agg(F.sum("rank_s")).collect()[0][0]
    dust_bound = lg.K_ITERS * (3 + 3) * 2
    assert lg.SCALE - dust_bound <= total <= lg.SCALE
    # symmetric cycle => equal ranks
    vals = {r.rank_s for r in ranks.collect()}
    assert len(vals) == 1


def test_pagerank_sink_host_gets_teleport_only(spark):
    # b has no out-edge handling needed (dangling leaks, disclosed); a host
    # with NO in-edges must sit exactly at the teleport floor
    e = _edges(spark, [("a", "b", 1)])
    ranks = {
        r.host: r.rank_s
        for r in lg.pagerank_fixed_point(
            e, init_rank=lg.SCALE // 2, teleport=7
        ).collect()
    }
    assert ranks["a"] == 7  # no in-links: teleport floor
    assert ranks["b"] > ranks["a"]


def test_pagerank_prefers_heavily_linked_host(spark):
    e = _edges(
        spark,
        [("a", "hub", 3), ("b", "hub", 3), ("c", "hub", 3),
         ("hub", "a", 1), ("a", "b", 1), ("b", "c", 1), ("c", "a", 1)],
    )
    init = lg.SCALE // 4
    tele = (15 * lg.SCALE) // (100 * 4)
    ranks = {
        r.host: r.rank_s
        for r in lg.pagerank_fixed_point(e, init_rank=init, teleport=tele).collect()
    }
    assert ranks["hub"] == max(ranks.values())


def test_pagerank_bit_identical_across_parallelism(spark):
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, lg.q_host_pagerank(spark, sf).collect()))
    b = sorted(
        map(
            tuple,
            lg.pagerank_fixed_point(
                lg.q_host_link_graph(spark, sf).repartition(13),
                init_rank=lg.SCALE // lg.HOSTS,
            ).collect(),
        )
    )
    assert a == b


def test_anchor_text_extraction_normalizes_and_skips_empty(spark):
    html = (
        b"<html><body>"
        b'<a href="http://a.example/x"><b>bold</b>\n  tail  text</a>'
        b'<a href="http://b.example/y"></a>'          # empty text: skipped
        b'<a href="/rel">relative skipped</a>'
        b'<a href="http://c.example/z">  spaced\t\tout  </a>'
        b"</body></html>"
    )
    pages = spark.createDataFrame(
        [("http://src.example/p", bytearray(html))], lg.PAGES_LINKS_SCHEMA
    )
    got = sorted(
        (r.dst_host, r.anchor)
        for r in lg.extract_anchor_texts(pages).collect()
    )
    assert got == [("a.example", "bold tail text"),
                   ("c.example", "spaced out")]


def test_anchor_text_topk_is_bounded_and_ranked(spark):
    rows = lg.q_anchor_text_topk(spark, "/root/testdata/sf0.001").collect()
    assert rows
    per_host = {}
    for r in rows:
        per_host.setdefault(r.dst_host, []).append((r.rnk, r.cnt, r.anchor))
    for host, lst in per_host.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= lg.TOP_ANCHORS
        cnts = [x[1] for x in lst]
        assert cnts == sorted(cnts, reverse=True)
