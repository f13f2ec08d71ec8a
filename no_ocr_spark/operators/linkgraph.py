"""Host-level link graph + PageRank — the canonical web-scale iterative
pipeline over crawled pages (extract <a href> outlinks from HTML with the
from-scratch DOM parser, aggregate to a weighted host->host graph, rank
hosts by fixed-point PageRank).

Why it belongs here: the reference ingests documents one-by-one
(no-ocr-api/np_ocr/data.py); a crawl-scale ingest must PRIORTIZE which
hosts to extract first, and host PageRank over the link graph is the
standard signal (Page et al. 1999; Common Crawl publishes exactly this
artifact as its host-level webgraph ranking). Pairs with the existing
iterative operator (graph.py connected components) as the second classic
iterative-DataFrame pattern.

Spark realization, scale-first:

  * outlink extraction is one Arrow-batched mapInPandas over the pages
    table (the SAME from-scratch tokenizer/DOM stack the extractor uses;
    zero per-row Python dispatch), emitting (url, dst_host) anchor rows;
    src_host is derived relationally from the url column by codegen
    regexp — Python never touches it;
  * the host graph is one groupBy (src_host, dst_host) -> weight. Hosts
    are ~1e7 at crawl scale vs 1e12 pages: the graph table is 5 orders
    of magnitude smaller than its input, so everything after the first
    aggregation is cheap;
  * PageRank runs in FIXED-POINT INTEGER arithmetic (rank scaled by
    10^12, integer div): bigint sums are order-independent, so the
    result is bit-identical across partitionings, engines, and cluster
    sizes — float PageRank is not (sum order), which is why the oracle
    can demand exact equality. K iterations are unrolled lazily (no
    convergence .count() per round -> composing the query fires no
    Spark job); production at 1e7+ hosts computes the teleport
    constant from a vertex count instead of the synthesis constant.
  * per-iteration contribution of u to v is (rank(u) div out_w(u)) * w —
    div-then-multiply, the exact form the oracle replays. Rank mass lost
    to integer truncation stays lost (dust < n_edges per round,
    disclosed); dangling hosts (no outlinks) leak their damped mass as
    classic simplified PageRank does — both engines apply the same rule.

Corpus: pages_with_links synthesizes the BASELINE.json page shape from
the documents table with a deterministic arithmetic link rule (doc d on
host (d % 23) anchors to hosts ((d%23) + (d//23)%7 + 3j + 1) % 23 for
j=0,1,2, self-links dropped) — so the DuckDB oracle regenerates the
edge list in closed form WITHOUT parsing HTML, and parity proves the
whole parse -> graph -> iterate chain end to end.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

HOSTS = 23          # synthesis constant: number of hosts in the corpus
N_LINKS = 3         # anchors per page
SCALE = 10**12      # fixed-point rank scale
DAMP_NUM, DAMP_DEN = 85, 100   # damping 0.85 as an exact ratio
K_ITERS = 8         # fixed iteration count (snapshot, not convergence)
# teleport term (1-d)/N, pre-scaled; integer-exact and shared with the oracle
TELEPORT = (15 * SCALE) // (100 * HOSTS)

PAGES_LINKS_SCHEMA = "url string, html binary"
_LINK_SCHEMA = "url string, dst_host string"


def _page_html(doc_id: int, text: str) -> bytes:
    """Deterministic page: body text + a <nav> of host anchors. Anchor
    TEXT follows its own arithmetic rule (`h{k} t{(doc_id+j) % 5}`) so
    the anchor-text aggregation below has a closed-form oracle too."""
    h = doc_id % HOSTS
    anchors = []
    for j in range(N_LINKS):
        k = (h + (doc_id // HOSTS) % 7 + 3 * j + 1) % HOSTS
        if k != h:  # self-links dropped at authoring time (oracle mirrors)
            anchors.append(
                f'<a href="http://host{k}.example/">'
                f'h{k} t{(doc_id + j) % 5}</a>'
            )
    html = (
        f"<!DOCTYPE html><html><head><title>doc{doc_id}</title></head>"
        f"<body><p>{text}</p><nav>{''.join(anchors)}</nav></body></html>"
    )
    return html.encode("utf-8")


def pages_with_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (url, html) pages whose bodies carry real anchor tags.

    Fans out before the synthesis mapInPandas, so page synthesis and every
    downstream DOM stage (link extraction, WAT metadata, the WAT sink) use
    every core — measured 9.8s for the sf=1 DOM pass in one scan task,
    ~0.6s fanned out."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)

    def to_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            urls, htmls = [], []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                d = int(doc_id)
                urls.append(f"http://host{d % HOSTS}.example/doc{d}")
                htmls.append(_page_html(d, text if isinstance(text, str) else ""))
            yield pd.DataFrame({"url": urls, "html": htmls})

    return docs.mapInPandas(to_pages, schema=PAGES_LINKS_SCHEMA)


def _title_and_anchors(html: bytes) -> tuple[str, list[tuple[str, str]]]:
    """One DOM parse and one walk -> (title, anchor pairs): the first
    <title> node's own strings, and every (href, anchor text) pair in
    document order, anchor text being the <a> subtree's concatenated
    strings; both whitespace-collapsed."""
    import re

    from no_ocr_spark.extract.dom import parse

    def collapse(parts) -> str:
        return re.sub(r"\s+", " ", "".join(parts)).strip()

    def subtree_text(node) -> str:
        parts: list[str] = []
        stk = [node]
        while stk:
            n = stk.pop()
            if isinstance(n, str):
                parts.append(n)
                continue
            stk.extend(reversed(n.children))
        return collapse(parts)

    title = None
    out: list[tuple[str, str]] = []
    stack = [parse(html)]
    while stack:
        node = stack.pop()
        if isinstance(node, str):
            continue
        if node.name == "title" and title is None:
            title = collapse(c for c in node.children if isinstance(c, str))
        elif node.name == "a" and "href" in node.attrs:
            out.append((node.attrs["href"], subtree_text(node)))
        stack.extend(reversed(node.children))
    return title or "", out


def _hrefs(html: bytes) -> list[str]:
    """All <a href> values in document order."""
    return [href for href, _ in _title_and_anchors(html)[1]]


def extract_host_links(pages: DataFrame) -> DataFrame:
    """(url, html) -> (src_host, dst_host) one row per http(s) anchor.

    The Python stage only parses HTML (Arrow-batched); src-host parsing
    from the url column stays JVM-side codegen.
    """

    def links(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            urls, dsts = [], []
            for url, html in zip(b["url"], b["html"]):
                payload = bytes(html) if html is not None else b""
                for href in _hrefs(payload):
                    if not href.startswith(("http://", "https://")):
                        continue  # relative/fragment links carry no host
                    host = href.split("/", 3)[2].split(":", 1)[0].lower()
                    if host:
                        urls.append(url)
                        dsts.append(host)
            yield pd.DataFrame({"url": urls, "dst_host": dsts})

    raw = pages.mapInPandas(links, schema=_LINK_SCHEMA)
    return raw.select(
        F.regexp_extract("url", r"^https?://([^/:]+)", 1).alias("src_host"),
        "dst_host",
    )


def host_edges(links: DataFrame) -> DataFrame:
    """(src_host, dst_host) anchor rows -> weighted edge list."""
    return (
        links.filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("w"))
    )


def pagerank_fixed_point(
    edges: DataFrame,
    init_rank: int,
    iters: int = K_ITERS,
    teleport: int = TELEPORT,
) -> DataFrame:
    """Weighted host PageRank in exact bigint arithmetic.

    (src_host, dst_host, w) -> (host, rank_s); rank_s is the fixed-point
    rank (scale SCALE). Lazy: composing builds one DAG with the K
    iterations unrolled.

    The edge table is cache()d here (lazily — no job at compose): every
    iteration references it, and without a materialization point AQE
    re-executes the whole upstream extraction per reference (measured:
    71 MapInPandas stages for K=8 before, 1 after). The host graph is
    ~5 orders of magnitude smaller than the pages table, so pinning it
    is exactly the production move; callers that iterate further own
    unpersist().
    """
    edges = edges.cache()
    # vertex set is referenced every round (rank re-join): pin it, or each
    # iteration re-runs the union-distinct's two shuffles
    verts = (
        edges.select(F.col("src_host").alias("v"))
        .union(edges.select(F.col("dst_host").alias("v")))
        .distinct()
        .cache()
    )
    outw = edges.groupBy("src_host").agg(F.sum("w").alias("ow"))
    # Edge table annotated with its source's total out-weight, pre-hashed
    # on src and pinned: every iteration joins on src, so the (at scale,
    # large) edge side shuffles exactly ONCE here — each round then moves
    # only the vertex-sized rank table. rank itself exits every round
    # hash-partitioned on v by its groupBy, so the join's other side
    # reuses that layout too.
    ew = (
        edges.join(outw, "src_host")
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"),
                "w", "ow")
        .repartition("src")
        .cache()
    )
    zero_seed = verts.select("v", F.lit(0).cast("long").alias("c"))
    rank = verts.select("v", F.lit(int(init_rank)).cast("long").alias("r"))
    for _ in range(iters):
        # seeding a zero-mass row per vertex folds the "no in-links ->
        # teleport floor" left join into the aggregation itself: one
        # stage fewer per round, identical values (sum with 0 == coalesce)
        contrib = (
            ew.join(rank, ew.src == rank.v)
            .select(F.col("dst").alias("v"), F.expr("(r div ow) * w").alias("c"))
            .unionByName(zero_seed)
            .groupBy("v")
            .agg(F.sum("c").alias("c"))
        )
        rank = contrib.select(
            "v",
            (
                F.lit(int(teleport)).cast("long")
                + F.expr(f"({DAMP_NUM} * c) div {DAMP_DEN}")
            ).alias("r"),
        )
    return rank.select(F.col("v").alias("host"), F.col("r").alias("rank_s"))


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """(url, html) -> (dst_host, anchor) one row per non-empty-text
    http(s) anchor — the classic query-independent relevance signal:
    what the WEB calls a page (host), aggregated over all inlinks.
    Same Arrow-batched DOM stage as the edge extraction."""

    def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            dsts, texts = [], []
            for html in b["html"]:
                payload = bytes(html) if html is not None else b""
                for href, t in _title_and_anchors(payload)[1]:
                    if not href.startswith(("http://", "https://")):
                        continue
                    host = href.split("/", 3)[2].split(":", 1)[0].lower()
                    if host and t:
                        dsts.append(host)
                        texts.append(t)
            yield pd.DataFrame({"dst_host": dsts, "anchor": texts})

    return pages.select("html").mapInPandas(
        rows, schema="dst_host string, anchor string"
    )


TOP_ANCHORS = 3


def q_anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per target host: the TOP_ANCHORS most frequent anchor texts
    pointing at it (ties broken lexicographically — deterministic).

    Scale shape: one Arrow extraction stage -> one groupBy(dst_host,
    anchor) count (the only corpus-sized shuffle; map-side partial agg
    collapses repeated anchors before the exchange — anchor text is
    low-cardinality per host by nature) -> per-host top-k, which Spark
    plans as WindowGroupLimit (the limit is pushed into the sort, no
    full per-host materialization). Production adds a length cap on the
    anchor column before grouping; the authored corpus is already short.
    """
    from pyspark.sql import Window

    pages = pages_with_links(spark, sf_dir)
    counts = (
        extract_anchor_texts(pages)
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.desc("cnt"), F.asc("anchor")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_ANCHORS)
    )


def q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return host_edges(extract_host_links(pages_with_links(spark, sf_dir)))


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = q_host_link_graph(spark, sf_dir)
    return pagerank_fixed_point(edges, init_rank=SCALE // HOSTS)


QUERIES = {
    "host_link_graph": q_host_link_graph,
    "host_pagerank": q_host_pagerank,
    "anchor_text_topk": q_anchor_text_topk,
}


# closed-form regeneration of the authored link rule (no HTML parse)
_EDGES_CTE = f"""
        WITH links AS (
          SELECT doc_id % {HOSTS} AS h,
                 ((doc_id % {HOSTS}) + ((doc_id // {HOSTS}) % 7)
                  + 3 * j + 1) % {HOSTS} AS k
          FROM documents,
               (SELECT unnest(generate_series(0, {N_LINKS - 1})) AS j)
        ),
        edges AS (
          SELECT 'host' || h || '.example' AS src_host,
                 'host' || k || '.example' AS dst_host,
                 count(*) AS w
          FROM links WHERE k <> h GROUP BY 1, 2
        )"""


def _pagerank_sql() -> str:
    """K unrolled iterations of the identical integer recurrence."""
    init = SCALE // HOSTS
    cte = [
        _EDGES_CTE,
        """,
        verts AS (
          SELECT src_host AS v FROM edges
          UNION SELECT dst_host FROM edges
        ),
        ew AS (
          SELECT e.src_host AS src, e.dst_host AS dst, e.w, o.ow
          FROM edges e JOIN (
            SELECT src_host, sum(w) AS ow FROM edges GROUP BY 1
          ) o ON e.src_host = o.src_host
        ),""",
        f"pr0 AS (SELECT v, CAST({init} AS BIGINT) AS r FROM verts)",
    ]
    for i in range(K_ITERS):
        cte.append(f""",
        pr{i + 1} AS (
          SELECT verts.v,
                 {TELEPORT} + ({DAMP_NUM} * COALESCE(s.c, 0)) // {DAMP_DEN} AS r
          FROM verts LEFT JOIN (
            SELECT ew.dst AS v, sum((p.r // ew.ow) * ew.w) AS c
            FROM pr{i} p JOIN ew ON ew.src = p.v
            GROUP BY 1
          ) s ON verts.v = s.v
        )""")
    # sum() promotes to HUGEINT in DuckDB; cast back for a BIGINT result
    cte.append(
        f"\nSELECT v AS host, CAST(r AS BIGINT) AS rank_s FROM pr{K_ITERS}"
    )
    return "".join(cte)


ORACLES = {
    "host_link_graph": _EDGES_CTE
    + "\nSELECT src_host, dst_host, w FROM edges",
    "host_pagerank": _pagerank_sql(),
    # closed-form regeneration of the authored anchor-TEXT rule
    "anchor_text_topk": f"""
        WITH links AS (
          SELECT doc_id % {HOSTS} AS h,
                 ((doc_id % {HOSTS}) + ((doc_id // {HOSTS}) % 7)
                  + 3 * j + 1) % {HOSTS} AS k,
                 'h' || (((doc_id % {HOSTS}) + ((doc_id // {HOSTS}) % 7)
                  + 3 * j + 1) % {HOSTS})::VARCHAR
                  || ' t' || ((doc_id + j) % 5)::VARCHAR AS anchor
          FROM documents,
               (SELECT unnest(generate_series(0, {N_LINKS - 1})) AS j)
        ),
        counts AS (
          SELECT 'host' || k::VARCHAR || '.example' AS dst_host,
                 anchor, count(*) AS cnt
          FROM links WHERE k <> h GROUP BY 1, 2
        ),
        ranked AS (
          SELECT dst_host, anchor, cnt,
                 row_number() OVER (PARTITION BY dst_host
                     ORDER BY cnt DESC, anchor ASC) AS rnk
          FROM counts
        )
        SELECT dst_host, anchor, cnt, rnk
        FROM ranked WHERE rnk <= {TOP_ANCHORS}
    """,
}
