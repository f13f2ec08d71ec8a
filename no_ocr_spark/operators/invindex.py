"""Inverted-index BM25 — the standing-deployment leg promised in
operators/bm25.py: a materialized postings table amortizes the corpus
pass across queries, which is how every lexical engine actually serves
search (Lucene segments; postings = (term, doc_id, tf) with the doc
norm denormalized alongside, so probes never join back to the corpus).

Build (once per corpus version — ONE explode+agg shuffle):
    postings(term, doc_id, dl, tf)   -- dl rides along, Lucene-style
At 100 TB the table is written bucketed/partitioned BY TERM, so a
query's probe is a partition-pruned scan of |q| buckets — the fat text
column is never touched again.

Probe (per query — touches only the query terms' postings):
    df per term   -> |q|-row broadcast
    n_docs, avgdl -> 1-row broadcast
    per-posting BM25 contribution -> groupBy(doc_id) sum -> top-k

Float discipline: the per-doc sum here is a SHUFFLED aggregation, and
double addition is not associative — so each posting's contribution is
QUANTIZED to integer nanos (cast(round(c * 1e9) as bigint)) before the
sum; integer addition is order-independent, making the score identical
on any partitioning/cluster size. The DuckDB oracle replays the same
quantized arithmetic; scores match operators/bm25.py's fused-scan path
to 1e-6 (asserted in tests/test_invindex.py) but are hashed against
this query's OWN oracle (the two paths' rounding chains differ in the
last ulp by construction).

Like merge_upsert_read/bpe_tokenize, the gate query BUILDS the index at
compose time (it exercises the build; a deployment would read the
materialized table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.bm25 import B, K1, QUERY_TERMS, TOP_K
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

_Q = 1_000_000_000  # contribution quantum (nanos)


def build_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> postings (term, doc_id, dl, tf)."""
    return (
        docs.select(
            "doc_id",
            F.expr("size(split(text, ' '))").alias("dl"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
    )


def q_bm25_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-path BM25 top-12 for QUERY_TERMS: (doc_id, score)."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    post = build_postings(docs)
    # the barrier holds |q| terms' postings only (the filter pushes below
    # the agg onto the generate — see plans/r06)
    probe = materialize(post.filter(F.col("term").isin(QUERY_TERMS)))
    dfs = probe.groupBy("term").agg(F.count("*").alias("df"))
    stats = docs.select(
        F.expr("size(split(text, ' '))").alias("dl")
    ).agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    contrib = F.expr(
        f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
        f" * (tf * {K1 + 1})"
        f" / (tf + {K1} * (1 - {B} + {B} * dl / avgdl))"
    )
    return (
        probe.join(F.broadcast(dfs), "term")
        .join(F.broadcast(stats))
        .select("doc_id",
                F.round(contrib * _Q, 0).cast("bigint").alias("nanos"))
        .groupBy("doc_id")
        .agg(F.sum("nanos").alias("nanos"))
        .select("doc_id",
                F.round(F.col("nanos") / _Q, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TOP_K)
    )


def _tf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
        WITH post AS (
          SELECT term, doc_id, dl, count(*) AS tf FROM (
            SELECT doc_id, len(string_split(text, ' ')) AS dl,
                   unnest(string_split(text, ' ')) AS term
            FROM documents
          ) GROUP BY term, doc_id, dl
        ),
        probe AS (SELECT * FROM post WHERE term IN ({terms})),
        dfs AS (SELECT term, count(*) AS df FROM probe GROUP BY term),
        stats AS (
          SELECT count(*) AS n_docs,
                 avg(len(string_split(text, ' '))) AS avgdl
          FROM documents
        ),
        scored AS (
          SELECT doc_id,
                 cast(round((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * {K1 + 1})
                   / (tf + {K1} * (1 - {B} + {B} * dl / avgdl)))
                   * {_Q}, 0) as bigint) AS nanos
          FROM probe JOIN dfs USING (term) CROSS JOIN stats
        )
        SELECT doc_id, round(sum(nanos) / {_Q}, 6) AS score
        FROM scored GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT {TOP_K}
    """


QUERIES = {"bm25_indexed_topk": q_bm25_indexed_topk}
ORACLES = {"bm25_indexed_topk": _tf_oracle()}
