"""BM25 lexical top-k — the keyword-ranking leg of the search surface.
The reference ranks documents by dense/multi-vector similarity
(`no-ocr-api/np_ocr/search.py`); production search pairs that with a
lexical ranker for hybrid retrieval, and BM25 (Robertson et al., TREC-3;
the Lucene-standard formulation) is that leg:

    score(d, q) = sum over t in q of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * |d| / avgdl))
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))     [Lucene's variant]

Spark shape — NO corpus-wide index shuffle for an ad-hoc query:
  1. per-doc term frequencies of the QUERY TERMS ONLY, as codegen array
     filters over split(text) — map-only, the text column never moves;
  2. corpus stats (N, avgdl, per-term df) fold into ONE single-row
     aggregate that rides a broadcast back over the scan (the SQ8
     dim-stats pattern — no driver collect, no second scan shuffle);
  3. the score is codegen arithmetic; top-k compiles to
     TakeOrderedAndProject.
At 100 TB a standing deployment materializes step 1/2 once as an
inverted-index table keyed by term (one explode+agg shuffle, amortized
across queries); this operator IS that plan with the probe inlined.

Float discipline: idf/score round to 6 decimals for the cross-engine
oracle (the perplexity precedent — both engines compute IEEE-double ln
on identical rationals); ORDER is taken on the ROUNDED score with
doc_id tiebreak so the top-k frontier is engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

QUERY_TERMS = ["window", "merge", "key"]
K1 = 1.2
B = 0.75
TOP_K = 12


def _tf(dialect: str, term: str) -> str:
    if dialect == "spark":
        return (f"size(filter(split(text, ' '), w -> w = '{term}'))")
    return f"len(list_filter(string_split(text, ' '), w -> w = '{term}'))"


def _len(dialect: str) -> str:
    if dialect == "spark":
        return "size(split(text, ' '))"
    return "len(string_split(text, ' '))"


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus (doc_id, score) BM25 frame — the map-side tf pass +
    1-row broadcast stats; callers apply their own top-k. The stats
    aggregate and the scoring join both read the materialized
    40-byte-per-doc tf frame."""
    docs = materialize(fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    ).select(
        "doc_id",
        F.expr(_len("spark")).alias("dl"),
        *[F.expr(_tf("spark", t)).alias(f"tf{i}")
          for i, t in enumerate(QUERY_TERMS)],
    ))
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
          for i in range(len(QUERY_TERMS))],
    )
    score = sum(
        F.expr(
            f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
            f" * (tf{i} * {K1 + 1})"
            f" / (tf{i} + {K1} * (1 - {B} + {B} * dl / avgdl))"
        )
        for i in range(len(QUERY_TERMS))
    )
    return (
        docs.join(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("score"))
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents x QUERY_TERMS -> top-12 (doc_id, score) by BM25."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(TOP_K)
    )


def scores_cte_sql() -> str:
    """CTE fragment `bm_tf, bm_stats, bm_scores` (the full-corpus
    (doc_id, score) frame) for splicing into a caller's WITH chain
    (the hybrid RRF oracle reuses it)."""
    tfs = ", ".join(f"{_tf('duckdb', t)} AS tf{i}"
                    for i, t in enumerate(QUERY_TERMS))
    dfs = ", ".join(f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
                    for i in range(len(QUERY_TERMS)))
    score = " + ".join(
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))"
        f" * (tf{i} * {K1 + 1})"
        f" / (tf{i} + {K1} * (1 - {B} + {B} * dl / avgdl))"
        for i in range(len(QUERY_TERMS))
    )
    return f"""
        bm_tf AS (
          SELECT doc_id, {_len('duckdb')} AS dl, {tfs} FROM documents
        ),
        bm_stats AS (
          SELECT count(*) AS n_docs, avg(dl) AS avgdl, {dfs} FROM bm_tf
        ),
        bm_scores AS (
          SELECT doc_id, round({score}, 6) AS score
          FROM bm_tf CROSS JOIN bm_stats
        )
    """


def _oracle() -> str:
    return f"""
        WITH {scores_cte_sql()}
        SELECT doc_id, score FROM bm_scores
        ORDER BY score DESC, doc_id
        LIMIT {TOP_K}
    """


QUERIES = {"bm25_topk": q_bm25_topk}
ORACLES = {"bm25_topk": _oracle()}
