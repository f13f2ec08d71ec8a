"""Hybrid retrieval via reciprocal-rank fusion — how production search
combines a lexical and a dense leg (Cormack et al. 2009; the default
hybrid mode in Elasticsearch/Vespa/Qdrant). The reference's /search is
dense-only (`no-ocr-api/np_ocr/search.py`); pairing it with the BM25
leg (operators/bm25.py) is the standard deployment shape:

    rrf(d) = sum over legs of 1 / (RRF_K + rank_leg(d))

with rank over each leg's OWN top-N candidate list (a doc missing from
a leg contributes 0). RRF uses only RANKS, so the fusion is immune to
the legs' score scales — and cross-engine exact: both legs already
order by (rounded score, id), the ranks are integers, and 1/(60+r) is
the same IEEE double on any engine.

Spark shape: each leg is its own top-N plan (BM25: map-side tf + 1-row
broadcast stats; cosine: broadcast query + TakeOrderedAndProject) —
per-leg cost is the leg's documented scan cost. The fusion then
operates on two N-row lists: ranks are a window over ≤N rows (single
tiny partition BY CONSTRUCTION — the limit already ran), the join is
trivially broadcast. At 100 TB the fusion cost is unchanged: it only
ever sees 2N candidate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import cosine
from no_ocr_spark.operators import bm25
from no_ocr_spark.sources.tables import load_table

RRF_K = 60
LEG_N = 20   # candidates per leg
TOP_K = 10


def _ranked(df: DataFrame, id_col: str, rank_col: str) -> DataFrame:
    """Top-LEG_N by (score desc, id) with 1-based rank. The input is a
    full scored frame; the limit runs FIRST so the rank window sees only
    LEG_N rows (the unpartitioned window is fine on a list that small)."""
    from pyspark.sql import Window

    top = df.orderBy(F.desc("score"), F.asc(id_col)).limit(LEG_N)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return top.select(
        F.col(id_col).alias("doc_id"),
        F.row_number().over(w).alias(rank_col),
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 leg + cosine leg -> RRF top-10:
    (doc_id, lex_rank, vec_rank, rrf)."""
    lex = _ranked(bm25.bm25_scores(spark, sf_dir), "doc_id", "lex_rank")

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"))
    vec_scores = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(F.expr(cosine("spark", "embedding", "qv")), 6)
             .alias("score"),
        )
    )
    vec = _ranked(vec_scores, "vec_id", "vec_rank")

    rrf = (
        F.when(F.col("lex_rank").isNotNull(),
               F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")))
         .otherwise(F.lit(0.0))
        + F.when(F.col("vec_rank").isNotNull(),
                 F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")))
           .otherwise(F.lit(0.0))
    )
    return (
        lex.join(vec, "doc_id", "full")
        .select("doc_id", "lex_rank", "vec_rank",
                F.round(rrf, 6).alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(TOP_K)
    )


_ORACLE = f"""
    WITH {bm25.scores_cte_sql()},
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
               AS lex_rank
      FROM bm_scores ORDER BY score DESC, doc_id LIMIT {LEG_N}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec_scores AS (
      SELECT e.vec_id AS doc_id,
             round({cosine('duckdb', 'e.embedding', 'q.qv')}, 6) AS score
      FROM embeddings e, q WHERE e.vec_id <> 0
    ),
    vec AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
               AS vec_rank
      FROM vec_scores ORDER BY score DESC, doc_id LIMIT {LEG_N}
    )
    SELECT doc_id, lex_rank, vec_rank,
           round(coalesce(1.0 / ({RRF_K} + lex_rank), 0)
                 + coalesce(1.0 / ({RRF_K} + vec_rank), 0), 6) AS rrf
    FROM lex FULL JOIN vec USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT {TOP_K}
"""

QUERIES = {"hybrid_rrf": q_hybrid_rrf}
ORACLES = {"hybrid_rrf": _ORACLE}
