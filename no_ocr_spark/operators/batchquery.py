"""Batched multi-query retrieval — the SERVING shape of vector search:
a production system scores a batch of Q concurrent queries in one plan
instead of Q sequential scans (the reference serves one /search call at
a time, `no-ocr-api/np_ocr/search.py`; its deployment twin batches).

Spark shape: the Q query vectors are a Q-row BROADCAST; the corpus
scan crosses it map-side (each partition scores all Q queries in one
pass — the corpus is read ONCE for the whole batch, which is the whole
point), and per-query top-k compiles to ONE WindowGroupLimit pass
(rank over query_id partitions) instead of Q separate sorts. Zero
Python, zero corpus shuffle; at 100 TB the batch amortizes the scan
cost Q ways, exactly like a columnar ANN server's query batching.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import cosine
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

QUERY_IDS = [0, 1, 2, 3]   # the batch: embeddings rows serving as queries
TOP_K = 5


def q_batch_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, score): per-query cosine top-5 for the whole
    batch in one corpus pass."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
    )
    corpus = fan_out_for_cpu(
        emb.filter(~F.col("vec_id").isin(QUERY_IDS)), spark)
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "query_id", "vec_id",
        F.round(F.expr(cosine("spark", "embedding", "qv")), 6)
         .alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "vec_id", "score")
    )


def _oracle() -> str:
    ids = ", ".join(str(i) for i in QUERY_IDS)
    return f"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id IN ({ids})
        ),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 round({cosine('duckdb', 'e.embedding', 'q.qv')}, 6)
                   AS score
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id NOT IN ({ids})
        )
        SELECT query_id, vec_id, score FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY score DESC, vec_id) AS rk
          FROM scored
        ) WHERE rk <= {TOP_K}
    """


QUERIES = {"batch_cosine_topk": q_batch_cosine_topk}
ORACLES = {"batch_cosine_topk": _oracle()}
