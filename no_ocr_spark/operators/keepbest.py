"""Canonical-survivor selection — keep the BEST-quality document per
near-duplicate cluster, not an arbitrary one. Published pipelines that
cluster near-dups pick the survivor by a quality preference (FineWeb
keeps the canonical page of a dup cluster; the greedy min-id rule the
cleanup cascade uses is the cheap approximation). This operator is the
exact version: MinHash-LSH verified pairs -> connected components
(operators/graph.py) -> argmax of the INTEGER quality score
(operators/textstats.py) per cluster, doc_id tiebreak.

Spark shape: the CC iteration touches only the PAIR GRAPH (near-dup
edges are a vanishing fraction of the corpus); the quality signal is
map-only codegen over the corpus; clustering joins back via one
hash-keyed join on doc_id; the survivor choice is one WindowGroupLimit-
shaped window per cluster. Docs in no cluster are their own singleton
(cluster = doc_id, trivially kept) — the left join keeps them without
ever entering the iteration.

Everything is integer-exact (the quality score is integral by
construction), so the DuckDB oracle — recursive-CTE closure + the same
argmax — matches cell-for-cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.graph import q_near_dup_clusters
from no_ocr_spark.operators.textstats import q_quality_score


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster, score, keep): keep = best score in cluster,
    doc_id tiebreak; singletons keep themselves."""
    from pyspark.sql import Window

    quality = q_quality_score(spark, sf_dir).select("doc_id", "score")
    clusters = q_near_dup_clusters(spark, sf_dir)
    labeled = (
        quality.join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster"), F.col("doc_id")).alias("cluster"),
            "score",
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return labeled.select(
        "doc_id", "cluster", "score",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def _oracle() -> str:
    from no_ocr_spark.operators.graph import ORACLES as G
    from no_ocr_spark.operators.textstats import ORACLES as T

    # graph.py's oracle is a full statement with its own WITH RECURSIVE;
    # nest both legs as subqueries to keep each module's SQL sovereign
    return f"""
        WITH quality AS (
          SELECT doc_id, score FROM ({T['quality_score']})
        ),
        clusters AS (
          SELECT * FROM ({G['near_dup_clusters']})
        ),
        labeled AS (
          SELECT q.doc_id,
                 coalesce(c.cluster, q.doc_id) AS cluster,
                 q.score
          FROM quality q LEFT JOIN clusters c USING (doc_id)
        )
        SELECT doc_id, cluster, score,
               (row_number() OVER (PARTITION BY cluster
                  ORDER BY score DESC, doc_id) = 1) AS keep
        FROM labeled
    """


QUERIES = {"dedup_keep_best": q_dedup_keep_best}
ORACLES = {"dedup_keep_best": _oracle()}
