"""Batched retrieval (operators/batchquery.py): the batch must agree
with Q independent single-query scans. Cell-exact grading is
tests/test_oracle_parity.py::batch_cosine_topk."""

from __future__ import annotations

from pyspark.sql import functions as F

from no_ocr_spark.operators.batchquery import (
    QUERY_IDS,
    TOP_K,
    q_batch_cosine_topk,
)
from no_ocr_spark.functions.textexpr import cosine as _cosine
from no_ocr_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_batch_equals_per_query_scans(spark):
    got: dict[int, list] = {}
    for r in q_batch_cosine_topk(spark, SF).collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.score))
    assert set(got) == set(QUERY_IDS)
    emb = load_table(spark, SF, "embeddings")
    for qid in QUERY_IDS:
        q = emb.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qv"))
        single = (
            emb.filter(~F.col("vec_id").isin(QUERY_IDS))
            .crossJoin(F.broadcast(q))
            .select("vec_id",
                    F.round(F.expr(_cosine("spark", "embedding", "qv")), 6)
                     .alias("score"))
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(TOP_K)
            .collect()
        )
        assert sorted(got[qid]) == sorted((r.vec_id, r.score)
                                          for r in single), qid
