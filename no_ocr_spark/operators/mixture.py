"""Training-data mixture resampling — source-weighted epoch assignment
(the LLaMA/GPT-3 recipe: each corpus source gets a target share of the
training stream; up-weighted sources repeat, down-weighted sources
subsample; Touvron et al. 2023 Table 1 is exactly this table).

Per source s with n_s docs, weight w_s and corpus size N:

    t_s   = (N * w_s) div sum(w)          # integer target row count
    base  = t_s div n_s                   # whole epochs per doc
    rem   = t_s %  n_s                    # docs that get one extra copy
    n_repeats(doc) = base + [hash(doc) % n_s < rem]

Scale-first: NO per-source row_number window (at 10^12 docs a
source-partitioned global rank is a straggler by construction — one
partition per source). The +1 overflow copies are picked by a
DETERMINISTIC arithmetic hash threshold instead: map-only, identically
computable in SQL, and Binomial(n_s, rem/n_s)-exact in expectation
(|actual - t_s| = O(sqrt(n_s)); the fleet-standard trade, disclosed —
an exact-count variant is the window form, correct at query scale but
not at corpus scale). The whole plan is one tiny per-source aggregation
broadcast back over the corpus — zero shuffles of doc rows.

Source weights here derive from the source name's digits (w = d%5 + 1,
spanning 1x..5x) so the rule is reproducible on any sf table; production
passes a real weights map.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import P64
from no_ocr_spark.sources.tables import load_table

_W_SPARK = "cast(regexp_extract(source, '([0-9]+)', 1) as bigint) % 5 + 1"
_W_DUCK = "regexp_extract(source, '([0-9]+)', 1)::BIGINT % 5 + 1"
_H = f"(((doc_id % {P64}) * 31 + 17) % {P64})"


def mixture_repeats(docs: DataFrame) -> DataFrame:
    """(doc_id, source) -> (doc_id, source, n_repeats)."""
    per_src = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_s"))
        .withColumn("w_s", F.expr(_W_SPARK))
    )
    tot = per_src.agg(F.sum("n_s").alias("n_tot"),
                      F.sum("w_s").alias("w_tot"))
    model = (
        per_src.crossJoin(F.broadcast(tot))
        .select("source", "n_s",
                F.expr("(n_tot * w_s) div w_tot").alias("t_s"))
        .select("source", "n_s",
                F.expr("t_s div n_s").alias("base"),
                F.expr("t_s % n_s").alias("rem"))
    )
    return docs.join(F.broadcast(model), "source").select(
        "doc_id", "source",
        (F.col("base")
         + F.expr(f"case when {_H} % n_s < rem then 1 else 0 end")
         ).alias("n_repeats"),
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_repeats(docs)


QUERIES = {"mixture_resample": q_mixture_resample}

ORACLES = {
    "mixture_resample": f"""
        WITH per_src AS (
          SELECT source, count(*) AS n_s, {_W_DUCK} AS w_s
          FROM documents GROUP BY source
        ),
        tot AS (SELECT sum(n_s) AS n_tot, sum(w_s) AS w_tot FROM per_src),
        model AS (
          SELECT source, n_s,
                 ((n_tot * w_s) // w_tot) // n_s AS base,
                 ((n_tot * w_s) // w_tot) % n_s AS rem
          FROM per_src CROSS JOIN tot
        )
        SELECT d.doc_id, d.source,
               CAST(m.base + CASE WHEN {_H} % m.n_s < m.rem
                             THEN 1 ELSE 0 END AS BIGINT) AS n_repeats
        FROM documents d JOIN model m ON d.source = m.source
    """
}
