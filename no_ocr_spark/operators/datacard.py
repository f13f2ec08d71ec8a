"""Corpus datasheet rollup — the "data card" table every corpus release
publishes (Dolma's and FineWeb's dataset cards tabulate exactly this:
per source/language doc counts, token totals, length distribution,
quality-pass and duplicate rates). One query materializes it from the
engine's own signals, integer-exact so the oracle matches cell-for-cell.

Spark shape: the per-doc signals are the map-only codegen expressions
the quality/dedup operators already use; the dup flag needs one
hash-keyed aggregation over xxhash64(text) (8-byte keys — the
dedup_exact discipline: text never shuffles); the rollup itself is one
partial+final groupBy on (source, lang) — at 100 TB this is a classic
two-stage aggregate whose reduce side is as small as the card itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, lang, n_docs, n_tokens, min_tokens, max_tokens,
    n_quality, n_dup_docs) — one row per source x lang."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang",
        F.expr("size(split(text, ' '))").alias("n_tok"),
        F.xxhash64("text").alias("h"),
    )
    # docs sharing a text hash: every member of a >1 group counts as dup
    # (hash-keyed; the 1e-19 collision odds are the dedup_exact trade,
    # and the oracle groups on the full text so a collision would go red)
    dup_groups = (
        docs.groupBy("h").agg(F.count("*").alias("grp"))
        .filter(F.col("grp") > 1)
    )
    flagged = docs.join(F.broadcast(dup_groups), "h", "left").select(
        "source", "lang", "n_tok",
        F.col("grp").isNotNull().cast("long").alias("is_dup"),
        ((F.col("n_tok") >= 20)).cast("long").alias("is_quality"),
    )
    return flagged.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
        F.sum("is_quality").alias("n_quality"),
        F.sum("is_dup").alias("n_dup_docs"),
    )


_ORACLE = """
    WITH sig AS (
      SELECT doc_id, source, lang,
             len(string_split(text, ' '))::BIGINT AS n_tok,
             count(*) OVER (PARTITION BY text) AS grp
      FROM documents
    )
    SELECT source, lang,
           count(*) AS n_docs,
           sum(n_tok)::BIGINT AS n_tokens,
           min(n_tok) AS min_tokens,
           max(n_tok) AS max_tokens,
           sum(CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END)::BIGINT
             AS n_quality,
           sum(CASE WHEN grp > 1 THEN 1 ELSE 0 END)::BIGINT
             AS n_dup_docs
    FROM sig GROUP BY source, lang
"""

QUERIES = {"corpus_datacard": q_corpus_datacard}
ORACLES = {"corpus_datacard": _ORACLE}
