"""Benchmark decontamination: flag training documents that share long
n-grams with an evaluation/benchmark set (the GPT-3/PaLM-style "dirty
document" check — e.g. Brown et al. 2020 appendix C run 13-gram overlap
against their benchmarks; re-derived relationally here, no code ported).

Shape at 100 TB: the benchmark side is tiny (eval suites are thousands of
items, not billions), so its distinct n-gram set BROADCASTS and the scan
side stays map-only until one small per-doc aggregation:

    documents --explode k-grams--> (doc_id, gram) --broadcast-semi-join-->
    hits --groupBy(doc_id) count--> left join back to all docs

The broadcast build map is keyed on xxhash64(gram) — 8 bytes per
benchmark gram instead of the string (round-4, the dedup_exact
discipline) — with gram-string equality verified against the broadcast
row MAP-SIDE, so hash collisions cannot flag a clean doc and exactness
costs no extra shuffle. Order of operations matters at scale: the scan
side joins FIRST (map-only against the broadcast) and dedups the
surviving hits AFTER — the hit set is rare by construction, so the
distinct shuffles KBs; the r3 plan distinct-ed every corpus k-gram
before the join, a corpus-sized string shuffle that dominated the query
(measured at sf0.1, local[8], UI REST stage totals: 6.91 MB shuffle
write -> 0.98 MB (7x), 16.2s -> 7.2s wall).

The synthetic "benchmark" is carved deterministically from the corpus
itself (every 13th doc's words 3..3+k-1 form one benchmark item), so a
known subset of docs is contaminated by construction — no external data,
both engines derive the identical benchmark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

_K = 5  # gram length: long enough to be rare, short enough to occur


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc contamination verdict against the derived benchmark set.

    Output: doc_id, n_overlap_grams (distinct benchmark k-grams present in
    the doc), is_contaminated."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)

    bench = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(
            F.expr(f"array_join(slice(split(text, ' '), 3, {_K}), ' ')")
            .alias("bgram")
        )
        .filter(F.expr(f"size(split(bgram, ' ')) = {_K}"))
        .distinct()
        .withColumn("h", F.xxhash64("bgram"))
    )

    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(tx.word_shingles("spark", "split(text, ' ')", _K))
        ).alias("gram"),
    ).withColumn("h", F.xxhash64("gram"))

    # broadcast build map keyed on the 8-byte hash; the string equality
    # filter runs map-side against the broadcast row, so collisions are
    # resolved exactly without any shuffle. Dedup (a doc repeating a
    # benchmark gram counts once) happens AFTER the join, over the rare
    # hit set — never over every corpus k-gram.
    hits = (
        grams.join(F.broadcast(bench), "h")
        .filter(F.col("gram") == F.col("bgram"))
        .select("doc_id", "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap_grams"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap_grams", F.lit(0)).alias("n_overlap_grams"),
            (F.coalesce("n_overlap_grams", F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


QUERIES = {"decontaminate": q_decontaminate}

_D_SHINGLES = tx.word_shingles("duckdb", "string_split(text, ' ')", _K)

ORACLES = {
    "decontaminate": f"""
        WITH bench AS (
            SELECT DISTINCT
                   array_to_string((string_split(text, ' '))[3:{3 + _K - 1}], ' ')
                       AS gram
            FROM documents
            WHERE doc_id % 13 = 0
              AND len(string_split(
                      array_to_string((string_split(text, ' '))[3:{3 + _K - 1}], ' '),
                      ' ')) = {_K}),
        grams AS (
            SELECT DISTINCT doc_id, g.gram
            FROM documents,
                 unnest({_D_SHINGLES}) AS g(gram)),
        hits AS (
            SELECT g.doc_id, count(*)::BIGINT AS n_overlap_grams
            FROM grams g JOIN bench b ON g.gram = b.gram
            GROUP BY g.doc_id)
        SELECT d.doc_id,
               coalesce(h.n_overlap_grams, 0)::BIGINT AS n_overlap_grams,
               coalesce(h.n_overlap_grams, 0) > 0 AS is_contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
}
