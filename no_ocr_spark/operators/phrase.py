"""Exact-phrase search over positional postings — the second classic
inverted-index capability after ranked term search (operators/
invindex.py): a phrase query matches only documents where the terms
appear at ADJACENT positions, which term-level postings alone cannot
decide; positional postings (Lucene's proximity data) are the standard
answer.

Build: one explode keyed by (term, doc_id) collecting the term's sorted
position list — the same single-shuffle shape as the tf postings build,
with `sort_array(collect_list(pos))` making the list deterministic on
any partitioning.

Probe, entirely codegen: the phrase's k term-postings frames co-join on
doc_id (each side pre-filtered to ONE term — at deployment scale these
are partition-pruned bucket reads), then the match positions chain
through array arithmetic:

    chain_1 = positions(t1)
    chain_i = array_intersect(transform(chain_{i-1}, p -> p + 1),
                              positions(t_i))

|chain_k| counts the exact phrase occurrences — no Python, no explode
of positions, no cartesian. The DuckDB oracle replays the identical
list algebra (list_intersect/list_transform).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

PHRASE = ["hash", "join"]
TOP_K = 10


def build_positional_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (term, doc_id, positions sorted int array)."""
    return (
        docs.select("doc_id", F.posexplode(F.split("text", " "))
                    .alias("pos", "term"))
        .groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 (doc_id, n_hits) for the exact phrase PHRASE."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    post = build_positional_postings(docs)
    legs = [
        post.filter(F.col("term") == t)
        .select("doc_id", F.col("positions").alias(f"p{i}"))
        for i, t in enumerate(PHRASE)
    ]
    joined = reduce(lambda a, b: a.join(b, "doc_id"), legs)
    chain = F.col("p0")
    for i in range(1, len(PHRASE)):
        chain = F.array_intersect(
            F.transform(chain, lambda p: p + 1), F.col(f"p{i}"))
    return (
        joined.select("doc_id",
                      F.size(chain).cast("long").alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(TOP_K)
    )


def _oracle() -> str:
    legs = ",\n        ".join(
        f"""l{i} AS (
          SELECT doc_id, list_sort(list(pos)) AS p{i} FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                   generate_subscripts(string_split(text, ' '), 1) - 1
                     AS pos
            FROM documents
          ) WHERE term = '{t}' GROUP BY doc_id
        )"""
        for i, t in enumerate(PHRASE)
    )
    joins = " ".join(f"JOIN l{i} USING (doc_id)"
                     for i in range(1, len(PHRASE)))
    chain = "p0"
    for i in range(1, len(PHRASE)):
        chain = f"list_intersect(list_transform({chain}, p -> p + 1), p{i})"
    return f"""
        WITH {legs}
        SELECT doc_id, len({chain}) AS n_hits
        FROM l0 {joins}
        WHERE len({chain}) > 0
        ORDER BY n_hits DESC, doc_id LIMIT {TOP_K}
    """


QUERIES = {"phrase_search": q_phrase_search}
ORACLES = {"phrase_search": _oracle()}
