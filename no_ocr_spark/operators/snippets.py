"""Search-result snippets — the context window around the first query
-term occurrence that every search product renders under a hit (the
reference's UI shows the matched page region; Lucene calls this leg the
highlighter). Composes the engine's ranked search with a pure-codegen
extraction:

  * the hit set is the BM25 top-k (operators/bm25.py) — k rows;
  * the k-row hit set BROADCASTS back onto documents (the J1
    result->content lookup pattern: the corpus never shuffles);
  * the snippet is locate/substring arithmetic around the FIRST query
    term present (CASE chain over locate(); 1-based char semantics
    identical in Spark and DuckDB), padded ~40 chars each side and
    clamped at the text bounds.

Zero Python, one broadcast join, map-only otherwise; at 100 TB the
cost is the k point-reads of text, which a deployment serves from the
content store exactly this way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.bm25 import QUERY_TERMS, q_bm25_topk
from no_ocr_spark.sources.tables import load_table

PAD = 40


def _first_hit(dialect: str) -> tuple[str, str]:
    """(matched_term_expr, position_expr) as a CASE chain over the
    query terms — the padded search (' term ') rules out substring
    matches inside longer words; +1 lands on the term itself."""
    # locate(sub, str) in Spark; strpos(str, sub) in DuckDB — both
    # 1-based character positions. The position is in PADDED space
    # (points at the space before the term); the window arithmetic uses
    # it identically on both sides, so the snippets agree byte-for-byte.
    def loc(t: str) -> str:
        if dialect == "spark":
            return f"locate(' {t} ', concat(' ', text, ' '))"
        return f"strpos(' ' || text || ' ', ' {t} ')"

    term = "CASE " + " ".join(
        f"WHEN {loc(t)} > 0 THEN '{t}'" for t in QUERY_TERMS
    ) + " ELSE NULL END"
    pos = "CASE " + " ".join(
        f"WHEN {loc(t)} > 0 THEN {loc(t)}" for t in QUERY_TERMS
    ) + " ELSE NULL END"
    return term, pos


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score, term, snippet) for the BM25 top-k hits."""
    hits = q_bm25_topk(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    term, pos = _first_hit("spark")
    return (
        F.broadcast(hits).join(docs, "doc_id")
        .select(
            "doc_id", "score",
            F.expr(term).alias("term"),
            F.expr(
                f"CASE WHEN ({pos}) IS NULL THEN NULL ELSE "
                f"substring(text, greatest(1, ({pos}) - {PAD}), "
                f"{2 * PAD}) END"
            ).alias("snippet"),
        )
    )


def _oracle() -> str:
    from no_ocr_spark.operators.bm25 import scores_cte_sql, TOP_K

    term, pos = _first_hit("duckdb")
    return f"""
        WITH {scores_cte_sql()},
        hits AS (
          SELECT doc_id, score FROM bm_scores
          ORDER BY score DESC, doc_id LIMIT {TOP_K}
        )
        SELECT doc_id, score,
               {term} AS term,
               CASE WHEN ({pos}) IS NULL THEN NULL ELSE
                 substr(text, greatest(1, ({pos}) - {PAD}), {2 * PAD})
               END AS snippet
        FROM hits JOIN documents USING (doc_id)
    """


QUERIES = {"search_snippets": q_search_snippets}
ORACLES = {"search_snippets": _oracle()}
