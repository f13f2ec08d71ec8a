"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship extraction pipeline on sf0.001 (smoke).
queries()    — the graded queries: the names in GATE, in GATE's order.
oracle_sql() — DuckDB-equivalent SQL per graded query (the extraction
               queries' oracles read committed goldens).
extra_queries() / extra_oracle_sql() — every other registered query, held
               to the same parity bar locally (tests/test_oracle_parity.py).

Each operator module declares its queries once, in one QUERIES and one
ORACLES dict; GATE alone decides which of them the driver grades.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The driver grades the first 50 in this order.
GATE = (
    "extract_documents", "extract_host_stats", "extract_spans",
    "warc_extract", "ann_ivf_kmeans", "near_dup_cosine", "maxsim_nested",
    "search_flow", "lsh_bucket_pairs", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_minhash_pairs", "dedup_simhash_pairs", "near_dup_clusters",
    "tfidf_top_terms", "lang_id", "corpus_filter", "repetition_stats",
    "line_dedup", "decontaminate", "host_quota", "hash_sample",
    "url_canonicalize", "pii_scrub", "merge_upsert_read", "page_rasters",
    "image_thumbnails", "jpeg_roundtrip", "snapshot_table", "robots_filter",
    "bloom_dedup", "chunk_documents", "pack_sequences", "embed_map",
    "agg_pricing_summary", "topk_order_revenue", "point_lookup",
    "broadcast_lookup_join", "window_rank", "anti_join_resume",
    "coalesce_fallback", "wet_roundtrip", "jsonl_roundtrip",
    "substring_dedup", "perplexity_score", "host_pagerank", "dsir_select",
    "ann_pq_topk", "normalize_text", "bm25_topk",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages(sf0.001) -> Arrow-batched extraction -> lang rollup."""
    from no_ocr_spark.operators.extraction_queries import entry_flagship

    return entry_flagship(spark)


def _modules() -> tuple:
    """Every operator module that registers queries (imported lazily)."""
    from no_ocr_spark.operators import (
        batchquery, bloom, bm25, bpe, cdx, chunking, compressibility,
        datacard, decontam, dedup, dsir, embed_map, extraction_queries,
        frontier, graph, hybrid, invindex, keepbest, linkgraph, merge_query,
        mixture, mojibake, multimodal, normalize, packing, perplexity,
        phrase, pq, quantization, raster_query, relational, relational2,
        repetition, retrieval, robots, snaptable_query, snippets,
        substring_dedup, textstats, trainorder, warc_query, webops,
    )

    return tuple(locals().values())


def _pool(attr: str) -> dict:
    return {n: v for m in _modules() for n, v in getattr(m, attr).items()}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    pool = _pool("QUERIES")
    return {n: pool[n] for n in GATE}


def oracle_sql() -> dict[str, str]:
    pool = _pool("ORACLES")
    return {n: pool[n] for n in GATE}


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q for n, q in _pool("QUERIES").items() if n not in GATE}


def extra_oracle_sql() -> dict[str, str]:
    return {n: o for n, o in _pool("ORACLES").items() if n not in GATE}
