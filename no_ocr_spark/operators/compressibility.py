"""Compression-ratio quality signal — the classic cheap junk detector
for web text (used alongside the Gopher/C4 rule families: template/SEO
spam and keyword-stuffed pages compress far better than natural prose,
near-random payloads compress worse). Signal: deflate(text) bytes /
utf8(text) bytes at a FIXED zlib level, plus the verdict thresholds.

Spark shape: ONE Arrow-batched mapInPandas stage (map-only, zero
shuffle, the fat text column never leaves its partition) emitting the
two byte counts; ratio + verdict are codegen arithmetic on top. At
100 TB this is scan-bound — deflate runs ~100 MB/s/core in C, so the
stage rides the same budget as any full-text pass (lang-id, PII scrub).

Determinism: zlib's output for a given (input, level, strategy) is
stable for a given zlib build, and the RATIO verdict only needs byte
COUNTS, which are identical across zlib builds in practice for level 6
on text this size; the pytest oracle recomputes the exact counts with
the same interpreter's zlib (tests/test_compressibility.py). There is
deliberately NO DuckDB oracle: SQL cannot express deflate (same
disclosed carve-out as bpe_tokenize; the parity harness smoke-runs the
query and the driver records a rows-only check).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

LEVEL = 6
# natural prose lands ~0.3-0.6; templates/repetition sink below, random
# junk rises above (thresholds follow the common curation practice of
# cutting both tails)
MIN_RATIO = 0.20
MAX_RATIO = 0.95

_SCHEMA = "doc_id long, raw_bytes long, deflate_bytes long"


def compression_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, raw_bytes, deflate_bytes), map-only."""

    def counts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zlib

        for b in batches:
            ids, raws, defs = [], [], []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                raw = (text if isinstance(text, str) else "").encode("utf-8")
                ids.append(int(doc_id))
                raws.append(len(raw))
                defs.append(len(zlib.compress(raw, LEVEL)))
            yield pd.DataFrame({
                "doc_id": ids, "raw_bytes": raws, "deflate_bytes": defs,
            })

    return docs.select("doc_id", "text").mapInPandas(counts, schema=_SCHEMA)


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, raw_bytes, deflate_bytes, ratio, verdict)."""
    docs = load_table(spark, sf_dir, "documents")
    return compression_counts(docs).select(
        "doc_id", "raw_bytes", "deflate_bytes",
        F.expr("CASE WHEN raw_bytes = 0 THEN NULL ELSE "
               "round(deflate_bytes / cast(raw_bytes as double), 6) END"
               ).alias("ratio"),
        F.expr(f"CASE WHEN raw_bytes = 0 THEN 'empty' "
               f"WHEN deflate_bytes / cast(raw_bytes as double)"
               f" < {MIN_RATIO} THEN 'too_compressible' "
               f"WHEN deflate_bytes / cast(raw_bytes as double)"
               f" > {MAX_RATIO} THEN 'incompressible' "
               f"ELSE 'keep' END").alias("verdict"),
    )


QUERIES = {"compression_ratio": q_compression_ratio}
# no SQL oracle by design (deflate is not SQL-expressible); exact
# per-doc byte counts are pinned by tests/test_compressibility.py
ORACLES: dict = {}
