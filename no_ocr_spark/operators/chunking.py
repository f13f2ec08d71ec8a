"""Document chunking: overlapping fixed-size windows with character
offsets — the RAG/embedding-prep step that turns cleaned documents into
retrieval units (every production retrieval pipeline over this corpus
shape chunks before embedding; the reference embeds per PAGE, which is
the PDF special case of the same operation).

Pure codegen: chunk starts are a `sequence(...)` array, `transform`
slices with `substring`, `posexplode` emits one row per chunk — zero
Python, no shuffle (the plan is scan -> generate -> project), and the
arithmetic is exactly reproducible in SQL, so the oracle value-checks
every chunk's text, offsets, and count.

Semantics (pinned): chunk i covers characters [i*stride, i*stride+SIZE)
with stride = SIZE - OVERLAP; the last chunk starts at the largest
i*stride < n_chars (an empty doc yields ONE empty chunk at offset 0 so
no document silently vanishes); chunks are 1-indexed in `chunk_no`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

CHUNK_SIZE = 120   # characters (test-scale; a knob)
OVERLAP = 20
_STRIDE = CHUNK_SIZE - OVERLAP


def chunk_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, chunk_no, start, chunk_text, n_chunk_chars) rows."""
    starts = (
        f"sequence(0, greatest(0, "
        f"cast(ceil((length(__t) - {CHUNK_SIZE}) / {_STRIDE}.0) as int)))"
    )
    return (docs
            .select("doc_id", F.col(text_col).alias("__t"))
            .select(
                "doc_id",
                F.posexplode(F.expr(
                    f"transform({starts}, "
                    f"i -> substring(__t, i * {_STRIDE} + 1, {CHUNK_SIZE}))"
                )).alias("idx", "chunk_text"),
            )
            .select(
                "doc_id",
                (F.col("idx") + 1).alias("chunk_no"),
                (F.col("idx").cast("long") * _STRIDE).alias("start"),
                "chunk_text",
                F.length("chunk_text").cast("long")
                .alias("n_chunk_chars"),
            ))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_documents(load_table(spark, sf_dir, "documents"))


QUERIES = {"chunk_documents": q_chunk_documents}

ORACLES = {
    "chunk_documents": f"""
        WITH idx AS (
          -- list-function range + unnest (the lateral table function
          -- cannot take per-row args in DuckDB)
          SELECT doc_id, text,
                 unnest(range(0, 1 + greatest(0,
                   ceil((length(text) - {CHUNK_SIZE}) / {_STRIDE}.0)::INT
                 ))) AS i
          FROM documents
        )
        SELECT doc_id,
               (i + 1)::BIGINT AS chunk_no,
               (i * {_STRIDE})::BIGINT AS start,
               substr(text, (i * {_STRIDE} + 1)::INT, {CHUNK_SIZE})
                 AS chunk_text,
               length(substr(text, (i * {_STRIDE} + 1)::INT,
                             {CHUNK_SIZE}))::BIGINT AS n_chunk_chars
        FROM idx
    """,
}
