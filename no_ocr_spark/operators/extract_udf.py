"""The extraction operator: Arrow-batched mapInPandas over page bytes.

Reference analogue: the per-row hot loop `get_pdf_images`
(`no-ocr-api/np_ocr/data.py:14-33`) + page explode (`data.py:50-60`).
Here a single mapInPandas pass parses each document ONCE and emits both the
document-level text row and the nested span array; the two output tables
(`extracted`, `spans`) are written from this one pass, persisted once
after the bucket rebalance (plans/lineage.py): `extracted` as is, `spans`
as a row-local explode of it — no double parse, no re-read of written
output, no per-row Python dispatch (input_hint requirement).

Plan shape at scale: parquet scan (column-pruned to url/warc_ts/html/lang;
html is read only here) -> ArrowEvalPython/MapInPandas -> rebalance by
url-hash bucket -> persisted -> project/explode -> sinks. The heavy
column (html) never crosses a shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One row per document; `spans` nested (SURVEY.md §1.3 schemas).
EXTRACT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, "
    "text string, n_blocks int, n_chars bigint, method string, error string, "
    "spans array<struct<page:int,text:string,x0:float,y0:float,x1:float,"
    "y1:float,block:int,line:int>>"
)

SPAN_STRUCT = "struct<page:int,text:string,x0:float,y0:float,x1:float,y1:float,block:int,line:int>"


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # import inside the worker so the driver-side closure stays tiny
    from no_ocr_spark.extract.api import extract_document

    for pdf in batches:
        recs = [extract_document(b) for b in pdf["html"]]
        yield pd.DataFrame(
            {
                "url": pdf["url"].values,
                "warc_ts": pdf["warc_ts"].values,
                "lang": pdf["lang"].values,
                "text": [r["text"] for r in recs],
                "n_blocks": pd.array([r["n_blocks"] for r in recs], dtype="int32"),
                "n_chars": pd.array([len(r["text"]) for r in recs], dtype="int64"),
                "method": [r["method"] for r in recs],
                "error": [r["error"] for r in recs],
                "spans": [r["spans"] for r in recs],
            }
        )


def extract(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang, [bucket]) -> extracted+spans.

    Selects only the columns the UDF needs (html is the fat column — keep
    the scan pruned) and carries `bucket` through via re-join-free design:
    bucket is recomputed from url downstream when needed (pure function).
    """
    cols = ["url", "warc_ts", "html", "lang"]
    return pages.select(*cols).mapInPandas(_extract_batches, schema=EXTRACT_SCHEMA)


def extracted_table(result: DataFrame) -> DataFrame:
    """Document-level output table (FIXTURES.md A2 shape + error column)."""
    return result.select(
        "url", "warc_ts", "text", "lang", "n_blocks", "n_chars", "method", "error"
    )


def spans_table(result: DataFrame) -> DataFrame:
    """Per-page span table: url, page, spans array<struct> (FIXTURES.md A3).

    CRITICAL scale property: the UDF already emits every span of a document
    in one row, so per-page re-nesting is a ROW-LOCAL reshape (higher-order
    functions + explode) — zero shuffle, fused into the stage that reads
    the extraction result. A groupBy(url, page) here would re-shuffle
    every span in the corpus for nothing.

    Span order within a page is made explicit by array_sort on a
    (block, line)-keyed struct (struct comparison is field-order
    lexicographic), not inherited from emit order.
    """
    per_page = result.select(
        "url",
        F.explode(
            F.expr(
                # distinct pages of this doc -> (page, its spans, sorted)
                "transform(array_sort(array_distinct(transform(spans, x -> x.page))), "
                "p -> struct(p as page, "
                "  transform(array_sort(transform(filter(spans, x -> x.page = p), "
                "    x -> struct(x.block as block, x.line as line, x.text as text, "
                "               x.x0 as x0, x.y0 as y0, x.x1 as x1, x.y1 as y1))), "
                "  x -> struct(x.text as text, x.x0 as x0, x.y0 as y0, "
                "             x.x1 as x1, x.y1 as y1, x.block as block, "
                "             x.line as line)) as spans))"
            )
        ).alias("pg"),
    )
    return per_page.select("url", F.col("pg.page").alias("page"),
                           F.col("pg.spans").alias("spans"))
