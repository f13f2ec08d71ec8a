"""S3 page-raster query: PDF -> per-page pixel raster, oracle-checked.

Reference analogue: `no-ocr-api/np_ocr/data.py:25-27` — every ingested
PDF page is rendered to an image (poppler, dpi=150). Here the REAL
from-scratch rasterizer (`extract/raster.py`) renders pages built from
the documents table, and the ink-pixel count is recomputed by DuckDB in
closed form — two fully independent derivations of the same number:

* Spark: text -> build_pdf -> parse_pdf (spans) -> pixel canvas ->
  count black pixels, through the REAL hand-drawn 5x7 dot-matrix font
  (raster._FONT_ART). Rendering all the way down.
* Oracle: per-character popcount arithmetic over the font's 35-bit
  glyph values (a VALUES lookup generated from the same font table —
  shared DATA, like the corpus itself; the independent derivation is
  the closed-form cell-duplication arithmetic): rows are 5-bit slices;
  the dpi=72 cell is exactly 5px wide and 12px tall, duplicating glyph
  rows 0,1,2,4,5 twice and rows 3,6 once — so ink(char) =
  2*(pop r0+r1+r2+r4+r5) + pop r3 + pop r6.

The geometry that makes the closed form airtight (single 24-char line at
font size 12: glyph cells never overlap, never clip; dpi=72 makes the
5x7 -> 5x12 stretch integer-exact) is asserted in
tests/test_raster.py. The full-dpi JPEG page-image pipeline
(`pdf_to_page_jpegs`, the reference's dpi=150 shape) is unit-tested
there too — lossy JPEG keeps it out of this exact oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

_SCHEMA = ("doc_id bigint, page int, width int, height int, "
           "ink_pixels bigint")


_LINE_SCHEMA = "line string, width int, height int, ink_pixels bigint"


def _raster_line_batches(
        batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from no_ocr_spark.extract.pdf import build_pdf
    from no_ocr_spark.extract.raster import rasterize_pages

    for pdf in batches:
        rows = []
        for line in pdf["line"]:
            page = rasterize_pages(build_pdf([[line]]), dpi=72)[0]
            rows.append({
                "line": line,
                "width": page.shape[1],
                "height": page.shape[0],
                "ink_pixels": int((page == 0).sum()),
            })
        yield pd.DataFrame(rows)


def q_page_rasters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r6 (guide §1.2 "don't compute things you throw away"): the page
    # raster is a pure function of the cleaned 24-char line, and the
    # corpus repeats lines heavily (50k docs -> 4.7k distinct lines at
    # the 10x bench scale), so render each DISTINCT line once and attach
    # the (width, height, ink) triple back by a join — the rasterizer's
    # 612x792 canvas alloc + ink scan per doc was the whole query. NULL
    # text folds to '' BEFORE the distinct so the join key is total
    # (rasterizing '' is the oracle's COALESCE(ink,0) row).
    # Per-doc output rows are unchanged. The distinct-line table grows
    # with the corpus (24-char prefixes over [a-z0-9 ]), so the join
    # strategy is left to the broadcast threshold, not forced.
    docs = materialize(fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark
    ).select(
        "doc_id",
        F.coalesce(
            F.substring(
                F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""), 1, 24
            ),
            F.lit(""),
        ).alias("line"),
    ))
    rasters = fan_out_for_cpu(docs.select("line").distinct(), spark
                              ).mapInPandas(
        _raster_line_batches, schema=_LINE_SCHEMA)
    return (
        docs.join(rasters, "line")
        .select("doc_id", F.lit(1).cast("int").alias("page"),
                "width", "height", "ink_pixels")
    )


QUERIES = {"page_rasters": q_page_rasters}


def _font_values_sql() -> str:
    """(cp, fv) rows for the [a-z0-9] alphabet the query's cleaning
    regex admits — generated from the rasterizer's own font table so
    the two cannot drift (the oracle's independence lives in the
    closed-form duplication arithmetic, not the glyph data)."""
    from no_ocr_spark.extract.raster import FONT_VALUES

    cps = [ord(c) for c in "abcdefghijklmnopqrstuvwxyz0123456789"]
    return ", ".join(f"({cp}, {FONT_VALUES[cp]})" for cp in cps)


ORACLES = {
    "page_rasters": f"""
        WITH cleaned AS (
          SELECT doc_id,
                 substr(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                        1, 24) AS line
          FROM documents
        ),
        font(cp, fv) AS (
          SELECT * FROM (VALUES {_font_values_sql()})
        ),
        chars AS (
          SELECT c.doc_id,
                 ascii(substr(c.line, r.i + 1, 1)) AS cp
          FROM cleaned c, range(24) r(i)
          WHERE r.i < length(c.line)
        ),
        ink AS (
          SELECT ch.doc_id,
                 SUM(CASE WHEN ch.cp = 32 THEN 0 ELSE
                   2 * (  bit_count(f.fv & 31)
                        + bit_count((f.fv >> 5) & 31)
                        + bit_count((f.fv >> 10) & 31)
                        + bit_count((f.fv >> 20) & 31)
                        + bit_count((f.fv >> 25) & 31))
                   + bit_count((f.fv >> 15) & 31)
                   + bit_count((f.fv >> 30) & 31) END) AS ink_pixels
          FROM chars ch LEFT JOIN font f ON ch.cp = f.cp
          GROUP BY ch.doc_id
        )
        SELECT c.doc_id,
               1::INT AS page,
               612::INT AS width,
               792::INT AS height,
               COALESCE(i.ink_pixels, 0)::BIGINT AS ink_pixels
        FROM cleaned c LEFT JOIN ink i ON c.doc_id = i.doc_id
    """,
}
