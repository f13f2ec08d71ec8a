"""Extraction-pipeline queries for the driver contract.

These run the REAL extraction path (Arrow-batched mapInPandas over the
from-scratch extractor). The extractor is not SQL-expressible, so each
DuckDB oracle reads a committed golden instead (see ORACLES below): the
expected records are re-derived in pure Python by scripts/gen_goldens.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.extract_udf import extract, extracted_table
from no_ocr_spark.plans.partitioning import (
    fan_out_for_cpu,
    heavy_host_flags,
    host_of,
    salt_by_heavy_flags,
)
from no_ocr_spark.sources.tables import load_table

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def doc_to_page(doc_id: int, text: str, source: str) -> tuple[str, bytes]:
    """Pure function: one documents-table row -> (url, templated page bytes)
    with nav/footer boilerplate around the doc text as the <main> article.
    Shared by the Spark path and the golden generator (scripts/
    gen_goldens.py) so the committed goldens are derivable anywhere."""
    url = f"https://{source}.example.org/doc-{int(doc_id)}"
    sentences = str(text).split(". ")
    paras = [
        f"<p>{'. '.join(sentences[i:i + 3])}</p>"
        for i in range(0, len(sentences), 3)
    ]
    html = (
        "<!DOCTYPE html><html><head><title>doc</title></head><body>"
        '<nav><a href="/a">home</a> <a href="/b">about</a> '
        '<a href="/c">contact</a> <a href="/d">legal</a></nav>'
        "<main><article>" + "".join(paras) + "</article></main>"
        '<footer><a href="/t">terms</a> <a href="/p">privacy</a></footer>'
        "</body></html>"
    )
    return url, html.encode("utf-8")


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically wrap the driver's `documents` table into the
    BASELINE.json input shape (url, warc_ts, html, text, lang): each doc's
    text becomes the <main> article of a templated page with nav/footer
    boilerplate. Pure function of the row -> reproducible anywhere.
    Fans out before the synthesis mapInPandas, so page synthesis and every
    downstream Python stage (WARC sinks, archive parsers) use every core."""
    docs = fan_out_for_cpu(load_table(spark, sf_dir, "documents"), spark)

    def to_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import datetime as dt

        for pdf in batches:
            urls, htmls, texts = [], [], []
            for doc_id, text, source in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
                url, html = doc_to_page(doc_id, text, source)
                urls.append(url)
                htmls.append(html)
                texts.append(str(text))
            yield pd.DataFrame({
                "url": urls,
                "warc_ts": [dt.datetime(2024, 1, 1)] * len(urls),
                "html": htmls,
                "text": texts,
                "lang": pdf["lang"].values,
            })

    return docs.mapInPandas(to_pages, schema=PAGES_SCHEMA)


def q_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages -> extract -> per-url text stats. The flagship
    path: scan -> mapInPandas(extract) -> project."""
    ext = extracted_table(extract(pages_from_documents(spark, sf_dir)))
    return ext.select("url", "lang", "n_blocks", "n_chars", "method")


def q_extract_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship aggregate: per-host extraction stats via DETECTION-DRIVEN
    targeted salting (plans/partitioning.py, SURVEY §4 item 1).

    Detection is IN the DAG (round-4 fix — composing this query fires no
    Spark job, asserted by tests/test_partitioning.py): heavy hosts
    (>= 1% of the corpus) come from a lazy histogram over the CHEAP pages
    projection — url only, no extraction — and reach the extraction side
    as a BROADCAST left join (<= 100 rows by construction regardless of
    corpus size). At production scale the same <= 100-row DataFrame can be
    fed from the lineage ledger's running host histogram instead of the
    in-DAG scan. Then ONE extraction pass, and a two-stage aggregation
    where ONLY the detected hosts fan out over n_salts partial keys; the
    Zipf tail keeps a single partial per host. Same result as a plain
    groupBy(host) by construction — which is what the oracle runs.
    """
    heavy = heavy_host_flags(
        pages_from_documents(spark, sf_dir), min_share=0.01
    )
    ext = extracted_table(extract(pages_from_documents(spark, sf_dir)))
    salted = salt_by_heavy_flags(
        ext.select(host_of("url").alias("host"), "url", "n_chars"),
        heavy,
    )
    partial = salted.groupBy("host", "salt").agg(
        F.count("*").alias("c"), F.sum("n_chars").alias("t")
    )
    return partial.groupBy("host").agg(
        F.sum("c").alias("n_docs"), F.sum("t").alias("total_chars")
    )


def entry_flagship(spark: SparkSession) -> DataFrame:
    """Driver smoke entry: extraction over pages derived from sf0.001, per
    (lang, method) rollup — exercises scan, UDF extraction, and agg."""
    ext = extracted_table(extract(pages_from_documents(spark, "/root/testdata/sf0.001")))
    return (
        ext.groupBy("lang", "method")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.avg("n_blocks").alias("avg_blocks"),
        )
        .orderBy("lang", "method")
    )


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spans output table (FIXTURES.md A3 shape) over the derived pages
    corpus: url, page, per-span block/line ordinals (bboxes nulled for the
    HTML branch). Flattened for the rows-only contract check."""
    from no_ocr_spark.operators.extract_udf import spans_table

    spans = spans_table(extract(pages_from_documents(spark, sf_dir)))
    return spans.select(
        "url",
        "page",
        F.size("spans").alias("n_spans"),
        F.expr("spans[0].block").alias("first_block"),
    )


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-native ingestion, end to end at the gate: committed
    .warc.gz fixtures (HTML + PDF payloads, all four PDF writer styles) ->
    binaryFile scan -> Content-Length-framed record explode (Arrow-batched)
    -> the extraction operator. Graded against a golden re-derived with NO
    Spark and NO WARC parse (scripts/gen_warc_fixture.py generates records
    and goldens from the same pure source), so the whole Spark-side chain —
    framing, envelope strip, gzip, Arrow explode, mapInPandas extraction —
    is independently cross-checked. The fixture is sf-independent (sf_dir
    unused): crawl archives are their own corpus."""
    from no_ocr_spark.sources.warc import pages_from_warc

    pages = pages_from_warc(spark, _WARC_FIXTURE_DIR)
    ext = extracted_table(extract(pages))
    return ext.select("url", "n_blocks", "n_chars", "method")


QUERIES = {
    "extract_documents": q_extract_documents,
    "extract_host_stats": q_extract_host_stats,
    "extract_spans": q_extract_spans,
    "warc_extract": q_warc_extract,
}

# The extractor itself is not SQL-expressible, but its expected output IS:
# scripts/gen_goldens.py re-derives every per-url/per-page record in pure
# Python (same doc_to_page + extract_document, no Spark) and commits them;
# the oracle reads those goldens, so the Spark orchestration (Arrow round
# trip, mapInPandas batching, span re-nesting, host parse, salted agg) is
# independently cross-checked. NOTE: goldens are generated from sf0.01 —
# the scale the driver's correctness gate runs at.
import os as _os

_GOLDEN_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "tests", "goldens",
)
_DOCS_GOLDEN = _os.path.join(_GOLDEN_DIR, "golden_extract_docs_sf0.01.jsonl.gz")
_SPANS_GOLDEN = _os.path.join(_GOLDEN_DIR, "golden_extract_spans_sf0.01.jsonl.gz")
_WARC_GOLDEN = _os.path.join(_GOLDEN_DIR, "golden_warc_extract.jsonl.gz")
_WARC_FIXTURE_DIR = _os.path.join(
    _os.path.dirname(_GOLDEN_DIR), "fixtures", "warc"
)

ORACLES: dict[str, str] = {
    "extract_documents": f"""
        SELECT url, lang, n_blocks::INT AS n_blocks,
               n_chars::BIGINT AS n_chars, method
        FROM read_json_auto('{_DOCS_GOLDEN}')
    """,
    "extract_host_stats": f"""
        SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
               count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS total_chars
        FROM read_json_auto('{_DOCS_GOLDEN}')
        GROUP BY host
    """,
    "extract_spans": f"""
        SELECT url, page::INT AS page, n_spans::INT AS n_spans,
               first_block::INT AS first_block
        FROM read_json_auto('{_SPANS_GOLDEN}')
    """,
    "warc_extract": f"""
        SELECT url, n_blocks::INT AS n_blocks,
               n_chars::BIGINT AS n_chars, method
        FROM read_json_auto('{_WARC_GOLDEN}')
    """,
}
