"""WARC sink round-trip as an oracle-checked query.

The sink (`sources/warc.py pages_to_warc`) was pytest-only evidence; this
query runs the full sink -> source cycle inside the parity harness: derive
the pages corpus, WRITE it through the per-record-gzip WARC sink (atomic
rename, pyarrow.fs seam), read the archives back through `pages_from_warc`
(binaryFile scan -> Arrow-batched record framing), and emit a per-url
verdict comparing xxhash64(html) and warc_ts before/after. The DuckDB
oracle pins the row set and the all-true verdict columns — a red row means
either a lost/duplicated record or a corrupted payload.

Like merge_upsert_read, this query deliberately RUNS the write at compose
time (it exercises a writer; it is not a plan-builder) and reads back
lazily from a per-session scratch dir (`session.scratch_dir`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.operators.extraction_queries import pages_from_documents
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.session import scratch_dir
from no_ocr_spark.sources.tables import load_table
from no_ocr_spark.sources.warc import pages_from_warc, pages_to_warc


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(spark, sf_dir).select(
        "url", "warc_ts", "html"
    )
    # one dir per session and sf, not a fresh mkdtemp per compose: the
    # sink clears stale parts itself, so repeated invocations overwrite one
    # corpus copy instead of accumulating copies in /tmp across
    # parity/audit/bench loops
    out = scratch_dir(spark, "no_ocr_warc_gate",
                      os.path.basename(sf_dir.rstrip("/")))
    pages_to_warc(pages, out, compress=True)
    back = pages_from_warc(spark, out).select(
        "url",
        F.col("warc_ts").alias("ts_back"),
        F.xxhash64("html").alias("h_back"),
    )
    src = pages.select(
        "url",
        F.col("warc_ts").alias("ts_src"),
        F.xxhash64("html").alias("h_src"),
    )
    return (
        src.join(back, "url", "full")
        .select(
            "url",
            (F.col("h_back") == F.col("h_src")).alias("payload_ok"),
            # WARC-Date carries second resolution; the source ts is
            # second-aligned by construction, so equality is exact
            (F.col("ts_back") == F.col("ts_src")).alias("ts_ok"),
        )
    )


def q_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET artifact round trip (sources/wet.py): documents -> extracted-
    text rows -> per-record-gzip WET sink -> binaryFile WET source ->
    per-url verdict. The oracle pins every url, the exact UTF-8 text
    digest, and ts equality — so a lost record, a warcinfo mis-skip, or
    any byte drift in the Content-Length-framed payload goes red. The
    per-row ts (epoch-2024 + doc_id seconds) exercises real date
    round-tripping through the WARC-Date header, not one constant."""
    from no_ocr_spark.sources.wet import texts_from_wet, texts_to_wet

    docs = load_table(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/doc-"), F.col("doc_id")).alias("url"),
        F.expr("timestamp'2024-01-01 00:00:00' "
               "+ make_interval(0, 0, 0, 0, 0, 0, doc_id)").alias("warc_ts"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    out = scratch_dir(spark, "no_ocr_wet_gate",
                      os.path.basename(sf_dir.rstrip("/")))
    # fan the sink input out: one task per part file, so the gzip and the
    # read-back parse both run on every core
    texts_to_wet(fan_out_for_cpu(docs, spark), out, compress=True)
    back = texts_from_wet(spark, out).select(
        "url",
        F.col("warc_ts").alias("ts_back"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
    )
    src = docs.select("url", F.col("warc_ts").alias("ts_src"))
    return (
        src.join(back, "url", "full")
        .select(
            "url", "text_md5",
            (F.col("ts_back") == F.col("ts_src")).alias("ts_ok"),
        )
    )


def q_wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata artifact round trip (sources/wat.py): link-bearing
    pages -> one-Arrow-pass DOM metadata (title + anchor links) -> WAT
    sink (JSON envelopes in metadata records) -> binaryFile WAT source
    -> per-url verdict. The oracle regenerates title, link COUNT, and an
    order-sensitive digest of every (href, anchor text) pair in closed
    form from the authored corpus rules — so a dropped link, a reordered
    list, or any byte drift through the JSON envelope goes red."""
    from no_ocr_spark.operators.linkgraph import pages_with_links
    from no_ocr_spark.sources.wat import (
        metadata_from_pages,
        pages_to_wat,
        wat_from_files,
    )

    pages = materialize(pages_with_links(spark, sf_dir).withColumn(
        "warc_ts",
        F.expr("timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0,"
               " 0, 0, cast(regexp_extract(url, 'doc(\\\\d+)$', 1) as"
               " bigint))"),
    ))
    out = scratch_dir(spark, "no_ocr_wat_gate",
                      os.path.basename(sf_dir.rstrip("/")))
    pages_to_wat(metadata_from_pages(pages), out)
    back = wat_from_files(spark, out)
    src = pages.select("url", F.col("warc_ts").alias("ts_src"))
    return back.join(src, "url").select(
        "url", "title",
        F.size("links").alias("n_links"),
        F.md5(F.encode(
            F.expr("concat_ws(';', transform(links,"
                   " x -> concat(x.url, '|', x.text)))"), "UTF-8"
        )).alias("links_md5"),
        (F.col("warc_ts") == F.col("ts_src")).alias("ts_ok"),
    )


def _wat_oracle() -> str:
    from no_ocr_spark.operators.linkgraph import HOSTS, N_LINKS

    return f"""
        WITH links AS (
          SELECT doc_id, j,
                 doc_id % {HOSTS} AS h,
                 ((doc_id % {HOSTS}) + ((doc_id // {HOSTS}) % 7)
                  + 3 * j + 1) % {HOSTS} AS k
          FROM documents,
               (SELECT unnest(generate_series(0, {N_LINKS - 1})) AS j)
        ),
        -- the authored offset is never 0 mod {HOSTS}, so k <> h always
        -- holds and every doc keeps all {N_LINKS} links
        per_doc AS (
          SELECT doc_id, count(*) AS n_links,
                 md5(string_agg(
                   'http://host' || k::VARCHAR || '.example/|h'
                     || k::VARCHAR || ' t' || ((doc_id + j) % 5)::VARCHAR,
                   ';' ORDER BY j)) AS links_md5
          FROM links WHERE k <> h GROUP BY doc_id
        )
        SELECT 'http://host' || (d.doc_id % {HOSTS})::VARCHAR
                 || '.example/doc' || d.doc_id::VARCHAR AS url,
               'doc' || d.doc_id::VARCHAR AS title,
               p.n_links, p.links_md5, true AS ts_ok
        FROM documents d JOIN per_doc p USING (doc_id)
    """


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip JSONL training-shard round trip (sources/jsonl.py): documents
    in Dolma shape -> canonical-serialization sink (per-record gzip
    members) -> NATIVE spark.read.json with explicit schema -> per-id
    verdict. The oracle regenerates id, the exact UTF-8 text digest, and
    the metadata fields closed-form from the documents view — a dropped
    line, a mangled non-ASCII char (ensure_ascii=False path), or a
    mistyped metadata subfield goes red."""
    from no_ocr_spark.sources.jsonl import (
        docs_from_jsonl,
        docs_to_jsonl,
        documents_as_jsonl_rows,
    )

    docs = documents_as_jsonl_rows(spark, sf_dir)
    out = scratch_dir(spark, "no_ocr_jsonl_gate",
                      os.path.basename(sf_dir.rstrip("/")))
    docs_to_jsonl(fan_out_for_cpu(docs, spark), out, compress=True)
    back = docs_from_jsonl(spark, out).select(
        "id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
        F.col("source").alias("source_back"),
        F.col("metadata.lang").alias("lang_back"),
        F.col("metadata.n_chars").alias("nchars_back"),
    )
    src = docs.select(
        "id", F.col("source").alias("source_src"),
        F.col("metadata.lang").alias("lang_src"),
        F.col("metadata.n_chars").alias("nchars_src"),
    )
    # null-safe equality: a faithfully round-tripped NULL metadata field
    # is green; a row lost on either side of the full join still goes
    # red (eqNullSafe(value, NULL) = false)
    return src.join(back, "id", "full").select(
        "id", "text_md5",
        F.col("source_back").eqNullSafe(F.col("source_src")).alias("source_ok"),
        F.col("lang_back").eqNullSafe(F.col("lang_src")).alias("lang_ok"),
        F.col("nchars_back").eqNullSafe(F.col("nchars_src")).alias("nchars_ok"),
    )


def q_warc_revisit_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO 28500 revisit-record round trip (sources/warc_revisit.py):
    pages + a re-crawl of every 10th page (same payload, mirror url, +1
    day) -> digest-dedup WARC sink (repeats become revisit records) ->
    resolving source (digest join restores bytes) -> per-url verdict.
    The oracle pins the url set, which captures became revisits, and
    payload/ts fidelity — a wrong canonical pick, an unresolved revisit,
    or byte drift goes red."""
    from no_ocr_spark.sources.warc_revisit import (
        pages_from_warc_resolved,
        pages_to_warc_dedup,
    )

    pages = materialize(pages_from_documents(spark, sf_dir).select(
        "url", "warc_ts", "html"))
    mirrors = pages.filter(
        F.regexp_extract("url", "doc-(\\d+)$", 1).cast("long") % 10 == 0
    ).select(
        F.concat(F.lit("https://mirror.example.net/"),
                 F.regexp_extract("url", "(doc-\\d+)$", 1)).alias("url"),
        F.expr("warc_ts + make_interval(0, 0, 0, 1, 0, 0, 0)")
         .alias("warc_ts"),
        "html",
    )
    crawl = pages.unionByName(mirrors)
    out = scratch_dir(spark, "no_ocr_revisit_gate",
                      os.path.basename(sf_dir.rstrip("/")))
    pages_to_warc_dedup(crawl, out, compress=True)
    back = pages_from_warc_resolved(spark, out).select(
        "url",
        F.col("warc_ts").alias("ts_back"),
        F.xxhash64("html").alias("h_back"),
        "was_revisit",
    )
    src = crawl.select(
        "url",
        F.col("warc_ts").alias("ts_src"),
        F.xxhash64("html").alias("h_src"),
    )
    return src.join(back, "url", "full").select(
        "url",
        (F.col("h_back") == F.col("h_src")).alias("payload_ok"),
        (F.col("ts_back") == F.col("ts_src")).alias("ts_ok"),
        "was_revisit",
    )


QUERIES = {"warc_roundtrip": q_warc_roundtrip,
           "wet_roundtrip": q_wet_roundtrip,
           "wat_roundtrip": q_wat_roundtrip,
           "jsonl_roundtrip": q_jsonl_roundtrip,
           "warc_revisit_roundtrip": q_warc_revisit_roundtrip}

ORACLES = {
    "warc_roundtrip": """
        SELECT 'https://' || source || '.example.org/doc-'
                   || doc_id::VARCHAR AS url,
               true AS payload_ok,
               true AS ts_ok
        FROM documents
    """,
    "wet_roundtrip": """
        SELECT 'https://' || source || '.example.org/doc-'
                   || doc_id::VARCHAR AS url,
               md5(coalesce(text, '')) AS text_md5,
               true AS ts_ok
        FROM documents
    """,
    "wat_roundtrip": _wat_oracle(),
    "jsonl_roundtrip": """
        SELECT source || '/' || doc_id::VARCHAR AS id,
               md5(coalesce(text, '')) AS text_md5,
               true AS source_ok,
               true AS lang_ok,
               true AS nchars_ok
        FROM documents
    """,
    "warc_revisit_roundtrip": """
        SELECT 'https://' || source || '.example.org/doc-'
                   || doc_id::VARCHAR AS url,
               true AS payload_ok, true AS ts_ok,
               false AS was_revisit
        FROM documents
        UNION ALL
        SELECT 'https://mirror.example.net/doc-' || doc_id::VARCHAR,
               true, true, true
        FROM documents WHERE doc_id % 10 = 0
    """,
}
