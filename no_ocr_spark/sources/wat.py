"""WAT metadata artifact: per-page structured metadata as JSON — the
third member of Common Crawl's public archive triple (WARC raw capture,
WAT metadata, WET extracted text; the WAT layout is the IIPC
`WARC-Type: metadata` + `application/json` envelope convention on top
of ISO 28500 framing).

Each record's payload is a JSON envelope carrying the page's capture
headers and parsed HTML metadata (head title + outgoing links) — the
artifact crawl consumers use when they need link/metadata analytics
WITHOUT re-parsing terabytes of raw HTML. This engine computes exactly
those fields already (the link-graph DOM stage); WAT is their
interchange serialization. This module keeps only the WAT record rules;
rendering, framing, the scan and the part writer are the shared codec
in `sources/warc.py`:

  * `build_wat_record` — one `metadata` record whose payload is the JSON
    envelope (json.dumps with sorted keys — byte-reproducible across runs
    and cluster sizes).
  * `parse_wat` — metadata records -> [{url, warc_ts, title, links}].
  * `metadata_from_pages` — Spark stage: (url, html) -> (url, title,
    links) via ONE Arrow-batched pass over the same from-scratch DOM
    stack the extractor and link graph use: one parse and one walk per
    page yield the title and the anchor pairs together.
  * `pages_to_wat` / `wat_from_files` — Spark sink and source
    (`part-N.warc.wat[.gz]` parts, read back one file per task).

Scale: WAT payloads are title+links only — like WET, a small fraction
of the WARC bytes; the sink writes whatever partitioning the metadata
stage already has (no shuffle anywhere in the leg).
"""

from __future__ import annotations

import datetime as dt
import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from no_ocr_spark.sources.warc import (
    iter_warc_records,
    parse_warc_date,
    record,
    scan,
    warc_date,
    write_member_parts,
)

WAT_META_SCHEMA = (
    "url string, warc_ts timestamp, title string, "
    "links array<struct<url:string,text:string>>"
)


def _envelope(url: str, date: str, title: str,
              links: list[dict]) -> bytes:
    env = {
        "Envelope": {
            "WARC-Header-Metadata": {
                "WARC-Target-URI": url,
                "WARC-Date": date,
                "WARC-Type": "response",
            },
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": {
                        "Head": {"Title": title},
                        "Links": links,
                    }
                }
            },
        }
    }
    return json.dumps(env, sort_keys=True, ensure_ascii=False,
                      separators=(",", ":")).encode("utf-8")


def build_wat_record(url: str, date: dt.datetime | None, title: str,
                     links: list[dict]) -> bytes:
    """One WARC-Type: metadata record whose payload is the JSON envelope.
    links: [{"url": href, "text": anchor_text}] in document order."""
    d = warc_date(date)
    return record([
        ("WARC-Type", "metadata"),
        ("WARC-Target-URI", url),
        ("WARC-Date", d),
        ("Content-Type", "application/json"),
    ], _envelope(url, d, title, links))


def parse_wat(data: bytes) -> list[dict]:
    """WAT bytes -> [{url, warc_ts, title, links}] for metadata records."""
    out: list[dict] = []
    for headers, block in iter_warc_records(data):
        if headers.get("warc-type") != "metadata":
            continue
        env = json.loads(block.decode("utf-8"))["Envelope"]
        html_meta = (env["Payload-Metadata"]["HTTP-Response-Metadata"]
                     ["HTML-Metadata"])
        out.append({
            "url": headers.get("warc-target-uri", ""),
            "warc_ts": parse_warc_date(headers),
            "title": html_meta["Head"]["Title"],
            "links": html_meta["Links"],
        })
    return out


def metadata_from_pages(pages: DataFrame) -> DataFrame:
    """(url, html [, warc_ts]) -> (url, warc_ts, title, links) in one
    Arrow-batched DOM pass (title + anchor pairs from one walk — the html
    bytes are parsed exactly once).

    warc_ts crosses the Python boundary as INT64 MICROS, not a timestamp
    column: Arrow->pandas input conversion casts timestamps to ns and
    raises on values past 2262 (pandas' datetime64[ns] range) — hit by
    key-shifted benchmark corpora whose doc_id-derived captures land
    centuries out — while unix_micros/timestamp_micros round-trip any
    int64 exactly and ship 8 opaque bytes per row (guide §4.1)."""
    from pyspark.sql import functions as F

    from no_ocr_spark.operators.linkgraph import _title_and_anchors

    has_ts = "warc_ts" in pages.columns

    def rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            urls, tss, titles, links = [], [], [], []
            for i, (url, html) in enumerate(zip(b["url"], b["html"])):
                payload = bytes(html) if html is not None else b""
                urls.append(url)
                tss.append(b["ts_us"].iloc[i] if has_ts else None)
                title, pairs = _title_and_anchors(payload)
                titles.append(title)
                links.append([{"url": href, "text": t} for href, t in pairs])
            yield pd.DataFrame({
                "url": urls, "ts_us": tss,
                "title": titles, "links": links,
            })

    cols = [F.col("url"), F.col("html")] + (
        [F.unix_micros(F.col("warc_ts")).alias("ts_us")] if has_ts else []
    )
    out_schema = ("url string, ts_us bigint, title string, "
                  "links array<struct<url:string,text:string>>")
    mapped = pages.select(*cols).mapInPandas(rows, schema=out_schema)
    return mapped.select(
        "url",
        F.timestamp_micros(F.col("ts_us")).alias("warc_ts"),
        "title", "links",
    )


def pages_to_wat(df: DataFrame, out_dir: str,
                 compress: bool = True) -> list[dict]:
    """Metadata sink: (url, warc_ts, title, links) rows -> one
    `part-N.warc.wat[.gz]` per partition (shared `write_member_parts`
    discipline). Returns [{file, n_records, n_bytes}]."""
    def row_bytes(r) -> bytes:
        links = [{"url": x["url"], "text": x["text"]}
                 for x in (r["links"] or [])]
        return build_wat_record(r["url"], r["warc_ts"],
                                r["title"] or "", links)

    return write_member_parts(
        df.select("url", "warc_ts", "title", "links"), out_dir,
        ".warc.wat", row_bytes, compress=compress,
    )


def wat_from_files(spark: SparkSession, path: str,
                   glob: str = "*.wat*") -> DataFrame:
    """Directory of WAT files -> (url, warc_ts, title, links) DataFrame."""
    return scan(spark, path, glob, parse_wat, WAT_META_SCHEMA)
