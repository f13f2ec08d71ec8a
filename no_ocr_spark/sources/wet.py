"""WET extracted-text artifact: the crawl-side OUTPUT format of an
extraction pipeline (Common Crawl publishes exactly this next to each
WARC segment — `*.warc.wet.gz` files of `WARC-Type: conversion`
records whose payload is the extracted plain text; the layout is the
public IIPC/Common-Crawl convention on top of ISO 28500 WARC framing).

The reference materializes extracted text as rows in its store
(`no-ocr-api/np_ocr/data.py` writes per-page text into LanceDB); at
crawl scale the interchange artifact for the same content is WET.
This module keeps only the WET record rules; rendering, framing, the
scan and the part writer are the shared codec in `sources/warc.py`:

  * `build_wet` — one leading `warcinfo` record (what real WET files
    carry) + one `conversion` record per document, UTF-8 payloads.
  * `parse_wet` — conversion records -> [{url, warc_ts, text}];
    warcinfo and other record types skipped.
  * `texts_to_wet` / `texts_from_wet` — Spark sink and source:
    `part-N.warc.wet[.gz]` parts with the warcinfo record as its own
    leading gzip member, read back one file per task.

Scale: WET payloads are ~5-10x smaller than their WARC html; a
10^12-doc crawl's WET leg is ~10^5-10^6 files — the same
beyond-linear file parallelism as the WARC leg, and the sink never
shuffles (it writes whatever partitioning the extraction output
already has).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from no_ocr_spark.sources.warc import (
    iter_warc_records,
    parse_warc_date,
    record,
    scan,
    warc_date,
    write_member_parts,
)

WET_TEXTS_SCHEMA = "url string, warc_ts timestamp, text string"

_WARCINFO_FIELDS = (
    b"software: no-ocr-spark\r\n"
    b"format: WARC File Format 1.0\r\n"
    b"conformsTo: ISO 28500\r\n"
)


def _warcinfo(filename: str) -> bytes:
    return record([
        ("WARC-Type", "warcinfo"),
        ("WARC-Filename", filename),
        ("WARC-Date", warc_date(None)),
        ("Content-Type", "application/warc-fields"),
    ], _WARCINFO_FIELDS)


def _conversion(url: str, date: dt.datetime | None,
                text: str) -> bytes:
    return record([
        ("WARC-Type", "conversion"),
        ("WARC-Target-URI", url),
        ("WARC-Date", warc_date(date)),
        ("Content-Type", "text/plain"),
    ], text.encode("utf-8"))


def build_wet(records: list[dict], filename: str = "part.warc.wet",
              warcinfo: bool = True) -> bytes:
    """records: [{url, date (datetime or None), text (str)}] -> WET bytes
    (uncompressed; the sink gzips per record member)."""
    head = [_warcinfo(filename)] if warcinfo else []
    return b"".join(head + [_conversion(r["url"], r["date"], r["text"])
                            for r in records])


def parse_wet(data: bytes) -> list[dict]:
    """WET bytes -> [{url, warc_ts, text}] for conversion records
    (warcinfo and any other record types skipped)."""
    return [
        {"url": headers.get("warc-target-uri", ""),
         "warc_ts": parse_warc_date(headers),
         "text": block.decode("utf-8")}
        for headers, block in iter_warc_records(data)
        if headers.get("warc-type") == "conversion"
    ]


def texts_from_wet(spark: SparkSession, path: str,
                   glob: str = "*.wet*") -> DataFrame:
    """Directory of WET files -> (url, warc_ts, text) DataFrame."""
    return scan(spark, path, glob, parse_wet, WET_TEXTS_SCHEMA)


def texts_to_wet(df: DataFrame, out_dir: str,
                 compress: bool = True) -> list[dict]:
    """Extracted-text sink: (url, warc_ts, text) rows -> one
    `part-N.warc.wet[.gz]` per partition. Compressed output is
    per-record gzip members with the warcinfo record as its own leading
    member (Common Crawl's convention), so the file is one valid
    .wet.gz AND every record inflates independently. Crash/retry/FS
    discipline is the shared `write_member_parts` helper; a NULL text is
    written as "". Returns [{file, n_records, n_bytes}]."""
    def row_bytes(r) -> bytes:
        return _conversion(r["url"], r["warc_ts"], r["text"] or "")

    return write_member_parts(
        df.select("url", "warc_ts", "text"), out_dir, ".warc.wet",
        row_bytes, leading_bytes_fn=_warcinfo, compress=compress,
    )
