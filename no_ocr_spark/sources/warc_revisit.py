"""WARC revisit records — storage-side dedup for re-crawls, per ISO
28500 / the IIPC identical-payload-digest profile: when a crawler
fetches a payload whose digest it already archived, it writes a
`WARC-Type: revisit` record (headers only, Content-Length: 0, a
`WARC-Payload-Digest` plus `WARC-Refers-To-Target-URI/-Date` pointing
at the canonical capture) instead of re-storing the bytes. Every
large-scale archive (Common Crawl, Internet Archive) relies on this;
it complements the engine's crawl-TIME dedup (operators/bloom.py) with
the archive-WRITE dedup.

Spark shape:
  * canonical selection is a RELATIONAL pre-pass: one shuffle keyed on
    the 20-byte sha1 payload digest (never the payload), min
    (warc_ts, url) per digest wins; everything downstream is the
    existing `write_member_parts` sink discipline.
  * the reader resolves revisits back to bytes with one equi-join on
    the digest — revisits are the join's SMALL side by construction
    (they exist because storage was saved).

Digest format: `sha1:<hex>` (the spec fixes `algorithm:value`; hex is
the engine's choice and is round-tripped verbatim, so resolution never
re-derives it).
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import materialize
from no_ocr_spark.sources.warc import (
    _CRLF,
    build_warc,
    iter_warc_records,
    parse_warc_date,
    write_member_parts,
)

REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)

WARC_RESOLVED_SCHEMA = (
    "url string, warc_ts timestamp, html binary, "
    "digest string, was_revisit boolean"
)


def _revisit_bytes(rec: dict) -> bytes:
    """One revisit record: headers only, zero-length block."""
    date = rec["date"].strftime("%Y-%m-%dT%H:%M:%SZ").encode()
    ref_date = rec["ref_date"].strftime("%Y-%m-%dT%H:%M:%SZ").encode()
    return (
        b"WARC/1.0\r\n"
        b"WARC-Type: revisit\r\n"
        b"WARC-Profile: " + REVISIT_PROFILE.encode() + _CRLF +
        b"WARC-Target-URI: " + rec["url"].encode() + _CRLF +
        b"WARC-Date: " + date + _CRLF +
        b"WARC-Payload-Digest: " + rec["digest"].encode() + _CRLF +
        b"WARC-Refers-To-Target-URI: " + rec["ref_url"].encode() + _CRLF +
        b"WARC-Refers-To-Date: " + ref_date + _CRLF +
        b"Content-Length: 0\r\n"
        # blank line terminating the header block, empty block, then the
        # two-CRLF record separator (ISO 28500 grammar: short one CRLF
        # here and the frame walker lands INSIDE the next record)
        + _CRLF + _CRLF * 2
    )


def pages_to_warc_dedup(df: DataFrame, out_dir: str,
                        compress: bool = True) -> list[dict]:
    """(url, warc_ts, html) -> WARC parts where repeated payloads become
    revisit records. Canonical capture per digest = min (warc_ts, url).
    Returns the part manifest [{file, n_records, n_bytes}]."""
    from pyspark.sql import Window

    digested = df.select(
        "url", "warc_ts", "html",
        F.concat(F.lit("sha1:"), F.sha1("html")).alias("digest"),
    )
    # Canonical selection WITHOUT moving html: aggregate a SLIM
    # (url, ts, digest) projection down to one row per DUPLICATED digest
    # (its min-(ts, url) canonical), then broadcast that ref table back
    # onto the fat frame keyed by digest — html never rides a shuffle
    # and the expensive page subtree is never self-joined (the first
    # slim-window formulation cost 11.7x at 10x; a slim-window + url
    # self-join re-sorted and recomputed the fat side for 35x). The
    # broadcast is one row per repeated payload — the re-crawl working
    # set; a crawl where THAT outgrows executor memory shards the sink
    # by digest range first (disclosed knob).
    refs = (
        digested.select("url", "warc_ts", "digest")
        .groupBy("digest")
        .agg(
            F.count("*").alias("grp"),
            F.min(F.struct("warc_ts", "url")).alias("canon"),
        )
        .filter(F.col("grp") > 1)
        .select(
            F.col("digest").alias("r_digest"),
            F.col("canon.url").alias("ref_url"),
            F.col("canon.warc_ts").alias("ref_ts"),
        )
    )
    marked = (
        digested.join(F.broadcast(refs),
                      digested.digest == refs.r_digest, "left")
        .select(
            "url", "warc_ts", "html", "digest",
            (F.col("ref_url").isNotNull()
             & ~((F.col("url") == F.col("ref_url"))
                 & (F.col("warc_ts") == F.col("ref_ts"))))
            .alias("is_revisit"),
            "ref_url", "ref_ts",
        )
    )

    def row_bytes(r) -> bytes:
        date = r["warc_ts"] or dt.datetime(1970, 1, 1)
        if r["is_revisit"]:
            return _revisit_bytes({
                "url": r["url"], "date": date, "digest": r["digest"],
                "ref_url": r["ref_url"],
                "ref_date": r["ref_ts"] or dt.datetime(1970, 1, 1),
            })
        return build_warc([{
            "url": r["url"], "date": date,
            "payload": bytes(r["html"]), "http": True,
        }])

    return write_member_parts(marked, out_dir, ".warc", row_bytes,
                              compress=compress)


def _explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        rows: dict[str, list] = {
            "url": [], "warc_ts": [], "html": [],
            "digest": [], "was_revisit": [],
        }
        for content in pdf["content"]:
            for headers, block in iter_warc_records(bytes(content)):
                wtype = headers.get("warc-type")
                if wtype == "response":
                    payload = block
                    if headers.get("content-type", "").startswith(
                            "application/http"):
                        env_end = block.find(b"\r\n\r\n")
                        payload = (block[env_end + 4:]
                                   if env_end != -1 else block)
                    digest = "sha1:" + hashlib.sha1(payload).hexdigest()
                    rows["html"].append(payload)
                    rows["was_revisit"].append(False)
                elif wtype == "revisit":
                    digest = headers.get("warc-payload-digest", "")
                    rows["html"].append(None)
                    rows["was_revisit"].append(True)
                else:
                    continue
                rows["url"].append(headers.get("warc-target-uri", ""))
                rows["warc_ts"].append(parse_warc_date(headers))
                rows["digest"].append(digest)
        yield pd.DataFrame(rows)


def pages_from_warc_resolved(spark: SparkSession, path: str,
                             glob: str = "*.warc*") -> DataFrame:
    """Read responses AND revisits; resolve each revisit's payload from
    the canonical response via one digest equi-join."""
    raw = materialize(
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
        .mapInPandas(_explode, schema=WARC_RESOLVED_SCHEMA)
    )
    # r6 (guide §2.3/§8): resolve ONLY revisits instead of left-joining
    # the whole archive against a min(html)-per-digest aggregation of
    # every response — that shuffled every payload byte by digest; the
    # re-crawl working set (revisit digests) is the small side by
    # construction, so build min(html) just for those digests (semi-join
    # prune BEFORE the payload shuffle) and union the untouched
    # responses back. Same rows: responses keep their own bytes
    # (coalesce(html, _) was the identity for them), revisits get
    # min(html) over the same per-digest response set as before
    # (restricting to revisit digests cannot change a digest's min), and
    # unmatched revisits stay NULL through the left join.
    rev = raw.filter(F.col("was_revisit"))
    resp = raw.filter(~F.col("was_revisit"))
    needed = rev.select(F.col("digest").alias("r_digest")).distinct()
    rhtml = (
        resp.join(F.broadcast(needed),
                  resp.digest == F.col("r_digest"), "left_semi")
        .groupBy(F.col("digest").alias("r_digest"))
        .agg(F.min("html").alias("r_html"))
    )
    resolved = (
        rev.join(rhtml, rev.digest == F.col("r_digest"), "left")
        .select("url", "warc_ts", F.col("r_html").alias("html"),
                "digest", "was_revisit")
    )
    return resp.select(
        "url", "warc_ts", "html", "digest", "was_revisit"
    ).unionByName(resolved)
