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

This module keeps only the revisit record rules (which headers a revisit
carries; which record types and fields the resolving reader keeps);
rendering, framing, the scan and the part writer are the shared codec in
`sources/warc.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import materialize
from no_ocr_spark.sources.warc import (
    _http_payload,
    build_warc,
    iter_warc_records,
    parse_warc_date,
    record,
    scan,
    warc_date,
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
    """One revisit record: headers only (no Content-Type), empty block."""
    return record([
        ("WARC-Type", "revisit"),
        ("WARC-Profile", REVISIT_PROFILE),
        ("WARC-Target-URI", rec["url"]),
        ("WARC-Date", warc_date(rec["date"])),
        ("WARC-Payload-Digest", rec["digest"]),
        ("WARC-Refers-To-Target-URI", rec["ref_url"]),
        ("WARC-Refers-To-Date", warc_date(rec["ref_date"])),
    ], b"")


def pages_to_warc_dedup(df: DataFrame, out_dir: str,
                        compress: bool = True) -> list[dict]:
    """(url, warc_ts, html) -> WARC parts where repeated payloads become
    revisit records. Canonical capture per digest = min (warc_ts, url).
    Returns the part manifest [{file, n_records, n_bytes}]."""
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
        if r["is_revisit"]:
            return _revisit_bytes({
                "url": r["url"], "date": r["warc_ts"], "digest": r["digest"],
                "ref_url": r["ref_url"], "ref_date": r["ref_ts"],
            })
        return build_warc([{"url": r["url"], "date": r["warc_ts"],
                            "payload": bytes(r["html"])}])

    return write_member_parts(marked, out_dir, ".warc", row_bytes,
                              compress=compress)


def _resolved_rows(content: bytes) -> list[dict]:
    """Response and revisit records of one file; a response's digest is
    derived from its payload, a revisit's read from its header."""
    import hashlib

    rows = []
    for headers, block in iter_warc_records(content):
        wtype = headers.get("warc-type")
        if wtype == "response":
            html = _http_payload(headers, block)
            digest = "sha1:" + hashlib.sha1(html).hexdigest()
        elif wtype == "revisit":
            html, digest = None, headers.get("warc-payload-digest", "")
        else:
            continue
        rows.append({
            "url": headers.get("warc-target-uri", ""),
            "warc_ts": parse_warc_date(headers),
            "html": html, "digest": digest,
            "was_revisit": wtype == "revisit",
        })
    return rows


def pages_from_warc_resolved(spark: SparkSession, path: str,
                             glob: str = "*.warc*") -> DataFrame:
    """Read responses AND revisits; resolve each revisit's payload from
    the canonical response via one digest equi-join."""
    raw = materialize(
        scan(spark, path, glob, _resolved_rows, WARC_RESOLVED_SCHEMA))
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
