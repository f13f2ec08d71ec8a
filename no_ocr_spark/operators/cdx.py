"""CDX index generation — Common Crawl's lookup artifact over WARC
archives: every capture keyed by its SURT url form + 14-digit timestamp,
carrying the (file, offset, length) needed to range-fetch exactly one
gzip member out of a petabyte of .warc.gz (the cc-index / cdxj format;
SURT and CDX are public IIPC/webarchive conventions).

Two legs:

  * `q_cdx_index` — the RELATIONAL leg (extras query, exact DuckDB
    oracle): documents -> deterministically synthesized capture urls
    covering the SURT edge cases (www., ports, subdomains, query
    strings, root paths) -> (urlkey, ts, digest). Pure codegen string
    work via textexpr.surt_key (dual-dialect, empirically verified
    identical) — map-only, no shuffle, scales trivially.
  * `cdx_from_warc` — the ARCHIVE leg: binaryFile over the WARC sink's
    part-*.warc.gz -> one Arrow-batched stage walking each file's
    PER-RECORD gzip members (the sink's Common Crawl framing: each
    record independently inflatable) -> (urlkey, ts, filename, offset,
    length, digest) rows. Offset/length are byte-exact member
    boundaries: seeking `offset` and reading `length` bytes yields one
    valid .gz member — the range-request contract. Parallel unit = one
    archive file = one task, matching the reader; member walking is a
    single forward pass over the compressed bytes (zlib streams report
    unused_data, no decompress-twice).

The archive leg has no SQL oracle (offsets depend on gzip encoder
output); it is round-trip tested instead: index -> range-read each
(offset, length) slice -> inflate -> parse -> byte-compare against the
rows that were written (tests/test_cdx.py).
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

HOSTS = 23  # capture-url synthesis shares linkgraph's host universe

# deterministic capture-url rule (mirrored arithmetically in the oracle):
# four url shapes exercising every SURT feature
_URL_CASES_SPARK = f"""
    case cast(doc_id % 4 as int)
      when 0 then concat('http://www.host', cast(doc_id % {HOSTS} as string),
                         '.example/doc', cast(doc_id as string))
      when 1 then concat('https://host', cast(doc_id % {HOSTS} as string),
                         '.example:8443/doc', cast(doc_id as string),
                         '?q=', cast(doc_id % 7 as string))
      when 2 then concat('http://sub', cast(doc_id % 3 as string),
                         '.host', cast(doc_id % {HOSTS} as string),
                         '.example/a/b', cast(doc_id as string))
      else concat('https://www.host', cast(doc_id % {HOSTS} as string),
                  '.example/')
    end
"""

_URL_CASES_DUCK = f"""
    CASE doc_id % 4
      WHEN 0 THEN 'http://www.host' || (doc_id % {HOSTS}) ||
                  '.example/doc' || doc_id
      WHEN 1 THEN 'https://host' || (doc_id % {HOSTS}) ||
                  '.example:8443/doc' || doc_id || '?q=' || (doc_id % 7)
      WHEN 2 THEN 'http://sub' || (doc_id % 3) || '.host' ||
                  (doc_id % {HOSTS}) || '.example/a/b' || doc_id
      ELSE 'https://www.host' || (doc_id % {HOSTS}) || '.example/'
    END
"""

# 14-digit CDX timestamp derived arithmetically from doc_id (no timezone
# machinery on either engine): fixed day, doc_id seconds-of-day
_TS_SPARK = """
    concat('20240101',
           lpad(cast(cast(doc_id / 3600 as bigint) % 24 as string), 2, '0'),
           lpad(cast(cast(doc_id / 60 as bigint) % 60 as string), 2, '0'),
           lpad(cast(doc_id % 60 as string), 2, '0'))
"""

_TS_DUCK = """
    '20240101' || lpad(((doc_id // 3600) % 24)::VARCHAR, 2, '0')
               || lpad(((doc_id // 60) % 60)::VARCHAR, 2, '0')
               || lpad((doc_id % 60)::VARCHAR, 2, '0')
"""


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    )
    caps = docs.select(
        "doc_id",
        F.expr(_URL_CASES_SPARK).alias("url"),
        F.expr(_TS_SPARK).alias("ts"),
        F.md5(F.col("text").cast("binary")).alias("digest"),
    )
    return caps.select(
        F.expr(tx.surt_key("spark", "url")).alias("urlkey"),
        "ts",
        "url",
        "digest",
    )


QUERIES = {"cdx_index": q_cdx_index}

ORACLES = {
    "cdx_index": f"""
        WITH caps AS (
          SELECT doc_id,
                 {_URL_CASES_DUCK} AS url,
                 {_TS_DUCK} AS ts,
                 md5(text) AS digest
          FROM documents
        )
        SELECT {tx.surt_key('duckdb', 'url')} AS urlkey, ts, url, digest
        FROM caps
    """
}


# --- archive leg -----------------------------------------------------------

def iter_gzip_members(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """(offset, length, inflated) per gzip member of a multi-member .gz.

    One forward pass: each zlib stream consumes exactly one member and
    reports the remainder via unused_data — offsets are byte-exact
    without re-scanning for magic bytes (which can occur inside
    compressed payloads)."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        inflated = d.decompress(data[pos:])
        if not d.eof:
            raise ValueError(f"truncated gzip member at offset {pos}")
        consumed = (n - pos) - len(d.unused_data)
        yield pos, consumed, inflated
        pos += consumed


def cdx_from_warc(spark: SparkSession, warc_dir: str) -> DataFrame:
    """part-*.warc.gz -> (urlkey, ts, filename, offset, length, digest).

    digest is md5 of the record's decoded HTML payload (post HTTP
    envelope strip) — the dedup key CDX consumers use. urlkey is
    computed JVM-side from the parsed url (codegen, not Python)."""
    import posixpath

    from no_ocr_spark.sources.warc import parse_warc

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc.gz")
        .load(warc_dir)
        .select("path", "content")
    )

    def index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out: dict[str, list] = {
                "url": [], "ts": [], "filename": [],
                "offset": [], "length": [], "digest": [],
            }
            for path, content in zip(b["path"], b["content"]):
                fname = posixpath.basename(str(path))
                data = bytes(content)
                for off, ln, raw in iter_gzip_members(data):
                    recs = parse_warc(raw)
                    if len(recs) != 1:
                        raise ValueError(
                            f"{fname}@{off}: expected 1 record per member, "
                            f"got {len(recs)}"
                        )
                    r = recs[0]
                    ts = r["warc_ts"]
                    out["url"].append(r["url"])
                    out["ts"].append(
                        ts.strftime("%Y%m%d%H%M%S") if ts else None
                    )
                    out["filename"].append(fname)
                    out["offset"].append(off)
                    out["length"].append(ln)
                    out["digest"].append(
                        hashlib.md5(r["payload"]).hexdigest()
                    )
            yield pd.DataFrame(out)

    raw = files.mapInPandas(
        index,
        schema=("url string, ts string, filename string, offset long, "
                "length long, digest string"),
    )
    return raw.select(
        F.expr(tx.surt_key("spark", "url")).alias("urlkey"),
        "ts", "url", "filename", "offset", "length", "digest",
    )
