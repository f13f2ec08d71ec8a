"""CDX index generation — Common Crawl's lookup artifact over WARC
archives: every capture keyed by its SURT url form + 14-digit timestamp,
carrying the (file, offset, length) needed to range-fetch exactly one
gzip member out of a petabyte of .warc.gz (the cc-index / cdxj format;
SURT and CDX are public IIPC/webarchive conventions).

`q_cdx_index` (extras query, exact DuckDB oracle): documents ->
deterministically synthesized capture urls covering the SURT edge cases
(www., ports, subdomains, query strings, root paths) -> (urlkey, ts,
digest). Pure codegen string work via textexpr.surt_key (dual-dialect,
empirically verified identical) — map-only, no shuffle, scales
trivially.

The range-request contract a cc-index row relies on — every record of a
compressed WARC sink part is its own gzip member, so (offset, length)
slices inflate independently — is a property of the sink
(`sources/warc.py write_member_parts`) and is tested there
(tests/test_sources_warc.py).
"""

from __future__ import annotations

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
