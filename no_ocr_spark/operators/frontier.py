"""Crawl-frontier politeness scheduler — the fetch-side counterpart of
the robots gate (`robots.py`) and the per-host quota (`webops.py`): a
crawler must serialize its requests to one host (one fetch per
crawl-delay window, RFC 9309's Crawl-delay semantics) while keeping
every fetcher busy across hosts. Given candidate URLs with priorities,
this operator assigns each URL:

  * `slot`     — its position in the host's serialized schedule
                 (priority order; ties broken by url — deterministic),
  * `fetch_ts` — the earliest politeness-respecting fetch time,
                 t0 + slot * crawl_delay(host),
  * `fetcher`  — the worker shard, poly_hash(host) % N_FETCHERS.
                 Pinning a HOST to one fetcher is the invariant that
                 makes politeness enforceable with zero cross-worker
                 coordination — any shard assignment that splits a host
                 would need a distributed rate limiter.

Spark shape at 10^12 URLs: ONE shuffle, the window's hash-exchange on
host (the unavoidable key — politeness is per host); everything else is
codegen arithmetic. A host's schedule is inherently SEQUENTIAL — that
is the politeness semantics, not an implementation artifact — so giant
hosts don't straggle the window as long as the frontier is capped per
host first (compose with `host_quota`, which plans as WindowGroupLimit,
for exactly that). The fetcher column is a pure map-side expression:
re-sharding to actual workers is `repartition(N_FETCHERS, "fetcher")`,
one more exchange owned by the caller.

Corpus: candidate URLs, priorities, and per-host crawl delays are
synthesized from `documents` by arithmetic rules (doc d lives on host
d % 23, priority (d*37) % 1000, delay 1 + host % 5 seconds), so the
DuckDB oracle recomputes the whole schedule closed-form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.sources.tables import load_table

HOSTS = 23
N_FETCHERS = 8
T0 = "2024-01-01 00:00:00"


def frontier_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (url, host, priority, crawl_delay_s), all codegen."""
    return load_table(spark, sf_dir, "documents").select(
        F.expr(f"concat('http://host', doc_id % {HOSTS},"
               f" '.example/doc', doc_id)").alias("url"),
        F.expr(f"concat('host', doc_id % {HOSTS}, '.example')").alias("host"),
        F.expr("(doc_id * 37) % 1000").alias("priority"),
        F.expr(f"1 + (doc_id % {HOSTS}) % 5").alias("crawl_delay_s"),
    )


def schedule_frontier(cands: DataFrame) -> DataFrame:
    """(url, host, priority, crawl_delay_s) -> politeness schedule."""
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    return cands.select(
        "url", "host",
        (F.row_number().over(w) - F.lit(1)).alias("slot"),
        F.expr(f"pmod({docsig.poly_hash(cands.sparkSession, 'host')},"
               f" {N_FETCHERS})")
        .alias("fetcher"),
        "crawl_delay_s",
    ).select(
        "url", "host", "slot", "fetcher",
        F.expr(f"timestamp'{T0}' + make_interval(0, 0, 0, 0, 0, 0,"
               f" slot * crawl_delay_s)").alias("fetch_ts"),
    )


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    return schedule_frontier(frontier_candidates(spark, sf_dir))


def _oracle() -> str:
    h = tx.poly_hash("host")
    return f"""
        WITH cands AS (
          SELECT 'http://host' || (doc_id % {HOSTS})::VARCHAR
                   || '.example/doc' || doc_id::VARCHAR AS url,
                 'host' || (doc_id % {HOSTS})::VARCHAR || '.example' AS host,
                 (doc_id * 37) % 1000 AS priority,
                 1 + (doc_id % {HOSTS}) % 5 AS crawl_delay_s
          FROM documents),
        slotted AS (
          SELECT url, host,
                 row_number() OVER (PARTITION BY host
                     ORDER BY priority DESC, url ASC) - 1 AS slot,
                 (({h}) % {N_FETCHERS} + {N_FETCHERS}) % {N_FETCHERS}
                   AS fetcher,
                 crawl_delay_s
          FROM cands)
        SELECT url, host, slot, fetcher,
               TIMESTAMP '{T0}'
                 + (slot * crawl_delay_s) * INTERVAL 1 SECOND AS fetch_ts
        FROM slotted
    """


QUERIES = {"frontier_schedule": q_frontier_schedule}
ORACLES = {"frontier_schedule": _oracle()}
