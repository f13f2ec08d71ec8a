"""Web-corpus curation operators: per-domain quotas, deterministic hash
sampling, URL canonicalization. The standard knobs every large web-text
pipeline turns between crawl and training (C4/RefinedWeb-style domain
caps, reproducible subsampling, URL normalization ahead of URL-level
dedup) — re-derived relationally, no code ported.

Scale shapes:
* host_quota — one window per domain with the limit pushed into the sort
  (WindowGroupLimit): rank docs inside each domain, keep the top N. The
  domain key is the classic skewed key; the targeted-salting story from
  extract_host_stats applies unchanged when one domain dominates.
* hash_sample — MAP-ONLY deterministic sampling: a doc is in the sample
  iff poly_hash(text) mod 100 < rate. No RNG state, no shuffle before the
  tiny per-stratum rollup; any worker, any cluster size, any retry picks
  the same rows (the property that matters for reproducible 100 TB runs).
* url_canonicalize — map-only normalization chain (lowercase scheme+host,
  drop default ports, strip fragments / utm_* params / leading www.),
  feeding URL-level exact dedup. Messy inputs are synthesized
  deterministically from doc_id in BOTH engines — no external data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

_QUOTA = 15    # max docs per domain
_RATE = 10     # sample percentage


def q_host_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N docs per domain by (n_chars DESC, doc_id ASC) — the
    domain-domination cap. WindowGroupLimit pushes N into the per-domain
    sort, so no domain's full doc list is ever materialized."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _QUOTA)
        .select("doc_id", "source", "n_chars",
                F.col("rk").cast("int").alias("rk"))
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample, reported per language stratum:
    (lang, n_total, n_sampled). Membership = poly_hash(text) mod 100 <
    10 — identical on every engine/run/cluster size."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("lang", "text"), spark)
    in_sample = F.expr(
        f"pmod({docsig.poly_hash(spark, 'text')}, 100) < {_RATE}"
    )
    return (
        docs.withColumn("s", in_sample.cast("long"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("s").alias("n_sampled"),
        )
    )


def _messy_url(dialect: str) -> str:
    """Deterministic messy URL synthesized from (doc_id, source) — even
    docs get the worst case (uppercase scheme/host, default port, utm_*
    params, fragment), odd docs a mild case."""
    cast = ("cast(doc_id as string)" if dialect == "spark"
            else "doc_id::VARCHAR")
    return (
        "(CASE WHEN doc_id % 2 = 0 THEN "
        f"concat('HTTPS://WWW.', upper(source), '.Example.COM:443/Docs/', {cast}, "
        f"'?utm_source=feed&id=', {cast}, '&utm_campaign=a#section-2') "
        "ELSE "
        f"concat('http://', source, '.example.com:80/docs/', {cast}, "
        f"'?id=', {cast}) END)"
    )


def _canon_chain(dialect: str, expr: str) -> str:
    """The canonicalization pipeline as nested regexp_replace calls.
    Patterns are RE2-and-Java-regex compatible; only replacement backref
    syntax ($1 vs \\1) and DuckDB's explicit 'g' flag differ."""
    def rr(e: str, pat: str, rep_spark: str, rep_duck: str) -> str:
        # `pat` uses SINGLE backslashes. Spark SQL string literals treat
        # backslash as an escape (double it); DuckDB's standard-SQL
        # literals do not (pass through).
        if dialect == "spark":
            return (f"regexp_replace({e}, "
                    f"'{pat.replace(chr(92), chr(92) * 2)}', '{rep_spark}')")
        return f"regexp_replace({e}, '{pat}', '{rep_duck}', 'g')"

    e = rr(expr, "#.*$", "", "")                       # fragment
    # lowercase scheme://host[:port] (the authority is case-insensitive;
    # path/query are NOT and stay untouched)
    auth = f"regexp_extract({e}, '^[^/]*//[^/]*', 0)"
    e = (f"concat(lower({auth}), "
         f"substring({e}, length({auth}) + 1))")
    # default ports: the port may be followed by a path, a query (the
    # fragment is already gone), or end-of-string — hypothesis caught the
    # '?'-after-port case breaking idempotence when utm-stripping later
    # exposed a bare trailing :80
    e = rr(e, "^(https://[^/:]*):443([/?]|$)", "$1$2", "\\1\\2")
    e = rr(e, "^(http://[^/:]*):80([/?]|$)", "$1$2", "\\1\\2")
    e = rr(e, "^(https?://)www\\.", "$1", "\\1")                # leading www.
    # utm_ params must be ANCHORED to a ?/& delimiter (a param name or
    # value merely CONTAINING 'utm_' is not a tracking param), and the
    # delimiter restored in the replacement. The inner (utm_[^&#]*&)+
    # repetition eats RUNS of consecutive utm params in one match —
    # neither Java regex nor RE2 rescans replaced text, so without it
    # '?utm_a=1&utm_b=2&k=v' would leave utm_b behind (its delimiter was
    # consumed by the previous match). Same reasoning for the trailing
    # form: ([?&]utm_[^&#]*)+$ strips a terminal run.
    e = rr(e, "([?&])(utm_[^&#]*&)+", "$1", "\\1")               # utm_ params
    e = rr(e, "([?&]utm_[^&#]*)+$", "", "")
    e = rr(e, "[?&]+$", "", "")                                 # dangling ?/&
    return e


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "source"),
        spark)
    return docs.select(
        "doc_id",
        F.expr(_messy_url("spark")).alias("url"),
        F.expr(_canon_chain("spark", _messy_url("spark"))).alias("canon_url"),
    )


def _pii_text(dialect: str) -> str:
    """Deterministically plant PII into every 3rd doc (email) and every
    4th doc (IPv4) so the scrubber has real positives in both engines."""
    cast = ("cast(doc_id as string)" if dialect == "spark"
            else "doc_id::VARCHAR")
    return (
        "(CASE WHEN doc_id % 3 = 0 THEN "
        f"concat(text, ' contact user', {cast}, '@mail.example.org now') "
        "ELSE text END)"
    )


def _pii_text2(dialect: str, expr: str) -> str:
    cast = ("cast(doc_id as string)" if dialect == "spark"
            else "doc_id::VARCHAR")
    mod = ("pmod(doc_id, 200)" if dialect == "spark" else "(doc_id % 200)")
    return (
        f"(CASE WHEN doc_id % 4 = 0 THEN "
        f"concat({expr}, ' from 10.0.', {mod}, '.', {cast}) "
        f"ELSE {expr} END)"
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IP_RE = "([0-9]{1,3}\\.){3}[0-9]{1,3}"


def pii_scrub_expr(col: str) -> str:
    """Spark SQL expression scrubbing emails + IPv4 from `col` — the
    composable form the cleanup cascade applies to its output text."""
    e = _EMAIL_RE.replace("\\", "\\\\")
    i = _IP_RE.replace("\\", "\\\\")
    return (f"regexp_replace(regexp_replace({col}, '{e}', '<EMAIL>'), "
            f"'{i}', '<IP>')")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style PII redaction: emails and IPv4 addresses replaced with
    typed placeholders. Map-only codegen regex chain; counts emitted so
    the redaction is auditable. The scrubbed text itself is value-compared
    against the oracle (not just counts)."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    planted = _pii_text2("spark", _pii_text("spark"))
    spark_email = _EMAIL_RE.replace("\\", "\\\\")
    spark_ip = _IP_RE.replace("\\", "\\\\")
    return docs.select(
        "doc_id",
        F.expr(
            f"cast(size(regexp_extract_all({planted}, '{spark_email}', 0)) as bigint)"
        ).alias("n_emails"),
        F.expr(
            f"cast(size(regexp_extract_all({planted}, '{spark_ip}', 0)) as bigint)"
        ).alias("n_ips"),
        F.expr(pii_scrub_expr(planted)).alias("scrubbed"),
    )


QUERIES = {
    "host_quota": q_host_quota,
    "hash_sample": q_hash_sample,
    "url_canonicalize": q_url_canonicalize,
    "pii_scrub": q_pii_scrub,
}

ORACLES = {
    "host_quota": f"""
        SELECT doc_id, source, n_chars, rk::INT AS rk
        FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id ASC) AS rk
            FROM documents)
        WHERE rk <= {_QUOTA}
    """,
    "hash_sample": f"""
        SELECT lang,
               count(*)::BIGINT AS n_total,
               sum(CASE WHEN ({tx.poly_hash('text')}) % 100 < {_RATE}
                        THEN 1 ELSE 0 END)::BIGINT AS n_sampled
        FROM documents
        GROUP BY lang
    """,
    "url_canonicalize": f"""
        SELECT doc_id,
               {_messy_url('duckdb')} AS url,
               {_canon_chain('duckdb', _messy_url('duckdb'))} AS canon_url
        FROM documents
    """,
    "pii_scrub": f"""
        WITH p AS (
            SELECT doc_id,
                   {_pii_text2('duckdb', _pii_text('duckdb'))} AS t
            FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(t, '{_EMAIL_RE}'))::BIGINT AS n_emails,
               len(regexp_extract_all(t, '{_IP_RE}'))::BIGINT AS n_ips,
               regexp_replace(regexp_replace(t, '{_EMAIL_RE}',
                   '<EMAIL>', 'g'), '{_IP_RE}', '<IP>', 'g') AS scrubbed
        FROM p
    """,
}
