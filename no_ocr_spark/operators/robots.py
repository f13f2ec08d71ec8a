"""robots.txt crawl filtering (RFC 9309 Robots Exclusion Protocol).

A web-scale extraction pipeline must honor robots rules BEFORE content
enters the corpus; this operator is that gate. Two genuinely independent
derivations meet at the gate's verdict:

* ENGINE: real robots.txt TEXT is built per host, run through a
  from-scratch RFC 9309 parser (`parse_robots`: user-agent group
  selection for `*`, Allow/Disallow records, blank-line group ends,
  comments), the parsed rules explode into a (host, prefix, allow)
  table, and the verdict is the RFC's longest-match rule — a broadcast
  join + per-URL max-length window with allow winning ties.
* ORACLE: DuckDB never sees robots.txt at all — it recomputes the
  planted rules arithmetically and applies the same precedence in SQL.

Scale shape: rules live per HOST (millions of rows, not trillions) —
the parse is a tiny Arrow job and the rules table broadcasts; documents
see one map-side join + one narrow window keyed by url. No corpus-sized
shuffle.

The synthetic rules plant the precedence traps: a Disallow prefix with a
LONGER Allow carve-out under it (allow wins by length), and an exact-tie
pair (allow wins the tie, per RFC 9309 §2.2.2)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table


def parse_robots(text: str) -> list[tuple[str, bool]]:
    """robots.txt -> [(path_prefix, allow)] for the `*` user-agent.

    RFC 9309 subset: `User-agent:` lines open a group (consecutive UA
    lines share one group); `Allow:`/`Disallow:` records belong to the
    most recent group; only groups naming `*` apply here; `#` comments
    and blank lines per spec; an empty Disallow value matches nothing.
    Rule precedence is NOT applied here — matching is the query's job."""
    rules: list[tuple[str, bool]] = []
    group_uas: list[str] = []
    in_records = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if in_records:
                group_uas = []  # a UA line after records opens a NEW group
                in_records = False
            group_uas.append(value)
        elif key in ("allow", "disallow"):
            in_records = True
            if "*" in group_uas and value:
                rules.append((value, key == "allow"))
    return rules


def _robots_text_for(source: str) -> str:
    """Deterministic synthetic robots.txt for a host (the engine PARSES
    this; the oracle recomputes the same rules arithmetically):

        d = ascii(first char of source) mod 10
        Disallow: /doc-<d>          (prefix ban)
        Allow:    /doc-<d><d>       (longer carve-out under the ban)
        Disallow: /x-<d>  + Allow: /x-<d>   (exact tie -> allow wins)
    """
    d = str(ord(source[0]) % 10)
    return (
        "# synthetic corpus policy\n"
        "User-agent: other-bot\n"
        "Disallow: /\n"
        "\n"
        "User-agent: *\n"
        f"Disallow: /doc-{d}\n"
        f"Allow: /doc-{d}{d}\n"
        f"Disallow: /x-{d}\n"
        f"Allow: /x-{d}\n"
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.concat(F.lit("/doc-"), F.col("doc_id").cast("string"))
        .alias("path"),
    )
    hosts = docs.select("source").distinct()

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for src in pdf["source"]:
                # null/empty host: no robots.txt exists for it — no rules
                # (the doc stays allowed via the left join), never a
                # task-killing IndexError (review finding)
                if not isinstance(src, str) or not src:
                    continue
                for prefix, allow in parse_robots(_robots_text_for(src)):
                    rows.append({"source": src, "prefix": prefix,
                                 "allow": allow})
            yield pd.DataFrame(rows,
                               columns=["source", "prefix", "allow"])

    rules = hosts.mapInPandas(
        parse, schema="source string, prefix string, allow boolean")

    from pyspark.sql import Window

    # RFC 9309 precedence among MATCHING rules: longest prefix wins,
    # allow wins ties; a doc with no matching rule re-enters via the
    # left join below as allowed (crawling is permitted by default)
    w = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(), F.col("allow").desc())
    best = (docs.join(F.broadcast(rules), "source")
            .filter(F.col("path").startswith(F.col("prefix")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "allow", "prefix"))
    return (docs.join(best, "doc_id", "left")
            .select(
                "doc_id", "source", "path",
                F.coalesce("allow", F.lit(True)).alias("allowed"),
                F.coalesce("prefix", F.lit("")).alias("matched_rule"),
            ))


QUERIES = {"robots_filter": q_robots_filter}

ORACLES = {
    # the oracle recomputes the planted rules ARITHMETICALLY (it never
    # parses robots.txt) and applies the same longest-match precedence
    "robots_filter": """
        WITH docs AS (
          SELECT doc_id, source,
                 '/doc-' || doc_id::VARCHAR AS path,
                 (ascii(substr(source, 1, 1)) % 10)::VARCHAR AS d
          FROM documents
        ),
        rules AS (
          SELECT source, '/doc-' || d AS prefix, FALSE AS allow,
                 d FROM (SELECT DISTINCT source,
                         (ascii(substr(source,1,1)) % 10)::VARCHAR AS d
                         FROM documents)
          UNION ALL
          SELECT source, '/doc-' || d || d, TRUE, d
          FROM (SELECT DISTINCT source,
                (ascii(substr(source,1,1)) % 10)::VARCHAR AS d
                FROM documents)
          UNION ALL
          SELECT source, '/x-' || d, FALSE, d
          FROM (SELECT DISTINCT source,
                (ascii(substr(source,1,1)) % 10)::VARCHAR AS d
                FROM documents)
          UNION ALL
          SELECT source, '/x-' || d, TRUE, d
          FROM (SELECT DISTINCT source,
                (ascii(substr(source,1,1)) % 10)::VARCHAR AS d
                FROM documents)
        ),
        matched AS (
          SELECT dd.doc_id, dd.source, dd.path, r.prefix, r.allow,
                 ROW_NUMBER() OVER (
                   PARTITION BY dd.doc_id
                   ORDER BY length(r.prefix) DESC,
                            r.allow DESC
                 ) AS rn
          FROM docs dd JOIN rules r
            ON dd.source = r.source
           AND starts_with(dd.path, r.prefix)
        )
        SELECT d.doc_id, d.source, d.path,
               COALESCE(m.allow, TRUE) AS allowed,
               COALESCE(m.prefix, '') AS matched_rule
        FROM docs d
        LEFT JOIN matched m ON d.doc_id = m.doc_id AND m.rn = 1
    """,
}
