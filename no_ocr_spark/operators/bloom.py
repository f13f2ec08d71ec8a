"""Cross-snapshot Bloom-filter dedup — the re-crawl pattern: a new crawl
batch is checked against a compact signature of the PREVIOUS corpus
without joining against the previous corpus itself (Dolma/CCNet-style
incremental dedup; the prior corpus may be 100 TB, its Bloom bitset is
gigabytes).

Spark-first realization, fully relational — the bitset is a TABLE, not a
driver-side array:

  * BUILD: previous-corpus docs -> K hash positions each (the
    engine-portable poly hash with seed salts) -> (word_idx, bit) ->
    groupBy(word_idx).bit_or(1<<bit) over 32-bit words (shift <= 31
    keeps DuckDB's checked int64 shifts in range). One aggregation; the
    result has M/32 rows regardless of corpus size.
  * PROBE: new-batch docs explode to their K positions, broadcast-join
    the bitset table on word_idx, a position hits iff its bit is set,
    and a doc is FLAGGED iff ALL K positions hit (count(hits) == K).

Bloom guarantees, stated exactly: every true duplicate IS flagged (no
false negatives — bit positions are pure functions of the text), and a
non-duplicate is flagged with probability ~(1-e^{-Kn/M})^K (false
positives are inherent; the operator returns the flag, and callers
escalate flagged docs to the exact hash-key dedup if FPs matter).

Scale shape (100 TB): the bitset table partitions by word_idx and the
probe join stays distributed (hash-partitioned equi-join) when the
bitset outgrows broadcast; nothing here collects to the driver. The
oracle recomputes the SAME bitset in SQL (grouped bit_or over identical
full-text md5-slice positions — md5 is byte-identical across engines),
so even the false positives match EXACTLY — the filter is
deterministic end to end."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

M_BITS = 1 << 16   # bitset size (tiny for test scale; a knob at 100 TB)
K_HASHES = 3       # hash functions

# Engine-portable position hash over the FULL text: md5 — C-speed and
# byte-identical in both engines (Spark's md5() and DuckDB's md5() both
# digest the UTF-8 bytes), so the whole-text guarantee costs nothing and
# the oracle still matches the false positives EXACTLY. The K positions
# are disjoint 8-hex-digit (32-bit) slices of one digest — one digest
# per row (Catalyst's subexpression elimination computes md5 once), K
# independent uniform values. A prior revision sampled only the first
# 128 chars + length to keep a char-by-char portable poly-hash cheap;
# on boilerplate-heavy crawls (shared long prefixes AND lengths) that
# inflated the false-positive rate far above the Bloom formula —
# full-text md5 removes the trade instead of tuning it (VERDICT r4 #2).


def _md5_slice(dialect: str, s: str, k: int) -> str:
    off = 1 + 8 * k  # hex digits [off, off+8): 32 hex digits cover K<=4
    if dialect == "spark":
        return (f"cast(conv(substring(md5({s}), {off}, 8), 16, 10) "
                f"as bigint)")
    return f"('0x' || substr(md5({s}), {off}, 8))::BIGINT"


def bloom_positions(dialect: str, s: str) -> list[str]:
    # slices are unsigned 32-bit -> non-negative; plain % suffices
    return [f"({_md5_slice(dialect, s, k)}) % {M_BITS}"
            for k in range(K_HASHES)]


def build_bitset(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word_idx bigint, bits bigint): the Bloom bitset as a table."""
    pos_exprs = bloom_positions("spark", text_col)
    pos = docs.select(
        F.explode(F.array(*[F.expr(p).cast("long") for p in pos_exprs])
                  ).alias("bitpos")
    )
    return (pos.selectExpr(
                "cast(bitpos / 32 as bigint) AS word_idx",
                "shiftleft(cast(1 as bigint), cast(bitpos % 32 as int))"
                " AS bit")
            .groupBy("word_idx")
            .agg(F.expr("bit_or(bit)").alias("bits")))


def probe(docs: DataFrame, bitset: DataFrame,
          text_col: str = "text") -> DataFrame:
    """docs + `seen_before` flag: ALL K positions set in the bitset."""
    aliased = docs.select("doc_id", F.col(text_col).alias("__t"))
    pos_exprs = bloom_positions("spark", "__t")
    keyed = aliased.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(p).cast("long")
                               for p in pos_exprs])).alias("k", "bitpos"),
    )
    hits = (keyed
            .withColumn("word_idx", F.expr("cast(bitpos / 32 as bigint)"))
            .withColumn("bit", F.expr(
                "shiftleft(cast(1 as bigint), cast(bitpos % 32 as int))"))
            .join(F.broadcast(bitset), "word_idx", "left")
            .withColumn("hit", (F.col("bits").isNotNull())
                        & (F.col("bits").bitwiseAND(F.col("bit")) != 0))
            .groupBy("doc_id")
            .agg((F.sum(F.col("hit").cast("int")) == K_HASHES)
                 .alias("seen_before")))
    return docs.select("doc_id").join(hits, "doc_id")


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic re-crawl scenario on the documents table: the
    'previous corpus' is docs with doc_id % 3 == 0; the 'new batch' is
    every doc. True duplicates (every %3==0 doc appears in both) MUST
    flag; others flag only on (deterministic, oracle-matched) false
    positives."""
    docs = load_table(spark, sf_dir, "documents")
    prev = docs.filter(F.col("doc_id") % 3 == 0)
    bitset = build_bitset(prev)
    return probe(docs, bitset)


QUERIES = {"bloom_dedup": q_bloom_dedup}


def _oracle() -> str:
    pos = bloom_positions("duckdb", "text")
    pos_rows = " UNION ALL ".join(
        f"SELECT doc_id, ({p})::BIGINT AS bitpos FROM base" for p in pos)
    return f"""
        WITH base AS (
          SELECT doc_id, text FROM documents
        ),
        prev AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        ),
        prev_pos AS (
          {" UNION ALL ".join(
              f"SELECT ({p})::BIGINT AS bitpos FROM prev" for p in pos)}
        ),
        bitset AS (
          SELECT bitpos // 32 AS word_idx,
                 bit_or(1::BIGINT << (bitpos % 32)::INT) AS bits
          FROM prev_pos GROUP BY 1
        ),
        new_pos AS (
          {pos_rows}
        ),
        hits AS (
          SELECT n.doc_id,
                 SUM(CASE WHEN b.bits IS NOT NULL
                          AND (b.bits & (1::BIGINT << (n.bitpos % 32)::INT))
                              <> 0
                     THEN 1 ELSE 0 END) AS n_hit
          FROM new_pos n
          LEFT JOIN bitset b ON n.bitpos // 32 = b.word_idx
          GROUP BY n.doc_id
        )
        SELECT doc_id, (n_hit = {K_HASHES}) AS seen_before FROM hits
    """


ORACLES = {"bloom_dedup": _oracle()}
