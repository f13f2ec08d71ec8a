"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023): pick the slice of a raw web corpus that looks most like a trusted
target corpus, by importance weights over HASHED N-GRAM features.

    features(doc) = unigram + bigram word hashes bucketed mod B
    p = smoothed bucket distribution of the TARGET corpus
    q = smoothed bucket distribution of the RAW corpus
    log w(doc)   = sum over doc features of [log2 p_b - log2 q_b]
    keep the top SEL_NUM/SEL_DEN share by weight

This is the third member of the corpus-quality family (perplexity.py
scores fluency, textstats.py scores heuristics; DSIR scores *target
similarity*) — the paper's headline use is selecting Pile-quality data
from Common Crawl, exactly this engine's corpus regime.

Spark realization (zero Python, two shuffles):
  * token rows (doc_id, pos, word-hash) are row-level codegen; bigram
    hashes come from ONE lead() window per doc — the only corpus-sized
    shuffle, shared with the unigram branch;
  * bucket ids are `hash % B` (poly hashes are non-negative by
    construction, so no pmod dance); feature rows join a B-row
    BROADCAST table of log-ratios — the model is vocabulary-free, its
    size is the CONSTANT B regardless of corpus scale (DSIR's point);
  * per-doc weight = one groupBy(doc_id) sum; selection ranks docs by
    (rounded weight, doc_id) — rounding to 6 decimals BEFORE ranking
    makes float near-ties exact ties, so the cut is deterministic
    across engines and partitionings. The global rank is a doc-level
    window (rows = corpus docs / 1e6 or so after upstream filtering);
    at 1e12 raw docs production replaces it with a weight threshold
    from a distributed quantile, same semantics, disclosed.

The target corpus stand-in is the deterministic doc_id % TARGET_MOD == 0
slice (the same convention perplexity.py uses; production points it at
Wikipedia/Pile). Sandbox target and raw overlap, so weights hover near
zero — the MACHINERY (feature hashing, two distributions, ratio weights,
resampling cut) is what parity proves, term for term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

B = 64               # hashed feature buckets (paper: 10k; a knob, not structure)
TARGET_MOD = 10      # target slice: doc_id % TARGET_MOD == 0
BIGRAM_MULT = 1009   # (prev * BIGRAM_MULT + cur) % P64 — fits int64
SEL_NUM, SEL_DEN = 1, 4   # keep the top 1/4 by importance weight


def _feature_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, b): one row per unigram AND bigram feature occurrence,
    bucketed mod B.

    r6 (guide §2.4): bigrams are ADJACENT-ELEMENT pairs of the per-doc
    word-hash array, so they come straight from the array (element_at
    i, i+1) in the same map-side pass as the unigrams — the old lead()
    window shuffled and sorted every token row per doc just to look one
    element ahead. Same hashes, same multiset of (doc_id, b) rows."""
    wh = docsig.word_hashes(docs.sparkSession, "text")
    # CASE guard: sequence(1, 0) would count DOWN ([1, 0]) for docs with
    # fewer than two words, so short docs get an explicit empty array
    feats = (
        f"concat(transform(wh, h -> h % {B}), "
        f"CASE WHEN size(wh) < 2 THEN CAST(array() AS ARRAY<BIGINT>) ELSE "
        f"transform(sequence(1, size(wh) - 1), i -> "
        f"((element_at(wh, i) * {BIGRAM_MULT} + element_at(wh, i + 1)) "
        f"% {tx.P64}) % {B}) END)"
    )
    return (
        docs.select("doc_id", F.expr(wh).alias("wh"))
        .select("doc_id", F.explode(F.expr(feats)).alias("b"))
    )


def dsir_weights(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_feats, logw, selected)."""
    # The feature rows feed three consumers (raw distribution, target
    # distribution, the scoring join). cache(), not materialize():
    # composing a dsir plan must fire no Spark job, and under AQE even a
    # lazy checkpoint runs the upstream exchange at compose.
    feats = _feature_rows(docs).cache()

    raw = feats.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = (
        feats.filter(F.col("doc_id") % TARGET_MOD == 0)
        .groupBy("b").agg(F.count("*").alias("ct"))
    )
    tot = raw.agg(F.sum("cr").alias("r_tot"))
    t_tot = tgt.agg(F.sum("ct").alias("t_tot"))
    # B-row model table: smoothed log-ratio per bucket (broadcast)
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(tot).crossJoin(t_tot)
        .select(
            "b",
            (
                F.log2((F.coalesce("ct", F.lit(0)) + 1)
                       / (F.col("t_tot") + B))
                - F.log2((F.col("cr") + 1) / (F.col("r_tot") + B))
            ).alias("lr"),
        )
    )

    scored = (
        feats.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"),
             F.round(F.sum("lr"), 6).alias("logw"))
    )
    per_doc = (
        docs.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            "logw",
        )
    )
    # deterministic resampling cut: rank on (rounded weight desc, doc_id),
    # keep the top SEL_NUM/SEL_DEN of ALL docs; weightless docs rank last
    n = per_doc.select(F.count("*").alias("n_docs"))
    ranked = per_doc.crossJoin(n).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("logw").desc_nulls_last(), F.col("doc_id"))
        ),
    )
    return ranked.select(
        "doc_id", "n_feats", "logw",
        (
            (F.col("rk") * SEL_DEN <= F.col("n_docs") * SEL_NUM)
            & F.col("logw").isNotNull()
        ).alias("selected"),
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights(fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    ))


QUERIES = {"dsir_select": q_dsir_select}


def _oracle() -> str:
    ph = tx.poly_hash("w")
    words = tx.words("duckdb", "text")
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(generate_series(1, len({words}))) AS pos,
                 unnest(list_transform({words}, w -> {ph})) AS h
          FROM documents
        ),
        pairs AS (
          SELECT doc_id, h,
                 lead(h) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM toks
        ),
        feats AS (
          SELECT doc_id, h % {B} AS b FROM pairs
          UNION ALL
          SELECT doc_id, ((h * {BIGRAM_MULT} + nxt) % {tx.P64}) % {B} AS b
          FROM pairs WHERE nxt IS NOT NULL
        ),
        raw AS (SELECT b, count(*) AS cr FROM feats GROUP BY 1),
        tgt AS (
          SELECT b, count(*) AS ct FROM feats
          WHERE doc_id % {TARGET_MOD} = 0 GROUP BY 1
        ),
        tot AS (SELECT sum(cr) AS r_tot FROM raw),
        t_tot AS (SELECT sum(ct) AS t_tot FROM tgt),
        model AS (
          SELECT raw.b,
                 log2((COALESCE(tgt.ct, 0) + 1)::DOUBLE
                      / (t_tot.t_tot + {B}))
                 - log2((raw.cr + 1)::DOUBLE / (tot.r_tot + {B})) AS lr
          FROM raw LEFT JOIN tgt ON raw.b = tgt.b
          CROSS JOIN tot CROSS JOIN t_tot
        ),
        scored AS (
          SELECT f.doc_id, count(*) AS n_feats,
                 round(sum(m.lr), 6) AS logw
          FROM feats f JOIN model m ON f.b = m.b
          GROUP BY 1
        ),
        per_doc AS (
          SELECT d.doc_id,
                 COALESCE(s.n_feats, 0) AS n_feats,
                 s.logw
          FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        ),
        ranked AS (
          SELECT *,
                 row_number() OVER (
                   ORDER BY logw DESC NULLS LAST, doc_id) AS rk,
                 count(*) OVER () AS n_docs
          FROM per_doc
        )
        SELECT doc_id, n_feats, logw,
               (rk * {SEL_DEN} <= n_docs * {SEL_NUM}
                AND logw IS NOT NULL) AS selected
        FROM ranked
    """


ORACLES = {"dsir_select": _oracle()}
