"""Perplexity-based quality scoring — CCNet's headline quality signal
(Wenzek et al. 2020: documents are bucketed by the perplexity of a
KenLM 5-gram trained on Wikipedia; low-perplexity text reads like the
reference corpus, high-perplexity text is gibberish/boilerplate).

Re-derived distributed, from scratch: an add-one-smoothed BIGRAM model
(the 5-gram is a table-size knob, not a structural difference) trained
on a deterministic REFERENCE SLICE of the corpus itself (doc_id % 10 ==
0 — the sandbox stand-in for "a trusted reference corpus"; production
points the slice at Wikipedia). Every document is then scored by its
mean bits-per-bigram under the model:

    P(w | prev) = (C(prev, w) + 1) / (C(prev) + V)
    ppl_bits(doc) = avg over bigrams of -log2 P

Plan shape (zero corpus-wide windows, zero Python):
  * bigram (prev, cur) hash pairs come from ADJACENT ELEMENTS of the
    per-doc word-hash array in one map pass (r6 — the old plan exploded
    tokens to rows and ran a lead() window, a corpus-wide shuffle+sort,
    just to look one element ahead);
  * model = ONE aggregation over the REFERENCE bigrams (C(prev, w));
    C(prev) and the vocabulary size V are derived from it (r6 — the old
    plan re-scanned the reference slice three times);
  * scoring = the corpus bigrams LEFT JOIN the two count tables
    (hash-keyed equi-joins; the context table is vocabulary-sized and
    broadcasts at this scale) -> per-doc avg.

Word identity is the portable poly hash (collisions merge two words'
statistics — harmless smoothing noise, disclosed; production swaps
xxhash64). Docs with < 2 tokens have no bigrams: n_bigrams = 0 and
NULL ppl_bits (the caller's keep-rule decides their fate, as CCNet's
head/middle/tail bucketing does with empty docs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

REF_MOD = 10  # reference slice: doc_id % REF_MOD == 0


def score_perplexity(docs: DataFrame, id_col: str = "doc_id",
                     ref_cond=None) -> DataFrame:
    """(id, text) -> (id, n_bigrams, ppl_bits).

    id_col names the document key (doc_id in the query tables, url in the
    cleanup cascade); ref_cond is the Column marking the reference-slice
    rows the bigram LM trains on — it must be expressible over id_col
    alone (it is applied to the bigram rows, which carry only the key);
    default is the deterministic doc_id % REF_MOD slice, callers with
    string keys pass e.g. pmod(xxhash64(url), REF_MOD) == 0.
    """
    if ref_cond is None:
        ref_cond = F.col(id_col) % REF_MOD == 0

    # r6 (guide §2.4, the dsir bigram rewrite): bigrams are ADJACENT
    # elements of the per-doc word-hash array, built in the same map pass
    # that hashes the words — the old plan exploded every token to a row
    # and ran a lead() window (a corpus-wide shuffle + per-doc sort) just
    # to look one element ahead. Same (id, prev, cur) multiset.
    wh = docsig.word_hashes(docs.sparkSession, "text")
    pairs = (
        f"CASE WHEN size(wh) < 2 THEN "
        f"CAST(array() AS ARRAY<STRUCT<prev: BIGINT, cur: BIGINT>>) ELSE "
        f"transform(sequence(1, size(wh) - 1), i -> named_struct("
        f"'prev', element_at(wh, i), 'cur', element_at(wh, i + 1))) END"
    )
    bigrams = (
        docs.select(id_col, F.expr(wh).alias("wh"))
        .select(id_col, F.explode(F.expr(pairs)).alias("bg"))
        .select(id_col, F.col("bg.prev").alias("prev"),
                F.col("bg.cur").alias("cur"))
    )

    # cp and v are DERIVABLE from cb — cp(prev) is the sum of cb over
    # that prev, and the model vocabulary is the distinct hash set of
    # cb's keys (every ref bigram occurrence is in cb by construction) —
    # so the reference slice is scanned once, not three times.
    ref = bigrams.filter(ref_cond)
    cb = materialize(ref.groupBy("prev", "cur").agg(F.count("*").alias("cb")))
    cp = cb.groupBy("prev").agg(F.sum("cb").alias("cp"))
    v = cb.select(F.col("prev").alias("h")).union(
        cb.select(F.col("cur").alias("h"))
    ).agg(F.countDistinct("h").alias("v"))

    scored = (
        bigrams.join(cb, ["prev", "cur"], "left")
        .join(F.broadcast(cp), ["prev"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            id_col,
            # v = 0 means the reference slice is EMPTY: there is no model,
            # so every doc scores NULL (otherwise the smoothing
            # denominator is 0 and ANSI mode raises DIVIDE_BY_ZERO)
            F.when(
                F.col("v") > 0,
                -F.log2(
                    (F.coalesce(F.col("cb"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("cp"), F.lit(0)) + F.col("v"))
                ),
            ).alias("bits"),
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"),
             F.round(F.avg("bits"), 6).alias("ppl_bits"))
    )
    return (
        docs.select(id_col).join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "ppl_bits",
        )
    )


def q_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return score_perplexity(fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    ))


QUERIES = {"perplexity_score": q_perplexity_score}


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
        bi AS (
          SELECT doc_id, h AS prev,
                 lead(h) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
          FROM toks
        ),
        bigrams AS (SELECT * FROM bi WHERE cur IS NOT NULL),
        ref AS (SELECT * FROM bigrams WHERE doc_id % {REF_MOD} = 0),
        cb AS (SELECT prev, cur, count(*) AS cb FROM ref GROUP BY 1, 2),
        cp AS (SELECT prev, count(*) AS cp FROM ref GROUP BY 1),
        v AS (
          SELECT count(DISTINCT h) AS v FROM (
            SELECT prev AS h FROM ref UNION ALL SELECT cur FROM ref)
        ),
        scored AS (
          SELECT b.doc_id,
                 count(*) AS n_bigrams,
                 round(avg(CASE WHEN v.v > 0 THEN -log2(
                   (COALESCE(cb.cb, 0) + 1)::DOUBLE
                   / (COALESCE(cp.cp, 0) + v.v)
                 ) END), 6) AS ppl_bits
          FROM bigrams b
          LEFT JOIN cb ON b.prev = cb.prev AND b.cur = cb.cur
          LEFT JOIN cp ON b.prev = cp.prev
          CROSS JOIN v
          GROUP BY b.doc_id
        )
        SELECT d.doc_id,
               COALESCE(s.n_bigrams, 0) AS n_bigrams,
               s.ppl_bits
        FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """


ORACLES = {"perplexity_score": _oracle()}
