"""Text-analysis operators for training-data pipelines: language-ID
(n-gram/marker heuristic), quality scoring, token counting (whitespace +
BPE-ish regex), document fingerprinting (polynomial rolling hash).

All integer-exact (counts, not ratios) so Spark/DuckDB parity is trivial;
everything is built-in expressions (codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

# marker words per language for the heuristic language-ID.
# (The driver's synthetic `documents` vocabulary is shared across langs, so
# markers are engine-vocabulary words; the *operator* — padded-substring
# counting + precedence argmax — is the real product.)
_LANG_MARKERS = {
    "en": ["the", "a"],
    "de": ["table", "row"],
    "es": ["scan", "sort"],
    "fr": ["join", "merge"],
    "zh": ["vector", "stream"],
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]

_STOP = ["the", "a", "of"]


def _padded(dialect: str) -> str:
    return "(' ' || text || ' ')" if dialect == "duckdb" else "concat(' ', text, ' ')"


def _marker_count(dialect: str, lang: str) -> str:
    terms = " + ".join(
        tx.count_substr(dialect, _padded(dialect), f" {w} ")
        for w in _LANG_MARKERS[lang]
    )
    cast = "::BIGINT" if dialect == "duckdb" else ""
    if dialect == "spark":
        return f"cast({terms} as bigint)"
    return f"({terms}){cast}"


def _pred_expr(dialect: str) -> str:
    cols = {lang: f"c_{lang}" for lang in _LANG_ORDER}
    all_cols = ", ".join(cols.values())
    cases = " ".join(
        f"WHEN {cols[lang]} >= greatest({all_cols}) THEN '{lang}'"
        for lang in _LANG_ORDER
    )
    return f"(CASE {cases} END)"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out_for_cpu(docs, spark)
    for lang in _LANG_ORDER:
        docs = docs.withColumn(f"c_{lang}", F.expr(_marker_count("spark", lang)))
    return docs.select(
        "doc_id",
        F.expr(_pred_expr("spark")).alias("pred_lang"),
        *[F.col(f"c_{lang}") for lang in _LANG_ORDER],
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer quality score: tokens + 5*stopword hits - 2*punctuation."""
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out_for_cpu(docs, spark)
    stop_hits = " + ".join(
        tx.count_substr("spark", _padded("spark"), f" {w} ") for w in _STOP
    )
    punct = (tx.count_substr("spark", "text", ".")
             + " + " + tx.count_substr("spark", "text", ","))
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr(f"cast({stop_hits} as bigint)").alias("stop_hits"),
        F.expr(f"cast({punct} as bigint)").alias("punct"),
    ).select(
        "doc_id", "n_tokens", "stop_hits", "punct",
        (F.col("n_tokens") + 5 * F.col("stop_hits") - 2 * F.col("punct"))
        .alias("score"),
        ((F.col("n_tokens") >= 20) & (F.col("stop_hits") >= 2)).alias("is_quality"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out_for_cpu(docs, spark)
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("ws_tokens"),
        F.expr(f"cast({tx.token_count_regex('spark', 'text')} as bigint)").alias("bpe_tokens"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-doc + 64-char-prefix polynomial fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    docs = fan_out_for_cpu(docs, spark)
    return docs.select(
        "doc_id",
        F.expr(docsig.poly_hash(spark, "text")).alias("fp"),
        F.expr(docsig.poly_hash(spark, "substring(text, 1, 64)"))
        .alias("fp_prefix"),
    )


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed C4-style corpus filter (Raffel et al. 2020's cleanup
    recipe re-expressed relationally): exact-dedup (keep min doc_id per
    text) + minimum length + stopword-density + symbol-density gates, with
    a FIRST-FAILING-RULE drop reason per doc. One window shuffle on text for
    the dup rule; every signal is codegen (no Python).

    Runs over an augmented corpus where every 5th doc gains an IDENTICAL
    copy (doc_id+100000), so the duplicate rule has real work. Scale note:
    unlike dedup_exact (whose OUTPUT is per-group, so hash-keying removes
    text from the shuffle entirely), the per-ROW keeper here needs a
    text->keeper map joined back to every row — at 100 TB that is
    groupBy(xxhash64(text)) + an equi-join on the hash with in-group
    text-equality collision resolve; the shuffle volume matches this
    window (each row's text moves once either way), the win is replacing
    the within-partition sort with a hash lookup."""
    from pyspark.sql import Window

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    docs = fan_out_for_cpu(base.unionByName(copies), spark)
    stop_hits = " + ".join(
        tx.count_substr("spark", _padded("spark"), f" {w} ") for w in _STOP
    )
    punct = (tx.count_substr("spark", "text", ".")
             + " + " + tx.count_substr("spark", "text", ","))
    w = Window.partitionBy("text")
    sig = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").alias("n_tokens"),
        F.expr(f"cast({stop_hits} as bigint)").alias("stop_hits"),
        F.expr(f"cast({punct} as bigint)").alias("punct"),
        F.min("doc_id").over(w).alias("keeper"),
    )
    reason = F.expr(
        "CASE WHEN doc_id <> keeper THEN 'duplicate' "
        "WHEN n_tokens < 20 THEN 'too_short' "
        "WHEN stop_hits < 2 THEN 'low_stopword_density' "
        "WHEN punct * 5 > n_tokens THEN 'symbol_heavy' "
        "ELSE 'kept' END"
    )
    return sig.select(
        "doc_id", "n_tokens", "stop_hits", "punct",
        reason.alias("verdict"),
        (reason == F.lit("kept")).alias("keep"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc salient terms, TF-IDF-style but INTEGER-EXACT: rank a doc's
    terms by (term frequency DESC, document frequency ASC, term ASC) and
    keep the top 3 — high-tf rare-df terms win, exactly tf-idf's ordering
    intent with no floating-point idf (ln() bit-parity across engines is
    not guaranteed; integer ranking is).

    Plan shape: explode -> two hash aggregations (tf on (doc, term), df on
    term) -> broadcast the df side -> per-doc window top-k
    (WindowGroupLimit pushes k into the sort). At corpus scale df is the
    classic skewed small side: it broadcasts; tf shuffles once on doc_id.
    """
    from pyspark.sql import Window

    # the split/explode and the map-side partial tf aggregation run below
    # the first exchange, i.e. at scan parallelism unless fanned out
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), spark)
    terms = docs.select(
        "doc_id", F.explode(F.expr("split(text, ' ')")).alias("term")
    ).filter(F.col("term") != "")
    # tf already holds exactly one row per distinct (doc, term), so df —
    # docs containing the term — is a row count over tf per term, not a
    # second explode + corpus-wide distinct() on (doc_id, term) strings.
    tf = materialize(terms.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


QUERIES = {
    "tfidf_top_terms": q_tfidf_top_terms,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "fingerprint": q_fingerprint,
    "corpus_filter": q_corpus_filter,
}

_D_STOP = " + ".join(
    tx.count_substr("duckdb", _padded("duckdb"), f" {w} ") for w in _STOP
)
_D_PUNCT = (tx.count_substr("duckdb", "text", ".")
            + " + " + tx.count_substr("duckdb", "text", ","))
_D_MARKERS = ", ".join(
    f"{_marker_count('duckdb', lang)} AS c_{lang}" for lang in _LANG_ORDER
)

ORACLES = {
    "tfidf_top_terms": """
        WITH terms AS (
            SELECT doc_id, t.term
            FROM documents, unnest(string_split(text, ' ')) AS t(term)
            WHERE t.term <> ''),
        tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
               FROM terms GROUP BY doc_id, term),
        df AS (SELECT term, count(*)::BIGINT AS df
               FROM (SELECT DISTINCT doc_id, term FROM terms)
               GROUP BY term),
        ranked AS (
            SELECT tf.doc_id, tf.term, tf.tf, df.df,
                   row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
            FROM tf JOIN df USING (term))
        SELECT doc_id, term, tf, df, rank::INT AS rank
        FROM ranked WHERE rank <= 3
    """,
    "lang_id": f"""
        WITH c AS (SELECT doc_id, {_D_MARKERS} FROM documents)
        SELECT doc_id, {_pred_expr("duckdb")} AS pred_lang,
               c_en, c_de, c_es, c_fr, c_zh
        FROM c
    """,
    "quality_score": f"""
        WITH b AS (
            SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   ({_D_STOP})::BIGINT AS stop_hits,
                   ({_D_PUNCT})::BIGINT AS punct
            FROM documents)
        SELECT doc_id, n_tokens, stop_hits, punct,
               n_tokens + 5 * stop_hits - 2 * punct AS score,
               (n_tokens >= 20 AND stop_hits >= 2) AS is_quality
        FROM b
    """,
    "token_counts": f"""
        SELECT doc_id,
               len(string_split(text, ' '))::BIGINT AS ws_tokens,
               ({tx.token_count_regex("duckdb", "text")})::BIGINT AS bpe_tokens
        FROM documents
    """,
    "fingerprint": f"""
        SELECT doc_id,
               {tx.poly_hash("text")} AS fp,
               {tx.poly_hash("substring(text, 1, 64)")} AS fp_prefix
        FROM documents
    """,
    "corpus_filter": f"""
        WITH aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text
            FROM documents WHERE doc_id % 5 = 0),
        sig AS (
            SELECT doc_id,
                   len(string_split(text, ' '))::BIGINT AS n_tokens,
                   ({_D_STOP})::BIGINT AS stop_hits,
                   ({_D_PUNCT})::BIGINT AS punct,
                   min(doc_id) OVER (PARTITION BY text) AS keeper
            FROM aug)
        SELECT doc_id, n_tokens, stop_hits, punct,
               (CASE WHEN doc_id <> keeper THEN 'duplicate'
                     WHEN n_tokens < 20 THEN 'too_short'
                     WHEN stop_hits < 2 THEN 'low_stopword_density'
                     WHEN punct * 5 > n_tokens THEN 'symbol_heavy'
                     ELSE 'kept' END) AS verdict,
               (CASE WHEN doc_id <> keeper THEN 'duplicate'
                     WHEN n_tokens < 20 THEN 'too_short'
                     WHEN stop_hits < 2 THEN 'low_stopword_density'
                     WHEN punct * 5 > n_tokens THEN 'symbol_heavy'
                     ELSE 'kept' END) = 'kept' AS keep
        FROM sig
    """,
}
