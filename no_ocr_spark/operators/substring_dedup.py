"""Cross-document repeated-SUBSTRING removal — the ExactSubstr dedup of
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better"): any passage that appears verbatim more than once ANYWHERE in
the corpus (across documents or within one) is removed from every
occurrence, leaving the surrounding text intact. Distinct from document
dedup (whole docs) and line dedup (newline units): this catches the
boilerplate/quote/license-block duplication that survives both.

Spark-first realization at word-k-gram granularity (the paper's suffix
array is a single-node structure; k-gram marking is the standard
distributed equivalent — every word covered by a duplicated k-gram is
removed, i.e. exactly the maximal duplicated substrings of >= K_GRAM
words, with up-to-(K_GRAM-1)-word fragments at their boundaries kept):

  1. positional k-gram hashes per doc (the compiled kernel
     docsig.word_grams; words hashed once, grams composed from word
     hashes — textexpr.positional_shingle_hashes for the oracle);
  2. ONE shuffle: groupBy(gram_hash) count — rows are (8-byte hash,
     doc_id, pos), never text;
  3. hashes with count > 1 join back (hash-keyed) and collapse to a
     per-doc sorted duplicated-position list;
  4. map-side reconstruction: keep word j iff no duplicated gram
     starting in (j-K_GRAM, j] covers it; rejoin kept words.

The per-doc coverage test is O(words x dup_marks) array lambdas —
bounded by the doc's own length, no shuffle. Hashes are the portable
poly family (~2^30): a collision falsely removes a span; at corpus
scale swap the gram hash for xxhash64 (or two independent families)
exactly like dedup_exact's documented trade — the oracle keeps the
portable family so both engines agree bit-for-bit.

Reference scope note: the reference has no training-data curation ops;
this extends the §2 inventory the way the other Dolma/CCNet-style
operators do (SURVEY §6).

Corpus note: on the driver's SYNTHETIC documents the removal rate is
high (9% of words at sf0.01, ~98% at sf=1) because the tiny generator
vocabulary makes most 8-word grams genuinely recur — the operator is
faithfully reporting that the synthetic corpus is near-total
boilerplate at k-gram granularity; on real web text K_GRAM~50-token
spans repeat far more rarely (Lee et al. report ~3% of tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions import docsig
from no_ocr_spark.functions import textexpr as tx
from no_ocr_spark.plans.partitioning import fan_out_for_cpu, materialize
from no_ocr_spark.sources.tables import load_table

K_GRAM = 8  # words per gram (the paper's 50 BPE tokens, scaled to the
#             test corpus's short docs; a production run sets ~30-50)


def _clean_expr(dialect: str, words: str, dup: str) -> str:
    """Rebuild the text from words NOT covered by any duplicated gram.
    `dup` = sorted 1-based gram start positions; gram at position p
    covers words p..p+K_GRAM-1. Spark side anchors the words array as a
    transform INPUT (evaluated once) instead of element_at references
    inside lambdas (each would re-evaluate the split per element)."""
    if dialect == "spark":
        covered = (f"size(filter({dup}, p -> p <= s.j "
                   f"and s.j < p + {K_GRAM})) = 0")
        indexed = (f"transform({words}, (x, i) -> "
                   f"named_struct('x', x, 'j', i + 1))")
        return (f"array_join(transform(filter({indexed}, s -> {covered}), "
                f"s -> s.x), ' ')")
    covered = (f"len(list_filter({dup}, p -> p <= j "
               f"and j < p + {K_GRAM})) = 0")
    kept = f"list_filter(generate_series(1, len({words})), j -> {covered})"
    # DuckDB's array_to_string([]) is NULL where Spark's array_join is ''
    return (f"COALESCE(array_to_string(list_transform({kept}, "
            f"j -> {words}[j]), ' '), '')")


def remove_repeated_substrings(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, n_words, n_removed, clean_text)."""
    grams = docsig.word_grams(docs.sparkSession, "text", K_GRAM)
    with_grams = docs.select("doc_id", "text", F.expr(grams).alias("grams"))
    positions = materialize(with_grams.select(
        "doc_id", F.posexplode("grams").alias("p0", "h")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "h"))
    dup_hashes = (positions.groupBy("h").count()
                  .filter(F.col("count") > 1).select("h"))
    dup_pos = (
        positions.join(dup_hashes, "h")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("dup"))
    )
    joined = with_grams.join(dup_pos, "doc_id", "left").select(
        "doc_id", "text",
        F.coalesce("dup", F.expr("array()")).alias("dup"),
    )
    words = tx.words("spark", "text")
    clean = _clean_expr("spark", "w", "dup")
    # n_words counts NON-empty tokens on both sides: split() emits empty
    # strings for doubled/leading/trailing spaces, and counting them as
    # words made n_removed over-report on untouched docs (review finding
    # — e.g. 'a  b' with no dup anywhere reported n_removed=1)
    return (
        joined.withColumn("w", F.expr(words))
        .select(
            "doc_id",
            F.expr("cast(size(filter(w, x -> x <> '')) as bigint)")
            .alias("n_words"),
            F.expr(clean).alias("clean_text"),
        )
        .withColumn(
            "n_removed",
            F.expr("n_words - cast(size(filter(split(clean_text, ' '), "
                   "x -> x <> '')) as bigint)"),
        )
        .select("doc_id", "n_words", "n_removed", "clean_text")
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remove_repeated_substrings(fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        spark,
    ))


QUERIES = {"substring_dedup": q_substring_dedup}


def _oracle() -> str:
    words = tx.words("duckdb", "text")
    grams = tx.positional_shingle_hashes(tx.word_hashes(words), K_GRAM)
    clean = _clean_expr("duckdb", "w", "dup")
    return f"""
        WITH g AS (
          SELECT doc_id, text, {grams} AS grams FROM documents
        ),
        pos AS (
          -- parallel unnests ZIP in DuckDB: position + hash stay aligned
          SELECT doc_id,
                 unnest(generate_series(1, len(grams))) AS p,
                 unnest(grams) AS h
          FROM g
        ),
        duph AS (
          SELECT h FROM pos GROUP BY h HAVING count(*) > 1
        ),
        dupp AS (
          SELECT doc_id, list(p ORDER BY p) AS dup
          FROM pos JOIN duph USING (h) GROUP BY doc_id
        ),
        j AS (
          SELECT g.doc_id, g.text,
                 COALESCE(d.dup, []) AS dup,
                 {words} AS w
          FROM g LEFT JOIN dupp d ON g.doc_id = d.doc_id
        )
        SELECT doc_id,
               len(list_filter(w, x -> x <> ''))::BIGINT AS n_words,
               (len(list_filter(w, x -> x <> ''))
                - len(list_filter(string_split({clean}, ' '),
                                  x -> x <> '')))::BIGINT
                 AS n_removed,
               {clean} AS clean_text
        FROM j
    """


ORACLES = {"substring_dedup": _oracle()}
