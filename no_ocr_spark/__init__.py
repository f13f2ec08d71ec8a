"""no_ocr_spark — a PySpark-native document ingestion + main-content
extraction engine with the capabilities of kyryl-opens-ml/no-ocr
(reference, read-only at /root/reference — studied for WHAT to compute,
never copied).

Layout:
  extract/    pure-Python extraction core (no Spark): HTML tokenizer ->
              DOM tree -> boilerplate classifier; mini PDF span parser.
  operators/  Spark DataFrame operators (extraction UDFs, top-k retrieval,
              dedup family, text analysis, lookups/joins).
  sources/    table loaders + deterministic synthetic `pages` corpus.
  functions/  reusable column expressions (hashing, similarity, text stats).
  plans/      lineage / checkpoint-resume / skew-salting driver logic.
  jobs/       spark-submit entry points.
"""

__version__ = "0.1.0"
