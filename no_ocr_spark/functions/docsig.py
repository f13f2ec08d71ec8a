"""The engine's Spark-side per-document text hashes, as compiled kernels.

Every Spark plan that hashes text calls one of the Java UDFs of
`jvm/DocSig.java`, which walk each document's code points once:

  * `poly_hash(spark, s)`: the bigint poly hash of a string;
  * `word_hashes(spark, text)`: `array<bigint>`, one poly hash per word of
    `split(text, ' ')`, empty words kept;
  * `word_grams(spark, text, k)`: the positional k-word gram hashes;
  * `simhash(spark, text, n_bits)`: an n_bits <= 60 SimHash;
  * `with_doc_sig(docs)`: the cleanup cascade's repetition flag and
    MinHash signature in one call.

Spark's higher-order functions (`transform`, `aggregate`) are
`CodegenFallback` in Spark 4.1: written as SQL lambdas, the same hashes
ran one interpreted lambda call per character, per gram and per MinHash
slot. The values are the formula `functions/textexpr.py` renders for the
DuckDB oracles, which stays the reference (tests/test_docsig.py). A null
text gives a null hash, except in `with_doc_sig` (a doc of no words).

The classes ship in `jvm/no-ocr-spark.jar`: `session.get_spark` puts it on
the driver class path when it launches the JVM; a submitted job passes it
with `--driver-class-path` and `--jars`. A session whose JVM lacks it gets
the jar through `ADD JAR`, which also ships it to the executors; when the
jar file is not on the driver's disk either, composing fails with an error
that names it.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from no_ocr_spark.session import JVM_JAR

_CLASS = "no_ocr_spark.jvm.DocSig"
DOC_SIG = "no_ocr_doc_sig"
POLY_HASH = "no_ocr_poly_hash"
WORD_HASHES = "no_ocr_word_hashes"
WORD_GRAMS = "no_ocr_word_grams"
SIMHASH = "no_ocr_simhash"
# SQL name -> (class, return type)
KERNELS = {
    DOC_SIG: (_CLASS, StructType([
        StructField("is_repetitive", BooleanType(), False),
        StructField("sig", ArrayType(LongType(), False), False),
    ])),
    POLY_HASH: (f"{_CLASS}$PolyHash", LongType()),
    WORD_HASHES: (f"{_CLASS}$WordHashes", ArrayType(LongType(), False)),
    WORD_GRAMS: (f"{_CLASS}$WordGrams", ArrayType(LongType(), False)),
    SIMHASH: (f"{_CLASS}$SimHash", LongType()),
}


def _register_all(spark: SparkSession) -> None:
    for name, (cls, typ) in KERNELS.items():
        spark.udf.registerJavaFunction(name, cls, typ)


def _register(spark: SparkSession) -> None:
    # SIMHASH is the last name _register_all registers
    if spark.catalog.functionExists(SIMHASH):
        return
    try:
        _register_all(spark)
        return
    except AnalysisException:
        if not os.path.isfile(JVM_JAR):
            raise RuntimeError(
                f"{_CLASS} is not on the JVM class path: pass "
                f"{os.path.basename(JVM_JAR)} (no_ocr_spark/jvm/) with "
                "--driver-class-path and --jars") from None
    spark.sql(f"ADD JAR '{JVM_JAR}'")
    _register_all(spark)


def _call(spark: SparkSession, name: str, *args) -> str:
    """SQL text of one kernel call, the family registered in `spark`."""
    _register(spark)
    return f"{name}({', '.join(map(str, args))})"


def poly_hash(spark: SparkSession, s: str) -> str:
    return _call(spark, POLY_HASH, s)


def word_hashes(spark: SparkSession, text: str) -> str:
    return _call(spark, WORD_HASHES, text)


def word_grams(spark: SparkSession, text: str, k: int) -> str:
    """Element i (1-based) hashes words i..i+k-1; a doc of fewer than k
    words has none."""
    return _call(spark, WORD_GRAMS, text, k)


def simhash(spark: SparkSession, text: str, n_bits: int) -> str:
    """Bits 0-29 from the word hashes, bits 30+ from a second family
    (multiplier 131): a poly hash mod P64 carries 30 bits."""
    if n_bits > 60:
        raise ValueError("two poly-hash families provide 60 useful bits")
    return _call(spark, SIMHASH, text, n_bits)


def with_doc_sig(docs: DataFrame) -> DataFrame:
    """Append `is_repetitive` and `sig` computed from `text` by one kernel
    call per row (a null text yields false and eight P64 slots).

    Filter on `is_repetitive` only ABOVE a materialization boundary (a
    persist, a staging write): a filter placed directly on this output is
    pushed below the projection, and the kernel then runs once in the
    predicate and again in the projection (operators/cleanup.py filters
    its cached relation for this reason)."""
    # the struct is a column of its own: both fields read it, so
    # CollapseProject keeps the one call instead of inlining it per field
    return (
        docs.withColumn("_ds", F.expr(_call(docs.sparkSession, DOC_SIG,
                                            "text")))
        .withColumn("is_repetitive", F.col("_ds.is_repetitive"))
        .withColumn("sig", F.col("_ds.sig"))
        .drop("_ds")
    )
