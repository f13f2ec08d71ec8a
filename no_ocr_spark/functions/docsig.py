"""The cleanup cascade's per-document hashes in one JVM call.

`with_doc_sig` appends `is_repetitive` (the Gopher top-2-gram gate) and
`sig` (the 8-slot MinHash signature over 3-word shingles) computed from
`text` by `jvm/DocSig.java`, a Java UDF that walks each document once.
Spark's higher-order functions (`transform`, `aggregate`) are
`CodegenFallback` in Spark 4.1: written as SQL lambdas, the same hashes
ran one interpreted lambda call per character, per shingle and per MinHash
slot. The values are the `functions/textexpr.py` formulation, which stays
the reference (tests/test_docsig.py) and the DuckDB oracles' formula.

The class ships in `jvm/no-ocr-spark.jar`: `session.get_spark` puts it on
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

DOC_SIG = "no_ocr_doc_sig"
DOC_SIG_CLASS = "no_ocr_spark.jvm.DocSig"
_DOC_SIG_TYPE = StructType([
    StructField("is_repetitive", BooleanType(), False),
    StructField("sig", ArrayType(LongType(), False), False),
])


def _register(spark: SparkSession) -> None:
    if spark.catalog.functionExists(DOC_SIG):
        return
    try:
        spark.udf.registerJavaFunction(DOC_SIG, DOC_SIG_CLASS, _DOC_SIG_TYPE)
        return
    except AnalysisException:
        if not os.path.isfile(JVM_JAR):
            raise RuntimeError(
                f"{DOC_SIG_CLASS} is not on the JVM class path: pass "
                f"{os.path.basename(JVM_JAR)} (no_ocr_spark/jvm/) with "
                "--driver-class-path and --jars") from None
    spark.sql(f"ADD JAR '{JVM_JAR}'")
    spark.udf.registerJavaFunction(DOC_SIG, DOC_SIG_CLASS, _DOC_SIG_TYPE)


def with_doc_sig(docs: DataFrame) -> DataFrame:
    """Append `is_repetitive` and `sig` computed from `text` by one kernel
    call per row (a null text yields false and eight P64 slots).

    Filter on `is_repetitive` only ABOVE a materialization boundary (a
    persist, a staging write): a filter placed directly on this output is
    pushed below the projection, and the kernel then runs once in the
    predicate and again in the projection (operators/cleanup.py filters
    its cached relation for this reason)."""
    _register(docs.sparkSession)
    # the struct is a column of its own: both fields read it, so
    # CollapseProject keeps the one call instead of inlining it per field
    return (
        docs.withColumn("_ds", F.expr(f"{DOC_SIG}(text)"))
        .withColumn("is_repetitive", F.col("_ds.is_repetitive"))
        .withColumn("sig", F.col("_ds.sig"))
        .drop("_ds")
    )
