"""Reusable column-expression builders.

The oracle-parity discipline: every non-trivial scalar computation (hashes,
shingles, similarity scores) is emitted from ONE template into both the
Spark SQL dialect (evaluated JVM-side by Catalyst — no Python in the hot
path) and the DuckDB dialect (the driver's correctness oracle). A query and
its oracle can then never drift apart. The one exception is the cleanup
cascade's per-document hash kernel (docsig.py, a compiled Java UDF), which
is tested against the textexpr formulation it replaces on the Spark side.
"""

from no_ocr_spark.functions import textexpr  # noqa: F401
