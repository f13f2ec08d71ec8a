"""Reusable column-expression builders.

The oracle-parity discipline: every non-trivial scalar computation (hashes,
shingles, similarity scores) is emitted from ONE template into both the
Spark SQL dialect (evaluated JVM-side by Catalyst — no Python in the hot
path) and the DuckDB dialect (the driver's correctness oracle). A query and
its oracle can then never drift apart. The one exception is the text
hashes: textexpr renders them for DuckDB only, and the Spark side runs
them in compiled Java UDFs (docsig.py), tested against that rendering.
"""

from no_ocr_spark.functions import textexpr  # noqa: F401
