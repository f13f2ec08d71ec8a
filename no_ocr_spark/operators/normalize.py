"""Unicode NFC text normalization — the canonicalization step every
published web-text pipeline runs before hashing/dedup (CCNet normalizes
before LM scoring; C4/Dolma canonicalize whitespace; two byte-different
spellings of the same rendered string — 'é' as U+00E9 vs 'e'+U+0301 —
must dedup together, so normalization has to precede every hash-keyed
operator in the engine).

Semantics: UAX #15 NFC over the text, then a codegen cleanup pass
(strip C0/DEL control characters, collapse whitespace runs to one
space, trim). NFC itself is the ONE step Spark has no built-in for —
it runs as an Arrow-batched `unicodedata.normalize` stage (C-accelerated
CPython core, ~100 MB/s/core); the cleanup stays JVM-side regex. The
DuckDB oracle is byte-exact: `nfc_normalize()` implements the same
UAX #15 (cross-checked on combining marks, Hangul jamo, ligatures,
singleton substitutions — see tests/test_normalize.py).

Scale shape: map-only, zero shuffle — the text column never leaves its
partition; at 100 TB this rides the same full-text-scan budget as
lang-id/PII-scrub and composes into their shared pass.

The driver corpus is ASCII (NFC = identity there), so the query runs
over an AUGMENTED corpus planting denormalized spellings — NFD
combining marks, Hangul jamo, a singleton (OHM SIGN), embedded control
chars and whitespace runs — via literals shared between the Spark side
and the SQL oracle (the `_augmented_rep` convention, repetition.py:64).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

# planted denormalized rows (doc_id, text): each exercises one NFC class
# the ASCII corpus can't. Python escapes are resolved HERE so both sides
# receive identical code points; the oracle embeds them as UTF-8
# literals via _sql_lit.
_PLANTED: list[tuple[int, str]] = [
    (200001, "cafe\u0301 cre\u0300me"),        # NFD combining acute/grave
    (200002, "\u1100\u1161\u11a8 hangul jamo"),  # jamo -> syllable block
    (200003, "A\u030angstro\u0308m \u2126 ohm"),  # A+ring, o+umlaut, OHM sign
    (200004, "f\ufb01le \ufb02ow"),            # ligatures: NFC keeps them
    (200005, "ctrl\x07chars and\ttabs\n\n  runs  "),  # strip + collapse
    (200006, "x\u0323\u0307 ordering"),        # canonical mark reordering
]

_CLEAN_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
_WS_RE = "[ \\t\\n\\r]+"


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(_PLANTED, "doc_id long, text string")
    return docs.unionByName(planted)


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


_AUG_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES "
    + ", ".join(f"({i}, {_sql_lit(t)})" for i, t in _PLANTED)
    + ") AS planted(doc_id, text)"
)


def nfc_normalize_col(df: DataFrame, col: str = "text",
                      out: str = "text_nfc") -> DataFrame:
    """Append UAX #15 NFC of `col` as `out` — one Arrow-batched map-only
    stage; nulls pass through as nulls."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(list(df.schema.fields)
                        + [StructField(out, StringType())])

    def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import unicodedata

        for b in batches:
            b[out] = [
                unicodedata.normalize("NFC", t) if isinstance(t, str)
                else None
                for t in b[col]
            ]
            yield b

    return df.mapInPandas(norm, schema=schema)


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text_md5, changed, n_chars_norm): NFC + control-strip +
    whitespace-collapse over the augmented corpus. `changed` marks rows
    the full normalization rewrote; text_md5 hashes the result so any
    byte drift in either stage goes red against the oracle."""
    docs = _augmented_docs(spark, sf_dir)
    nfc = nfc_normalize_col(docs)
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text_nfc"), _CLEAN_RE, ""),
            _WS_RE, " ",
        )
    )
    return nfc.select(
        "doc_id",
        F.md5(F.encode(cleaned, "UTF-8")).alias("text_md5"),
        (~cleaned.eqNullSafe(F.col("text"))).alias("changed"),
        F.length(cleaned).alias("n_chars_norm"),
    )


_ORACLE = f"""
    WITH aug AS ({_AUG_SQL}),
    norm AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(
               nfc_normalize(text), '{_CLEAN_RE}', '', 'g'),
               '{_WS_RE}', ' ', 'g')) AS cleaned
      FROM aug
    )
    SELECT doc_id, md5(cleaned) AS text_md5,
           (cleaned IS DISTINCT FROM text) AS changed,
           length(cleaned) AS n_chars_norm
    FROM norm
"""

QUERIES = {"normalize_text": q_normalize_text}
ORACLES = {"normalize_text": _ORACLE}
