"""Mojibake repair — fixing UTF-8 text that was once mis-decoded as
Latin-1/Windows-1252 ("é" -> "Ã©", "'" -> "â€™"), the single most
common encoding corruption in web crawls; The Pile/GPT-2's pipelines
ran exactly this class of repair (via ftfy) before training.

Entirely CODEGEN — no Python in the plan:

  1. `translate` maps the 27 cp1252-specific printable characters
     (€ ‚ ƒ … ™ œ ...) back to the C1 code points U+0080-U+009F whose
     BYTES they came from — after this, every character of a mojibake
     string mirrors one original byte ("sloppy windows-1252", the ftfy
     trick).
  2. a UTF-8 VALIDITY regex over those byte-mirroring code points
     (RFC 3629 grammar: lead-byte classes + continuation ranges,
     overlong/surrogate/>U+10FFFF excluded) decides repairability —
     legitimate Latin-1 prose ("café") fails it, real double-encoded
     text passes; at least one multi-byte lead (U+00C2-U+00F4) is
     required so pure-ASCII rows stay untouched.
  3. only passing rows run `decode(encode(s, 'ISO-8859-1'), 'UTF-8')`
     (CASE short-circuits, so Spark 4's MALFORMED_CHARACTER_CODING
     error path is unreachable: the regex proved both conversions
     total).

False positives are the documented residue of the classic rule: a
short legit string whose code points happen to form valid UTF-8 bytes
(e.g. a bare "Â°") repairs when it shouldn't — ftfy layers language
heuristics on top; corpus pipelines accept the rule as-is because the
pattern is overwhelmingly corruption in practice.

No SQL oracle by design: DuckDB has no charset-conversion functions
(same disclosed carve-out as bpe_tokenize/compression_ratio). The
EXACT repair is instead recomputed independently with Python's codecs
machinery in tests/test_mojibake.py, and the parity harness smoke-runs
the query schema/rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

# cp1252 printable chars at 0x80-0x9F (0x81/0x8D/0x8F/0x90/0x9D are
# unassigned and can't appear in decoded text)
_CP1252 = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8a: "Š", 0x8b: "‹", 0x8c: "Œ",
    0x8e: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9a: "š", 0x9b: "›",
    0x9c: "œ", 0x9e: "ž", 0x9f: "Ÿ",
}
CP_SRC = "".join(_CP1252.values())
CP_DST = "".join(chr(b) for b in _CP1252)

# RFC 3629 UTF-8 grammar over byte-mirroring code points (\xHH here is
# a CODE POINT class — the string was translated so cp <= 0xFF <=> one
# original byte). Rejects overlongs (\xC0/\xC1, \xE0 \x80-\x9F...),
# surrogates (\xED \xA0+), and > U+10FFFF (\xF5+).
UTF8_VALID_RE = (
    "^(?:[\\x00-\\x7f]"
    "|[\\xc2-\\xdf][\\x80-\\xbf]"
    "|\\xe0[\\xa0-\\xbf][\\x80-\\xbf]"
    "|[\\xe1-\\xec\\xee\\xef][\\x80-\\xbf]{2}"
    "|\\xed[\\x80-\\x9f][\\x80-\\xbf]"
    "|\\xf0[\\x90-\\xbf][\\x80-\\xbf]{2}"
    "|[\\xf1-\\xf3][\\x80-\\xbf]{3}"
    "|\\xf4[\\x80-\\x8f][\\x80-\\xbf]{2})*$"
)
_HAS_LEAD_RE = "[\\xc2-\\xf4]"


def repair_mojibake_col(col: F.Column) -> tuple[F.Column, F.Column]:
    """(repaired, was_repaired) codegen expressions for a string col."""
    mirrored = F.translate(col, CP_SRC, CP_DST)
    # cheap single-char-class probe FIRST: codegen And short-circuits, so
    # the full UTF-8-grammar alternation regex only runs on docs that
    # contain a lead-byte-mirroring code point at all (r6 — the clean
    # ASCII majority paid the expensive regex for a guaranteed-false
    # conjunction; same boolean, conjunction is commutative)
    repairable = mirrored.rlike(_HAS_LEAD_RE) & mirrored.rlike(UTF8_VALID_RE)
    repaired = F.when(
        repairable,
        F.decode(F.encode(mirrored, "ISO-8859-1"), "UTF-8"),
    ).otherwise(col)
    return repaired, repairable & col.isNotNull()


def _augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministically double-encoded copies of every
    25th doc's first 10 words (plus cp1252 punctuation), so the gate
    has real corruption to find."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    head = F.expr("array_join(slice(split(text, ' '), 1, 10), ' ')")
    sample = F.concat(head, F.lit(" it’s café — €5"))
    # double-encode IN-PLAN: utf-8 bytes of `sample`, re-read as latin-1.
    # decode(bytes,'ISO-8859-1') is total, and the result's cp1252-only
    # chars don't arise (latin-1 maps 0x80-0x9F to C1), matching the
    # wild "decoded as latin-1" bug exactly.
    corrupted = F.decode(F.encode(sample, "UTF-8"), "ISO-8859-1")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        corrupted.alias("text"),
    )
    return docs.unionByName(copies)


def q_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text_md5, was_repaired) over the augmented corpus."""
    docs = _augmented(spark, sf_dir)
    repaired, flag = repair_mojibake_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(F.encode(repaired, "UTF-8")).alias("text_md5"),
        flag.alias("was_repaired"),
    )


QUERIES = {"mojibake_repair": q_mojibake_repair}
# no SQL oracle by design (no charset conversion in SQL); exact repair
# is pinned by tests/test_mojibake.py with Python's codecs
ORACLES: dict = {}
