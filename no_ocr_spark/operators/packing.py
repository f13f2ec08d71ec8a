"""Sequence packing: greedy first-fit-in-order token-budget binning — the
training-data op that turns a cleaned document table into fixed-budget
training sequences (the standard pre-tokenization packing step for LLM
pipelines; greedy in a deterministic document order, so results are
reproducible run to run).

Semantics (exact, shared by engine and oracle): within each group, walk
documents in doc_id order keeping a running fill; a document goes into
the current sequence iff fill + n_tokens <= BUDGET, else it starts the
next sequence (documents longer than BUDGET get a sequence of their own —
truncation is the tokenizer stage's call, not the packer's). This
sequential dependence is exactly what plain window functions cannot
express — the engine uses applyInPandas (grouped Arrow batches, one
in-memory pass per group), and the ORACLE uses an independent
formulation: a DuckDB recursive CTE stepping rn -> rn+1.

Scale note (100 TB): groups here are `lang` (test-scale); a production
run packs per (lang, url-hash shard) so every group fits one task and
skewed languages parallelize — packing quality is unaffected (sequences
never span shards by construction) and determinism is retained. The
in-group Python loop is O(rows) integer arithmetic on a numpy array —
microseconds per thousand docs, dominated by the Arrow transfer it rides.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.sources.tables import load_table

BUDGET = 512  # tokens per packed sequence

_SCHEMA = ("lang string, doc_id bigint, n_tokens bigint, seq_id bigint, "
           "seq_fill bigint")


def _pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    ns = pdf["n_tokens"].to_numpy()
    seq_ids = [0] * len(ns)
    fills = [0] * len(ns)
    fill, seq = 0, 1
    for i, n in enumerate(ns):
        n = int(n)
        if i == 0 or fill + n <= BUDGET:
            fill = fill + n if i else n
        else:
            seq += 1
            fill = n
        seq_ids[i] = seq
        fills[i] = fill
    out = pdf[["lang", "doc_id", "n_tokens"]].copy()
    out["seq_id"] = seq_ids
    out["seq_fill"] = fills
    return out


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id",
        # null text -> size() yields null -> NaN in pandas -> int() raises;
        # coalesce to 0 (mirrored by the oracle's COALESCE)
        F.expr("coalesce(cast(size(split(text, ' ')) as bigint), 0)")
        .alias("n_tokens"),
    )
    return docs.groupBy("lang").applyInPandas(_pack_group, schema=_SCHEMA)


QUERIES = {"pack_sequences": q_pack_sequences}

ORACLES = {
    # independent formulation: recursive CTE stepping the per-group row
    # number; CASE mirrors the greedy fill/reset rule exactly
    "pack_sequences": f"""
        WITH RECURSIVE toks AS (
          SELECT lang, doc_id,
                 COALESCE(len(string_split(text, ' ')), 0)::BIGINT AS n,
                 ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
                   AS rn
          FROM documents
        ), packed AS (
          SELECT lang, doc_id, n, rn, n AS fill, 1::BIGINT AS seq_id
          FROM toks WHERE rn = 1
          UNION ALL
          SELECT t.lang, t.doc_id, t.n, t.rn,
                 CASE WHEN p.fill + t.n <= {BUDGET}
                      THEN p.fill + t.n ELSE t.n END,
                 CASE WHEN p.fill + t.n <= {BUDGET}
                      THEN p.seq_id ELSE p.seq_id + 1 END
          FROM toks t JOIN packed p
            ON t.lang = p.lang AND t.rn = p.rn + 1
        )
        SELECT lang, doc_id, n AS n_tokens, seq_id,
               fill AS seq_fill
        FROM packed
    """,
}
