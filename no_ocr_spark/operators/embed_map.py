"""External-service embedding map operator (SURVEY.md §2.2 T6).

Reference semantics: the ingest pipeline posts batches of page payloads to
an embedding server and attaches the returned vectors
(`no-ocr-api/np_ocr/search.py:59-65, 89-117`; server
`no-ocr-llms/llm_serving_colpali.py:98-106`). The reference tests this
hermetically with a deterministic mock (`no-ocr-api/tests/mock_colpali.py:
40-50`) — the same trick used here: `StubEmbedClient` is a pure,
integer-arithmetic embedding whose math is reproducible in DuckDB SQL, so
the ENTIRE operator path (Arrow transport in, per-partition client,
batched requests, Arrow transport out, downstream cosine retrieval) is
oracle-gated, not just smoke-tested.

Spark realization: iterator-style ``mapInPandas``:

- ONE client per partition — ``client_factory()`` runs once when the
  iterator function starts, amortizing connection/session setup over every
  Arrow batch that executor core processes (the HTTP-session-per-partition
  pattern).
- Intra-partition batching at ``batch_size`` texts per request — bounds
  request payload and peak vector memory per core regardless of Arrow
  batch size.
- Zero per-row Python dispatch outside the (vectorized) client call.

At 100 TB the embedding service, not Spark, is the throughput ceiling; the
operator therefore (a) never holds more than one request batch of vectors
per core (iterator shape), (b) reuses the connection (per-partition
client), and (c) is idempotent per row (embed is a pure function of the
text), so Spark task retries are safe.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.functions.textexpr import cosine
from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

EMBED_DIM = 16
EMBED_BATCH = 64
_MOD = 1009
_OFF = 504  # centers the residue range to [-504, 504]


class StubEmbedClient:
    """Deterministic stand-in for the embedding service client.

    embed(texts)[i][d] = (cpsum*(2d+3) + n_chars*(d+1)) % 1009 - 504
    where cpsum = sum of unicode codepoints. Pure integer arithmetic ==
    bit-exact in DuckDB SQL (see ``_stub_embedding_sql``). Swap this class
    for a real HTTP client (requests.Session in __init__, POST in embed)
    without touching the operator.
    """

    def __init__(self) -> None:
        self.n_requests = 0  # stands in for connection/session state

    def embed(self, texts: list[str]) -> list[list[int]]:
        self.n_requests += 1
        out = []
        for t in texts:
            cps = sum(map(ord, t))
            n = len(t)
            out.append(
                [(cps * (2 * d + 3) + n * (d + 1)) % _MOD - _OFF
                 for d in range(EMBED_DIM)]
            )
        return out


def make_embed_runner(
    client_factory: Callable[[], StubEmbedClient],
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = EMBED_BATCH,
    max_retries: int = 2,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The per-partition iterator function (exposed for direct unit tests).

    Failure semantics: a failed request is retried up to max_retries times
    with a FRESH client (the connection-reset case); only the failed
    request batch is retried, never re-sent work. If retries are
    exhausted the error propagates — Spark then retries the whole task,
    which is safe because embed is a pure function of the text."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()  # once per PARTITION, not per batch
        for pdf in batches:
            texts = pdf[text_col].tolist()
            vecs: list[list[int]] = []
            for s in range(0, len(texts), batch_size):
                req = texts[s:s + batch_size]
                for attempt in range(max_retries + 1):
                    try:
                        vecs.extend(client.embed(req))
                        break
                    except Exception:
                        if attempt == max_retries:
                            raise
                        client = client_factory()  # reconnect
            yield pd.DataFrame({id_col: pdf[id_col].values, "embedding": vecs})

    return run


def embed_map(
    df: DataFrame,
    client_factory: Callable[[], StubEmbedClient] = StubEmbedClient,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_size: int = EMBED_BATCH,
) -> DataFrame:
    """df(id, text, ...) -> (id, embedding array<bigint>) via the service."""
    runner = make_embed_runner(client_factory, id_col, text_col, batch_size)
    return df.select(id_col, text_col).mapInPandas(
        runner, schema=f"{id_col} bigint, embedding array<bigint>"
    )


# ----------------------------------------------------------------- queries
def q_embed_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text -> batched 'service' embedding -> 16 scalar dims.

    Scalar e_1..e_16 output (driver-canonicalizable); the oracle recomputes
    the stub arithmetic in SQL, proving text bytes, batching, and vectors
    survive the JVM->Arrow->pandas->Arrow round trip exactly.
    """
    docs = fan_out_for_cpu(load_table(spark, sf_dir, "documents"), spark)
    emb = embed_map(docs)
    return emb.select(
        "doc_id",
        *[F.element_at(F.col("embedding"), d + 1).alias(f"e_{d + 1}")
          for d in range(EMBED_DIM)],
    )


def q_search_flow_embedded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference ingest+search lifecycle from RAW text (no
    pre-built embeddings table): embed documents via the service operator,
    embed the query (doc_id=0's text), exact cosine top-3, lookup join back
    to content. Integer vector components keep every dot product exact, so
    the JVM fold and the DuckDB fold produce bit-identical doubles."""
    docs = fan_out_for_cpu(load_table(spark, sf_dir, "documents"), spark)
    emb = embed_map(docs)
    # embed ONLY doc 0 for the query vector (r6, guide §1.2): the stub
    # embedding is a pure per-row function (the oracle recomputes it
    # row-wise), so filtering before the embed pass yields the same
    # vector without re-running the whole corpus embed a second time —
    # exactly how a deployment embeds the query string alone
    q = embed_map(docs.filter(F.col("doc_id") == 0)).select(
        F.col("embedding").alias("qv"))
    hits = (
        emb.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(F.expr(cosine("spark", "embedding", "qv")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(3)
    )
    return (
        F.broadcast(hits.withColumnRenamed("doc_id", "hit_id"))
        .join(docs, F.col("hit_id") == docs.doc_id, "inner")
        .select("doc_id", "lang", "n_chars", "score")
    )


QUERIES = {
    "embed_map": q_embed_map,
    "search_flow_embedded": q_search_flow_embedded,
}

# cpsum via an explicit sequential fold over codepoints (exact integers)
_CPSUM = (
    "list_reduce(list_prepend(0::BIGINT, list_transform("
    "generate_series(1, len(text)), i -> unicode(text[i])::BIGINT)), "
    "(acc, x) -> acc + x)"
)


def _stub_embedding_sql(dim: int = EMBED_DIM) -> str:
    """DuckDB list expression mirroring StubEmbedClient.embed exactly."""
    return (
        f"list_transform(generate_series(0, {dim - 1}), "
        f"d -> (cps * (2*d + 3) + len(text) * (d + 1)) % {_MOD} - {_OFF})"
    )


_EMB_CTE = f"""
    cp AS (SELECT doc_id, text, {_CPSUM} AS cps FROM documents),
    emb AS (SELECT doc_id, {_stub_embedding_sql()} AS embedding FROM cp)
"""

ORACLES = {
    "embed_map": f"""
        WITH {_EMB_CTE}
        SELECT doc_id,
               {", ".join(f"embedding[{d + 1}] AS e_{d + 1}"
                          for d in range(EMBED_DIM))}
        FROM emb
    """,
    "search_flow_embedded": f"""
        WITH {_EMB_CTE},
        q AS (SELECT embedding AS qv FROM emb WHERE doc_id = 0),
        hits AS (
            SELECT e.doc_id AS hit_id,
                   round({cosine("duckdb", "e.embedding", "q.qv")}, 6) AS score
            FROM emb e, q WHERE e.doc_id <> 0
            ORDER BY score DESC, e.doc_id ASC LIMIT 3)
        SELECT d.doc_id, d.lang, d.n_chars, h.score
        FROM hits h JOIN documents d ON h.hit_id = d.doc_id
    """,
}
