"""The reference's ENTIRE core loop, end to end on this engine:

    PDF bytes -> page parse -> page raster -> per-page JPEG  (ingest,
    `no-ocr-api/np_ocr/data.py`) -> per-page MULTIVECTOR embedding
    (ColQwen2's role, hermetic deterministic stand-in) -> nested
    array<array<double>> storage (the reference's list<list<float>>
    LanceDB schema) -> MaxSim top-k query -> join back to (url, page)
    (`search.py` + `api.py`).

Every stage is the real operator used elsewhere in the repo; the only
stand-in is the embedding function (the GPU model is out of scope by
design — SURVEY §0), which is deterministic arithmetic over the JPEG
bytes so retrieval is self-consistent: querying with page P's embedding
must return page P first with the maximal self-similarity score."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from no_ocr_spark.extract.pdf import build_pdf
from no_ocr_spark.operators.page_images import page_images
from no_ocr_spark.functions.textexpr import maxsim as _maxsim_over_nested

N_TOK, DIM = 3, 8  # patch tokens x dims (tiny ColQwen2 stand-in)


def _make_embed_jpeg():
    """Deterministic multivector from JPEG bytes: 3 byte-range 'patch
    tokens', each hashed into 8 dims. Distinct pages -> distinct
    vectors with overwhelming probability; identical bytes -> identical
    vectors (what makes self-retrieval exact). Built by a factory so the
    function pickles BY VALUE into Spark workers (test modules are not
    importable there)."""

    def embed_jpeg(payload: bytes) -> list[list[float]]:
        out = []
        n = len(payload)
        for t in range(N_TOK):
            chunk = payload[t * n // N_TOK:(t + 1) * n // N_TOK]
            vec = []
            for j in range(DIM):
                acc = j + 1
                for b in chunk[:256]:
                    acc = (acc * 1_000_003 + b) % 1_000_000_007
                vec.append((acc % 10_000) / 10_000.0)
            out.append(vec)
        return out

    return embed_jpeg


def _pages_df(spark):
    rows = []
    for i in range(4):
        lines = [[f"document {i} page {p} body line {ln}"
                  for ln in range(3)] for p in range(2)]
        rows.append({"url": f"https://site{i}.org/doc",
                     "html": build_pdf(lines), "text": "t", "lang": "en"})
    pdf = pd.DataFrame(rows)
    pdf.insert(1, "warc_ts", pd.to_datetime(["2024-01-01"] * 4, utc=True))
    return spark.createDataFrame(
        pdf, "url string, warc_ts timestamp, html binary, text string, "
             "lang string")


def test_pdf_to_maxsim_retrieval_loop(spark, tmp_path_factory):
    pages = _pages_df(spark)

    imgs = page_images(pages, dpi=72)  # ingest: one JPEG row per page
    embed_jpeg = _make_embed_jpeg()

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "url": pdf["url"],
                "page": pdf["page"].astype("int32"),
                "mv": [embed_jpeg(bytes(b)) for b in pdf["jpeg"]],
            })

    emb = imgs.mapInPandas(
        embed, schema="url string, page int, mv array<array<double>>")

    # store in the reference's nested schema and read back (LanceDB's
    # list<list<float>> shape as a real parquet table)
    store = str(tmp_path_factory.mktemp("pageemb")) + "/emb"
    emb.write.parquet(store)
    stored = spark.read.parquet(store)
    assert stored.schema["mv"].dataType.simpleString() == \
        "array<array<double>>"
    n_pages = stored.count()
    assert n_pages == 8  # 4 docs x 2 pages

    # query: the target page's own embedding, computed independently
    # driver-side from the stored JPEG bytes
    target = imgs.filter(
        (F.col("url") == "https://site2.org/doc") & (F.col("page") == 2)
    ).select("jpeg").collect()[0]
    qmv = embed_jpeg(bytes(target.jpeg))

    qdf = spark.createDataFrame([(qmv,)], "qmv array<array<double>>")
    scored = (stored.crossJoin(F.broadcast(qdf))
              .select("url", "page",
                      F.expr(_maxsim_over_nested("spark", "qmv", "mv"))
                      .alias("score"))
              .orderBy(F.desc("score"), "url", "page"))
    top = scored.limit(2).collect()
    assert (top[0].url, top[0].page) == ("https://site2.org/doc", 2)
    # self-similarity is the sum over query tokens of max dot = exact
    self_score = sum(sum(x * x for x in tok) for tok in qmv)
    assert abs(top[0].score - self_score) < 1e-9
    assert top[1].score < top[0].score  # strictly best, not a tie
