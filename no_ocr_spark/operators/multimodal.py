"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decoded/feature-extracted inside Arrow-batched mapInPandas.

Reference analogue: the page-image binary column (JPEG bytes,
`no-ocr-api/np_ocr/data.py:25-27, 51-53`) and its thumbnail/base64
post-processing (`search.py:164-168`, `api.py:223-226`).

Two decode legs:

* REAL — PNG and NetPBM payloads decode through the from-scratch codec in
  `extract/image.py` (stdlib zlib + numpy scanline unfiltering); the
  `image_thumbnails` query drives encode -> binary column -> decode ->
  nearest-neighbor resize end to end, with the decoded-pixel checksum
  matched against a closed-form SQL oracle (the fixture pixels are
  arithmetic in (doc_id, x, y, c), so DuckDB recomputes the thumbnail sum
  exactly — a real-codec path with an exact correctness gate).
* REAL — baseline JPEG decodes through the from-scratch T.81 codec in
  `extract/jpeg.py` (Huffman + dequant + IDCT + YCbCr); `jpeg_roundtrip`
  gates it with an EXACT SQL oracle via DC-only flat blocks (progressive
  JPEG quarantines — declared).
* STUB — only `multimodal_meta` keeps the original clearly-marked
  deterministic fake, proving the bare Spark plumbing (binary column,
  Arrow transport, batch-shaped UDF, typed struct out) with its own SQL
  oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from no_ocr_spark.plans.partitioning import fan_out_for_cpu
from no_ocr_spark.sources.tables import load_table

_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, width int, height int, channels int, "
    "fmt string"
)


def fake_decode_image(payload: bytes) -> dict:
    """DETERMINISTIC FAKE decoder (real decode needs PIL/ffmpeg — not in
    this container). Swap the body for PIL.Image.open when available; the
    signature, batching, and schema stay identical."""
    n = len(payload)
    return {
        "n_bytes": n,
        "width": 64 + n % 512,
        "height": 64 + (n * 7) % 512,
        "channels": 3,
        "fmt": "fakeimg",
    }


def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        metas = [fake_decode_image(b) for b in pdf["payload"]]
        out = pd.DataFrame(metas)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text -> binary payload column -> Arrow-batched 'decode' ->
    typed metadata. The oracle recomputes the fake's arithmetic in SQL —
    proving bytes survive the JVM->Arrow->pandas round trip intact."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return docs.mapInPandas(_decode_batches, schema=_META_SCHEMA)


_THUMB_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, channels int, "
    "thumb_w int, thumb_h int, thumb_sum bigint"
)
_THUMB = 4  # thumbnail side (nearest-neighbor, floor index mapping)


def _gradient_image(doc_id: int):
    """Deterministic fixture pixels, arithmetic in (doc_id, x, y, c) so
    the oracle can recompute any derived checksum in closed form:
    img[y, x, c] = (doc_id + x + y*W + 7*c) mod 256, W = 8 + doc_id%9,
    H = 8 + doc_id%7."""
    import numpy as np

    w, h = 8 + doc_id % 9, 8 + doc_id % 7
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    return ((doc_id + x + y * w + 7 * c) % 256).astype(np.uint8)


def _encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from no_ocr_spark.extract.image import png_encode, ppm_encode

    for pdf in batches:
        ids = pdf["doc_id"].astype("int64")
        # alternate containers so BOTH codecs sit on the decoded path
        payloads = [
            (png_encode if i % 2 == 0 else ppm_encode)(_gradient_image(int(i)))
            for i in ids
        ]
        yield pd.DataFrame({"doc_id": ids, "payload": payloads})


def _thumb_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from no_ocr_spark.extract.image import (
        decode_image,
        resize_nearest,
        sniff_format,
    )

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_image(bytes(payload))
            thumb = resize_nearest(img, _THUMB, _THUMB)
            rows.append({
                "doc_id": int(doc_id),
                "fmt": sniff_format(bytes(payload)),
                "width": img.shape[1],
                "height": img.shape[0],
                "channels": img.shape[2],
                "thumb_w": _THUMB,
                "thumb_h": _THUMB,
                "thumb_sum": int(thumb.astype("int64").sum()),
            })
        yield pd.DataFrame(rows)


def q_image_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec thumbnail pipeline: deterministic gradient pixels ->
    png_encode/ppm_encode (stage 1) -> opaque binary column -> sniff +
    decode + nearest-neighbor 4x4 resize + pixel checksum (stage 2).
    The two mapInPandas stages are deliberately separate so the payload
    crosses the JVM<->Arrow boundary as a binary column between them —
    the exact shape a real image-bearing table has. The oracle recomputes
    width/height and the thumbnail pixel sum in closed form (pixels are
    arithmetic in (doc_id, x, y, c); nearest-neighbor uses floor index
    mapping, integer arithmetic only)."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark)
    payloads = docs.mapInPandas(
        _encode_batches, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(_thumb_batches, schema=_THUMB_SCHEMA)


_JPEG_SCHEMA = (
    "doc_id bigint, fmt string, width int, height int, channels int, "
    "pixel_value int"
)
_JPEG_SCALE = 2  # formula quant table -> q[0,0] = 1 + 1*2 = 3


def _jpeg_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from no_ocr_spark.extract.jpeg import jpeg_encode

    for pdf in batches:
        ids = pdf["doc_id"].astype("int64")
        payloads = [
            jpeg_encode(np.full((8, 8), int(i) % 256, np.uint8),
                        scale=_JPEG_SCALE)
            for i in ids
        ]
        yield pd.DataFrame({"doc_id": ids, "payload": payloads})


def _jpeg_decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from no_ocr_spark.extract.image import decode_image, sniff_format

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            img = decode_image(bytes(payload))
            rows.append({
                "doc_id": int(doc_id),
                "fmt": sniff_format(bytes(payload)),
                "width": img.shape[1],
                "height": img.shape[0],
                "channels": img.shape[2],
                "pixel_value": int(img[0, 0, 0]),
            })
        yield pd.DataFrame(rows)


def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG round trip with an EXACT SQL oracle: flat 8x8
    gray blocks (value = doc_id % 256) are DC-only, so Huffman entropy
    coding + quantization + IDCT reconstruct in closed form — the oracle
    recomputes floor-rounded DC quantization arithmetic per row. Lossy
    JPEG is exactly checkable precisely because the fixture keeps every
    AC coefficient zero; gradient/chroma accuracy is covered by bounded-
    error tests in tests/test_jpeg_codec.py."""
    docs = fan_out_for_cpu(
        load_table(spark, sf_dir, "documents").select("doc_id"), spark)
    payloads = docs.mapInPandas(
        _jpeg_encode_batches, schema="doc_id bigint, payload binary"
    )
    return payloads.mapInPandas(_jpeg_decode_batches, schema=_JPEG_SCHEMA)


QUERIES = {"multimodal_meta": q_multimodal_meta,
           "image_thumbnails": q_image_thumbnails,
           "jpeg_roundtrip": q_jpeg_roundtrip}

ORACLES = {
    "multimodal_meta": """
        SELECT doc_id,
               octet_length(encode(text))::BIGINT AS n_bytes,
               (64 + octet_length(encode(text)) % 512)::INT AS width,
               (64 + (octet_length(encode(text)) * 7) % 512)::INT AS height,
               3::INT AS channels,
               'fakeimg' AS fmt
        FROM documents
    """,
    # pixel(y,x,c) = (doc_id + x + y*W + 7c) % 256; thumb(y,x,c) =
    # pixel((y*H)//4, (x*W)//4, c) — same floor mapping as resize_nearest
    "image_thumbnails": """
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 2 = 0 THEN 'png' ELSE 'ppm' END AS fmt,
               (8 + d.doc_id % 9)::INT AS width,
               (8 + d.doc_id % 7)::INT AS height,
               3::INT AS channels,
               4::INT AS thumb_w,
               4::INT AS thumb_h,
               (SELECT SUM((d.doc_id
                            + (tx.x * (8 + d.doc_id % 9)) // 4
                            + ((ty.y * (8 + d.doc_id % 7)) // 4)
                              * (8 + d.doc_id % 9)
                            + 7 * tc.c) % 256)
                FROM range(4) tx(x), range(4) ty(y), range(3) tc(c)
               )::BIGINT AS thumb_sum
        FROM documents d
    """,
    # flat-block JPEG: v' = clamp(floor(round_q(8(v-128)/q00)*q00/8 + .5)
    # + 128) with round_q(x) = floor(x + .5), q00 = 3 (scale=2 formula
    # table) — the codec's single pinned rounding rule, DC-only math
    "jpeg_roundtrip": """
        SELECT d.doc_id,
               'jpeg' AS fmt,
               8::INT AS width,
               8::INT AS height,
               1::INT AS channels,
               LEAST(255, GREATEST(0,
                 FLOOR(FLOOR(8 * ((d.doc_id % 256) - 128) / 3.0 + 0.5)
                       * 3.0 / 8 + 0.5) + 128))::INT AS pixel_value
        FROM documents d
    """,
}
