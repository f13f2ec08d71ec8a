"""The WARC record codec (sources/warc.py) and its record-type rules
(sources/wet.py, sources/wat.py, sources/warc_revisit.py): every byte the
writers emit is pinned by sha256, and one AST guard keeps the record
header, the archive scan and the CRLF constant inside sources/warc.py.

The pins were computed before the writers were folded onto the shared
`record` renderer; the committed tests/fixtures/warc files and the
warc_extract golden depend on these bytes, so a pin that moves is a
format change, not a refactor."""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import os
import pathlib

import pytest

from no_ocr_spark.sources.warc import build_warc, pages_to_warc
from no_ocr_spark.sources.warc_revisit import (
    _revisit_bytes,
    pages_to_warc_dedup,
)
from no_ocr_spark.sources.wat import build_wat_record, pages_to_wat
from no_ocr_spark.sources.wet import build_wet, texts_to_wet

D = dt.datetime(2024, 3, 1, 12, 0, 5)
LINKS = [{"url": "http://a.example/x", "text": "first"},
         {"url": "/rel", "text": "ünï"}]


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


RECORDS = {
    "warc_http": lambda: build_warc([
        {"url": "https://a.example.org/x", "date": D,
         "payload": b"<html><body><p>alpha</p></body></html>"},
        {"url": "https://b.example.org/y", "date": D,
         "payload": b"<p>fake \r\n\r\nWARC/1.0\r\n inside</p>"},
    ]),
    "warc_raw": lambda: build_warc([
        {"url": "https://c.example.org/z", "date": D,
         "payload": b"%PDF-1.4 raw", "http": False},
    ]),
    "wet": lambda: build_wet([
        {"url": "https://a.example.org/1", "date": D, "text": "plain"},
        {"url": "https://b.example.org/2", "date": None,
         "text": "line1\r\nWARC/1.0\r\né中文"},
    ], filename="t.warc.wet"),
    "wat_ts": lambda: build_wat_record("http://s.example/p", D, "Tïtle",
                                       LINKS),
    "wat_no_ts": lambda: build_wat_record("http://s.example/q", None, "",
                                          []),
    "revisit": lambda: _revisit_bytes({
        "url": "https://b.example/2", "date": D,
        "digest": "sha1:" + "ab" * 20,
        "ref_url": "https://a.example/1",
        "ref_date": dt.datetime(2024, 2, 29, 23, 59, 59),
    }),
}

RECORD_SHA = {
    "warc_http":
        "aba31383dc1da6459a1ec8a27474e1de72440865d8da154dd19e13af9d051b8f",
    "warc_raw":
        "29a92a19186095a43eb617b1b84cba8fe81ab83d9ca978145f83701bd7538e3e",
    "wet":
        "221cee264a2b7fb3eeb76fb5d7954d4e8172c74d83aa93aae1aaed0e1572fbc7",
    "wat_ts":
        "2254ef1da95daed7bf6f1360f78e7b2bbbaa81b0b5ae72118920e8c0b9ebf6c7",
    "wat_no_ts":
        "1b0d8011687cc19d005d345814b11ec55ba5117910ee2c8b819191d4052a81f6",
    "revisit":
        "c1560b76b76bb6ac2730008f0d3eb775a454ac319d0103cf6b5d02d3e4ca79f0",
}


@pytest.mark.parametrize("name", sorted(RECORDS))
def test_record_bytes_are_pinned(name):
    assert _sha(RECORDS[name]()) == RECORD_SHA[name]


SINK_SHA = {
    "warc":
        "b3198903e373f64b7af51e7ad04e9cddb4a4c6c9ffe70f485350f59636d99cd5",
    "wet":
        "0ea19313d593d372ffb926345186f01d1fe262b65484b3227759f341ae3ad2f9",
    "wat":
        "bb356996922d3ec9d2871ebce4043d12b669bcf7b50780c8d2ebf352d637d0dc",
    "warc_dedup":
        "ceedbadf32421c2d8a47d831708bf2866382abc222caaa0d28d133d7253a79a4",
}


def test_sink_part_bytes_are_pinned(spark, tmp_path):
    """One coalesce(1), uncompressed part per sink over fixed rows. The
    dedup sink's rows repeat one payload, so its part holds a revisit."""
    from pyspark.sql import functions as F

    pages = spark.createDataFrame(
        [("https://a.example/1", "2024-03-01 00:00:00", b"<p>same</p>"),
         ("https://b.example/2", "2024-03-05 10:20:30", b"<p>same</p>"),
         ("https://c.example/3", None, b"<p>other\r\n\r\nWARC/1.0</p>")],
        "url string, ts string, html binary",
    ).select("url", F.col("ts").cast("timestamp").alias("warc_ts"),
             "html").orderBy("url").coalesce(1)
    texts = pages.select("url", "warc_ts",
                         F.col("html").cast("string").alias("text"))
    meta = pages.select(
        "url", "warc_ts", F.lit("Tïtle").alias("title"),
        F.array(F.struct(F.lit("/rel").alias("url"),
                         F.col("url").alias("text"))).alias("links"),
    )
    parts = {
        "warc": pages_to_warc(pages, str(tmp_path / "warc"), compress=False),
        "wet": texts_to_wet(texts, str(tmp_path / "wet"), compress=False),
        "wat": pages_to_wat(meta, str(tmp_path / "wat"), compress=False),
        "warc_dedup": pages_to_warc_dedup(
            pages, str(tmp_path / "warc_dedup"), compress=False),
    }
    got = {}
    for name, manifest in parts.items():
        assert len(manifest) == 1 and manifest[0]["n_records"] == 3
        with open(tmp_path / name / manifest[0]["file"], "rb") as f:
            data = f.read()
        got[name] = _sha(data)
    assert data.count(b"WARC-Type: revisit") == 1
    assert got == SINK_SHA


def _codec_offenders(root: pathlib.Path) -> list[str]:
    """One "module[:line]: what" entry per `_CRLF` import, and per
    WARC/1.0 literal (docstrings aside) or format("binaryFile") call
    outside sources/warc.py."""
    out = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(), rel)
        docstrings = {
            id(node.body[0].value) for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef))
            and node.body and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and any(
                    a.name == "_CRLF" for a in node.names):
                out.append(f"{rel}: imports _CRLF")
            if rel == "sources/warc.py":
                continue
            if (isinstance(node, ast.Constant) and id(node) not in docstrings
                    and isinstance(node.value, (str, bytes))):
                text = node.value if isinstance(node.value, str) else (
                    node.value.decode("latin-1"))
                if "WARC/1.0" in text:
                    out.append(f"{rel}:{node.lineno}: WARC/1.0 literal")
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "format" and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value == "binaryFile"):
                out.append(f"{rel}:{node.lineno}: binaryFile scan")
    return sorted(out)


def test_warc_codec_is_the_only_record_renderer_and_scanner():
    """Record headers are rendered, and archives scanned, in one module:
    a format's rules go through warc.record / warc.scan instead of a
    hand-built header block or its own binaryFile exploder."""
    root = pathlib.Path(__file__).resolve().parents[1] / "no_ocr_spark"
    assert _codec_offenders(root) == []


def test_codec_guard_sees_a_planted_header(tmp_path):
    pkg = tmp_path / "no_ocr_spark" / "sources"
    pkg.mkdir(parents=True)
    (pkg / "warc.py").write_text('_CRLF = b"\\r\\n"\nHEAD = b"WARC/1.0"\n')
    (pkg / "fmt.py").write_text(
        '"""Docstrings may name WARC/1.0."""\n'
        'from no_ocr_spark.sources.warc import _CRLF\n'
        'HEAD = b"WARC/1.0\\r\\n"\n'
        'def f(spark):\n'
        '    return spark.read.format("binaryFile")\n'
    )
    assert _codec_offenders(tmp_path / "no_ocr_spark") == [
        "sources/fmt.py: imports _CRLF",
        "sources/fmt.py:3: WARC/1.0 literal",
        "sources/fmt.py:5: binaryFile scan",
    ]
    os.remove(pkg / "fmt.py")
    assert _codec_offenders(tmp_path / "no_ocr_spark") == []
