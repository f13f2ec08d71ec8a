"""WAT metadata artifact (sources/wat.py): envelope round trips, title
extraction through the DOM parser, the one-pass metadata stage, and the
Spark sink -> source cycle. Exact per-url oracle grading of the full
cycle (title + link count + ordered link digest) is
tests/test_oracle_parity.py::wat_roundtrip."""

from __future__ import annotations

import datetime as dt
import json

from no_ocr_spark.operators.linkgraph import _title_and_anchors
from no_ocr_spark.sources.wat import (
    build_wat_record,
    metadata_from_pages,
    pages_to_wat,
    parse_wat,
    wat_from_files,
)

LINKS = [
    {"url": "http://a.example/x", "text": "first link"},
    {"url": "/relative", "text": "kept in WAT: metadata records ALL links"},
]


def test_record_roundtrip():
    rec = build_wat_record(
        "http://s.example/p", dt.datetime(2024, 5, 1, 8, 30, 0),
        "Ünïcode títle", LINKS,
    )
    back = parse_wat(rec)
    assert len(back) == 1
    assert back[0]["url"] == "http://s.example/p"
    assert back[0]["warc_ts"] == dt.datetime(2024, 5, 1, 8, 30, 0)
    assert back[0]["title"] == "Ünïcode títle"
    assert back[0]["links"] == LINKS


def test_envelope_is_deterministic_and_sorted():
    a = build_wat_record("http://s.example/p", None, "t", LINKS)
    b = build_wat_record("http://s.example/p", None, "t", LINKS)
    assert a == b
    body = a.split(b"\r\n\r\n", 1)[1]
    env = json.loads(body.decode("utf-8"))
    keys = list(env["Envelope"].keys())
    assert keys == sorted(keys)


def test_title_extraction():
    def title_of(html: bytes) -> str:
        return _title_and_anchors(html)[0]

    assert title_of(b"<html><head><title>  A\n  B </title></head></html>") == "A B"
    assert title_of(b"<html><body><p>no title</p></body></html>") == ""
    # first title wins
    assert title_of(b"<title>one</title><title>two</title>") == "one"


def test_metadata_stage_parses_each_page_once(spark, monkeypatch):
    """metadata_from_pages' per-batch function calls dom.parse once per
    page: title and anchor pairs come from one parse and one walk."""
    import pandas as pd

    from no_ocr_spark.extract import dom

    class Capture:  # stands in for the DataFrame; keeps the mapped fn
        columns = ["url", "html"]

        def select(self, *cols):
            return self

        def mapInPandas(self, fn, schema):
            self.fn = fn
            return self

    calls = []
    real_parse = dom.parse
    monkeypatch.setattr(dom, "parse",
                        lambda html: calls.append(html) or real_parse(html))
    pages = Capture()
    metadata_from_pages(pages)
    htmls = [b'<title>T</title><a href="/x">x</a>', b"<p>no links</p>"]
    (out,) = pages.fn(iter([pd.DataFrame({"url": ["u1", "u2"],
                                          "html": htmls})]))
    assert list(out["title"]) == ["T", ""]
    assert calls == htmls


def test_metadata_stage_and_sink_source_cycle(spark, tmp_path):
    html = (
        b"<html><head><title>Page T</title></head><body>"
        b'<a href="http://a.example/">alpha</a>'
        b'<a href="/rel">rel kept</a>'
        b"</body></html>"
    )
    pages = spark.createDataFrame(
        [("http://s.example/p", dt.datetime(2024, 1, 2, 3, 4, 5),
          bytearray(html))],
        "url string, warc_ts timestamp, html binary",
    )
    meta = metadata_from_pages(pages)
    out = str(tmp_path / "wat")
    manifest = pages_to_wat(meta, out, compress=True)
    assert sum(m["n_records"] for m in manifest) == 1
    back = wat_from_files(spark, out).collect()
    assert len(back) == 1
    r = back[0]
    assert r.title == "Page T"
    assert r.warc_ts == dt.datetime(2024, 1, 2, 3, 4, 5)
    assert [(x.url, x.text) for x in r.links] == [
        ("http://a.example/", "alpha"), ("/rel", "rel kept"),
    ]


def test_pages_without_ts_get_null_then_epoch_in_record(spark, tmp_path):
    pages = spark.createDataFrame(
        [("http://s.example/q", bytearray(b"<title>t</title>"))],
        "url string, html binary",
    )
    meta = metadata_from_pages(pages)  # no warc_ts column: NULL ts
    out = str(tmp_path / "wat2")
    pages_to_wat(meta, out)
    back = wat_from_files(spark, out).collect()
    assert back[0].warc_ts == dt.datetime(1970, 1, 1)
