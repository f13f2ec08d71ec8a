"""WARC source: writer/reader round trip (Content-Length framing, HTTP
envelope strip, gzip, adversarial payloads) + the Spark binaryFile ->
mapInPandas -> extraction path."""

import datetime as dt

from no_ocr_spark.extract.api import extract_document
from no_ocr_spark.extract.pdf import build_pdf
from no_ocr_spark.sources.warc import build_warc, pages_from_warc, parse_warc

D = dt.datetime(2024, 3, 1, 12, 0, 0)


def _recs():
    return [
        {"url": "https://a.example.org/x", "date": D,
         "payload": b"<html><body><p>alpha beta gamma delta</p></body></html>"},
        {"url": "https://b.example.org/y", "date": D,
         "payload": build_pdf([["pdf line one", "pdf line two"]]),
         "http": False},
        # payload that CONTAINS record-separator-looking bytes: framing must
        # not be fooled
        {"url": "https://c.example.org/z", "date": D,
         "payload": b"<p>fake \r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n inside</p>"},
    ]


def test_round_trip_plain_and_gzip():
    for compress in (False, True):
        blob = build_warc(_recs(), compress=compress)
        recs = parse_warc(blob)
        assert [r["url"] for r in recs] == [
            "https://a.example.org/x", "https://b.example.org/y",
            "https://c.example.org/z",
        ]
        assert recs[0]["payload"].startswith(b"<html>")
        assert recs[1]["payload"][:5] == b"%PDF-"
        assert b"fake \r\n\r\nWARC/1.0" in recs[2]["payload"]
        assert all(r["warc_ts"] == D for r in recs)


def test_spark_warc_to_extraction(spark, tmp_path_factory):
    warc_dir = str(tmp_path_factory.mktemp("warcs"))
    for i in range(3):
        recs = [
            {"url": f"https://h{i}.example.org/p{j}", "date": D,
             "payload": (f"<html><body><main><p>doc {i} {j} content words "
                         f"here</p></main></body></html>").encode()}
            for j in range(4)
        ]
        with open(f"{warc_dir}/part-{i}.warc.gz", "wb") as f:
            f.write(build_warc(recs, compress=True))

    pages = pages_from_warc(spark, warc_dir)
    rows = pages.orderBy("url").collect()
    assert len(rows) == 12
    assert rows[0].url == "https://h0.example.org/p0"
    assert rows[0].text is None  # extraction derives text downstream

    from no_ocr_spark.operators.extract_udf import extract, extracted_table

    ext = {r.url: r.text
           for r in extracted_table(extract(pages)).collect()}
    for r in rows:
        expected = extract_document(bytes(r.html))["text"]
        assert ext[r.url] == expected


def test_warc_sink_roundtrip(spark, tmp_path_factory):
    """pages -> pages_to_warc -> pages_from_warc reproduces (url, html)
    exactly and warc_ts to the second; compressed output is per-record
    gzip members (any single record independently inflatable)."""
    import gzip as _gzip
    import os

    from pyspark.sql import functions as F

    from no_ocr_spark.sources.synth_spark import pages_df
    from no_ocr_spark.sources.warc import pages_from_warc, pages_to_warc

    out = str(tmp_path_factory.mktemp("warc_sink"))
    pages = pages_df(spark, 40).repartition(3)
    manifest = pages_to_warc(pages, out, compress=True)
    assert sum(m["n_records"] for m in manifest) == 40
    assert all(m["file"].endswith(".warc.gz") for m in manifest)

    back = pages_from_warc(spark, out)
    orig = {(r["url"], bytes(r["html"])) for r in
            pages.select("url", "html").collect()}
    got = {(r["url"], bytes(r["html"])) for r in
           back.select("url", "html").collect()}
    assert got == orig
    # timestamps survive to the second
    ts_orig = {r["url"]: r["warc_ts"].replace(microsecond=0)
               for r in pages.select("url", "warc_ts").collect()}
    ts_back = {r["url"]: r["warc_ts"] for r in
               back.select("url", "warc_ts").collect()}
    assert ts_back == ts_orig

    # per-record members: the first member of a multi-record file inflates
    # to exactly one record (decompress stops at the member boundary)
    multi = max(manifest, key=lambda m: m["n_records"])
    assert multi["n_records"] > 1
    raw = open(os.path.join(out, multi["file"]), "rb").read()
    import zlib as _zlib

    d = _zlib.decompressobj(16 + 15)
    first = d.decompress(raw)
    assert first.startswith(b"WARC/1.0\r\n")
    assert first.count(b"WARC-Record-ID") == 1
    assert len(d.unused_data) > 0  # more members follow


def test_warc_sink_rerun_clears_stale_parts(spark, tmp_path_factory):
    """Re-running the sink with FEWER partitions must not leave orphaned
    part files from the earlier run (they would duplicate records on
    read), and leftover .inprogress temps must be invisible to readers."""
    import os

    from no_ocr_spark.sources.synth_spark import pages_df
    from no_ocr_spark.sources.warc import pages_from_warc, pages_to_warc

    out = str(tmp_path_factory.mktemp("warc_rerun"))
    pages = pages_df(spark, 30)
    pages_to_warc(pages.repartition(5), out)
    assert len(os.listdir(out)) == 5

    # plant a stale temp from a "crashed" attempt as well
    with open(os.path.join(out, ".part-00009.warc.gz.dead.inprogress"),
              "wb") as f:
        f.write(b"\x1f\x8b truncated")

    manifest = pages_to_warc(pages.repartition(2), out)
    files = [n for n in os.listdir(out) if not n.startswith(".")]
    assert sorted(files) == sorted(m["file"] for m in manifest)
    assert len(files) == 2
    back = pages_from_warc(spark, out)
    assert back.count() == 30
    assert back.select("url").distinct().count() == 30


def test_warc_sink_keeps_other_sinks_parts(spark, tmp_path_factory):
    """The stale-part sweep matches this sink's own part names: a WARC
    sink written into a dir that holds a WET part leaves that part."""
    import os

    from no_ocr_spark.sources.synth_spark import pages_df
    from no_ocr_spark.sources.warc import pages_to_warc
    from no_ocr_spark.sources.wet import texts_to_wet

    out = str(tmp_path_factory.mktemp("warc_shared"))
    texts = spark.createDataFrame(
        [("https://a.example.org/1", None, "some text")],
        "url string, warc_ts timestamp, text string")
    wet = [m["file"] for m in texts_to_wet(texts.coalesce(1), out)]
    warc = [m["file"] for m in pages_to_warc(pages_df(spark, 3).coalesce(1), out)]
    assert sorted(os.listdir(out)) == sorted(wet + warc)


def test_warc_sink_members_are_range_fetchable(spark, tmp_path_factory):
    """The range-request contract of a compressed sink part: walked with
    zlib's unused_data, its gzip members tile the file byte-exactly, and
    each (offset, length) slice inflates on its own to exactly one record
    equal to its source url and payload."""
    import gzip as _gzip
    import os
    import zlib as _zlib

    from no_ocr_spark.sources.synth_spark import pages_df
    from no_ocr_spark.sources.warc import pages_to_warc

    out = str(tmp_path_factory.mktemp("warc_members"))
    pages = pages_df(spark, 30).coalesce(1)
    (part,) = pages_to_warc(pages, out, compress=True)
    orig = {r["url"]: bytes(r["html"])
            for r in pages.select("url", "html").collect()}
    raw = open(os.path.join(out, part["file"]), "rb").read()

    offset, seen = 0, []
    while offset < len(raw):
        d = _zlib.decompressobj(wbits=31)
        d.decompress(raw[offset:])
        assert d.eof
        length = len(raw) - offset - len(d.unused_data)
        recs = parse_warc(_gzip.decompress(raw[offset:offset + length]))
        assert len(recs) == 1
        assert recs[0]["payload"] == orig[recs[0]["url"]]
        seen.append(recs[0]["url"])
        offset += length
    assert offset == len(raw)
    assert sorted(seen) == sorted(orig)
