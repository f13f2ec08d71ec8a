"""CDX index generation (operators/cdx.py): SURT keys over every url
shape. The range-request property of the WARC sink's parts is tested in
tests/test_sources_warc.py."""

from no_ocr_spark.operators import cdx


def test_cdx_index_covers_all_surt_shapes(spark, sf_dir):
    rows = cdx.q_cdx_index(spark, sf_dir).collect()
    keys = [r.urlkey for r in rows]
    assert any(":8443)" in k for k in keys)          # port kept
    assert any(k.endswith(")/") for k in keys)       # root path
    assert any(",sub" in k for k in keys)            # subdomain reversed
    assert not any("www" in k.split(")")[0] for k in keys)  # www. stripped
    assert all(")" in k for k in keys)
