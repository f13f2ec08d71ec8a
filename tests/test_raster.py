"""PDF page rasterizer tests (`extract/raster.py`): geometry, the
closed-form ink identity the page_rasters oracle relies on, determinism,
and the dpi=150 JPEG page-image pipeline (the reference's shape)."""

from __future__ import annotations

import numpy as np

from no_ocr_spark.extract.pdf import build_pdf
from no_ocr_spark.extract.raster import (
    _FONT_ART,
    _glyph,
    _pseudo_glyph,
    FONT_VALUES,
    pdf_to_page_jpegs,
    rasterize_pages,
)


def _glyph_bits(ch: str) -> int:
    cp = ord(ch)
    if cp in FONT_VALUES:
        return FONT_VALUES[cp]
    return (cp * 2654435761) & 0xFFFFFFFFF | (31 << 30)  # forced baseline


def ink_formula(line: str) -> int:
    """The oracle's closed form (see operators/raster_query.py): at
    dpi=72 the glyph cell is 5px wide (bit-column identity) and 12px
    tall, duplicating glyph rows 0,1,2,4,5 and counting rows 3 and 6
    once — over the REAL font's 35-bit glyph values (pseudo-glyph
    hash + forced baseline for codepoints outside the font)."""
    total = 0
    for ch in line:
        if ch == " ":
            continue
        v = _glyph_bits(ch)
        pop = lambda r: bin((v >> (5 * r)) & 31).count("1")
        total += 2 * (pop(0) + pop(1) + pop(2) + pop(4) + pop(5)) \
            + pop(3) + pop(6)
    return total


def test_page_dims_follow_dpi():
    pdf = build_pdf([["x"]])
    assert rasterize_pages(pdf, dpi=72)[0].shape == (792, 612)
    assert rasterize_pages(pdf, dpi=150)[0].shape == (1650, 1275)


def test_ink_matches_closed_form_at_dpi72():
    for line in ("hello world 42", "a", "", "    ",
                 "abcdefghijklmnopqrstuvwx", "zz99 00 11"):
        page = rasterize_pages(build_pdf([[line]]), dpi=72)[0]
        assert int((page == 0).sum()) == ink_formula(line), repr(line)


def test_multi_line_multi_page_ink_is_additive():
    """Distinct lines/pages occupy disjoint cells at our leading, so
    ink adds — the no-overlap geometry the oracle depends on."""
    l1, l2, l3 = "first line", "second one", "page two here"
    pages = rasterize_pages(build_pdf([[l1, l2], [l3]]), dpi=72)
    assert len(pages) == 2
    assert int((pages[0] == 0).sum()) == ink_formula(l1) + ink_formula(l2)
    assert int((pages[1] == 0).sum()) == ink_formula(l3)


def test_determinism_and_style_invariance():
    """Same text through different writer styles (including AES-256
    encryption) rasters to the identical canvas — the raster leg
    inherits the extraction path's style invariant."""
    pages = [["invariant raster text"]]
    base = rasterize_pages(build_pdf(pages, style="tj"), dpi=72)[0]
    for style in ("tj_arr", "reversed", "aesv2", "aesv3"):
        got = rasterize_pages(build_pdf(pages, style=style), dpi=72)[0]
        assert (got == base).all(), style


def test_glyphs_have_baseline_and_space_is_blank():
    assert not _pseudo_glyph(0x20).any()
    for cp in map(ord, "ax9Z"):
        g = _pseudo_glyph(cp)
        assert g.shape == (7, 5)
        assert (g[6] == 1).all()


def test_font_letterforms_real_and_distinct():
    """The 5x7 font renders REAL letterforms: 'A' matches its drawn
    art exactly, every glyph is a nonzero 7x5 bitmap, all font glyphs
    are pairwise distinct, and lowercase shares the uppercase form
    (small caps, disclosed)."""
    a = _glyph(ord("A"))
    want = np.array([[c == "#" for c in row] for row in _FONT_ART["A"]],
                    np.uint8)
    assert (a == want).all()
    vals = [FONT_VALUES[ord(k)] for k in _FONT_ART]
    assert len(set(vals)) == len(vals)  # pairwise distinct
    assert all(v for v in vals)
    assert (_glyph(ord("q")) == _glyph(ord("Q"))).all()
    # outside-font codepoints fall back to the deterministic pseudo-glyph
    assert (_glyph(0x4E2D) == _pseudo_glyph(0x4E2D)).all()


def test_jpeg_page_pipeline_dpi150():
    """The reference's page-image shape: per page dict with dims at
    dpi=150 and JPEG bytes; ink survives the lossy round trip."""
    from no_ocr_spark.extract.jpeg import jpeg_decode

    recs = pdf_to_page_jpegs(build_pdf([["hello"], ["two"]]), dpi=150)
    assert [r["page"] for r in recs] == [1, 2]
    assert recs[0]["width"] == 1275 and recs[0]["height"] == 1650
    img = jpeg_decode(recs[0]["jpeg"])
    assert img.shape == (1650, 1275, 1)
    dark = int((img[:, :, 0] < 128).sum())
    assert abs(dark - recs[0]["ink_pixels"]) <= recs[0]["ink_pixels"] // 2


def test_media_box_drives_canvas_dims():
    """Real documents mix page sizes: the rasterizer must honor each
    page's /MediaBox (inherited per the spec), not assume US-Letter."""
    from no_ocr_spark.extract.pdf import build_pdf_custom, page_media_boxes

    a4 = build_pdf_custom(
        ["BT /F1 12 Tf 72 720 Td (a4 page text) Tj ET"],
        media_box=(0, 0, 595, 842))
    assert page_media_boxes(a4) == [(0.0, 0.0, 595.0, 842.0)]
    page = rasterize_pages(a4, dpi=72)[0]
    assert page.shape == (842, 595)
    # same text, same glyph geometry: ink count equals the Letter build's
    letter = build_pdf_custom(
        ["BT /F1 12 Tf 72 720 Td (a4 page text) Tj ET"])
    assert int((page == 0).sum()) == \
        int((rasterize_pages(letter, dpi=72)[0] == 0).sum())
    # offset MediaBox origin: content shifts with the box, stays in frame
    shifted = build_pdf_custom(
        ["BT /F1 12 Tf 172 720 Td (a4 page text) Tj ET"],
        media_box=(100, 0, 695, 842))
    spage = rasterize_pages(shifted, dpi=72)[0]
    assert spage.shape == (842, 595)
    assert int((spage == 0).sum()) == int((page == 0).sum())
    # ...and at dpi=150 both dims scale together
    assert rasterize_pages(a4, dpi=150)[0].shape == (1754, 1240)


def test_media_box_sanity_guards():
    """Review finding: reversed corner order (legal per §7.9.5 — readers
    normalize) must raster fine, and degenerate/overflowing boxes fall
    back to Letter instead of crashing or allocating terabytes."""
    from no_ocr_spark.extract.pdf import build_pdf_custom

    content = "BT /F1 12 Tf 72 720 Td (reversed box) Tj ET"
    rev = build_pdf_custom([content], media_box=(612, 792, 0, 0))
    page = rasterize_pages(rev, dpi=72)[0]
    assert page.shape == (792, 612)
    assert int((page == 0).sum()) > 0  # content rendered, not dropped
    huge = build_pdf_custom([content], media_box=(0, 0, 5e6, 5e6))
    assert rasterize_pages(huge, dpi=72)[0].shape == (792, 612)
    degenerate = build_pdf_custom([content], media_box=(10, 10, 10, 10))
    assert rasterize_pages(degenerate, dpi=72)[0].shape == (792, 612)


def test_media_box_inherits_from_pages_node():
    """Spec inheritance: /MediaBox on the ROOT Pages node applies to
    pages that lack their own; a page-level box overrides it."""
    from no_ocr_spark.extract.pdf import page_media_boxes

    p1 = b"BT /F1 12 Tf 72 720 Td (one) Tj ET"
    p2 = b"BT /F1 12 Tf 72 720 Td (two) Tj ET"
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 "
            b"/MediaBox [0 0 595 842] >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R >>"),
        (4, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R "
            b"/MediaBox [0 0 612 792] >>"),
        (5, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(p1), p1)),
        (6, b"<< /Length %d >>\nstream\n%s\nendstream" % (len(p2), p2)),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for oid, body in objs:
        out += b"%d 0 obj\n" % oid + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    boxes = page_media_boxes(bytes(out))
    assert boxes == [(0.0, 0.0, 595.0, 842.0), (0.0, 0.0, 612.0, 792.0)]
    pages = rasterize_pages(bytes(out), dpi=72)
    assert pages[0].shape == (842, 595)   # inherited A4
    assert pages[1].shape == (792, 612)   # page-level override


def test_null_line_rasterizes_empty(spark, tmp_path):
    """ADVICE r4: a null line must rasterize as an EMPTY page (zero ink),
    not as the literal string 'None' — the oracle's COALESCE(ink,0).
    r6: nulls fold to '' in the JVM before the distinct-line render, so
    the query-level behavior is what carries the guarantee now."""
    from no_ocr_spark.operators.raster_query import q_page_rasters

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(7, None), (8, "ab")], "doc_id bigint, text string"
    ).write.parquet(sf_dir + "/documents.parquet")
    out = q_page_rasters(spark, sf_dir)
    by_id = {int(r["doc_id"]): int(r["ink_pixels"]) for r in out.collect()}
    assert by_id[7] == 0
    assert by_id[8] == ink_formula("ab")


def test_page_rasters_join_follows_broadcast_threshold(spark, sf_dir):
    """The distinct-line table grows with the corpus, so page_rasters
    must not force a broadcast: with broadcasts switched off the join
    is a shuffle join, and its rows equal the default run's."""
    from no_ocr_spark.operators.raster_query import q_page_rasters

    def rows_and_plan():
        df = q_page_rasters(spark, sf_dir)
        rows = sorted(tuple(r) for r in df.collect())
        return rows, df._jdf.queryExecution().executedPlan().toString()

    default_rows, _ = rows_and_plan()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        rows, plan = rows_and_plan()
    finally:
        spark.conf.set(key, prev)
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan
    assert rows == default_rows and rows
