"""Executed page-render slice (S7 closure, round 7): the stdlib PNG
codec, the fixture render rung (text rasterize + scanned passthrough),
and q71's render kernel (render → decode → template match per document).

Reference behavior: claude_pdf_image_extractor.py:62-74 rasterizes each
PDF page to PNG with pdf2image/fitz; the fixture rung reproduces that
contract dependency-free for generated/modeled PDFs.
"""

import struct
import zlib

import pytest

from pdf_extraction_ai_agent_spark import spec
from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
from pdf_extraction_ai_agent_spark.fixtures.scanned import (
    render_page_bitmap,
    write_scanned_pdf,
)
from pdf_extraction_ai_agent_spark.operators.multimodal import (
    render_pdf_pages,
    render_pdf_pages_fixture,
)
from pdf_extraction_ai_agent_spark.operators.ocr import ocr_bitmap
from pdf_extraction_ai_agent_spark.operators.raster import (
    decode_png_gray,
    encode_png_gray,
    rasterize_text_page,
)


def test_png_codec_roundtrip():
    w, h = 23, 9  # deliberately not a multiple of anything
    raw = bytes((i * 37 + 11) % 256 for i in range(w * h))
    png = encode_png_gray(w, h, raw)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert decode_png_gray(png) == (w, h, raw)


def test_png_decoder_handles_all_filter_types():
    """Independence check: hand-build an IDAT using Sub/Up/Average/Paeth
    scanlines (which the encoder never emits) and assert the decoder
    un-filters them per the PNG spec — the reader is a spec
    implementation, not the writer's inverse."""
    w = 4
    rows = [
        bytes([10, 20, 30, 40]),
        bytes([15, 25, 35, 45]),
        bytes([100, 90, 80, 70]),
        bytes([1, 2, 3, 4]),
        bytes([255, 0, 128, 7]),
    ]
    # filter each row with a different type
    body = bytearray()
    body += b"\x00" + rows[0]  # None
    body += b"\x01" + bytes(
        [rows[1][0]] + [(rows[1][i] - rows[1][i - 1]) & 0xFF for i in (1, 2, 3)]
    )  # Sub
    body += b"\x02" + bytes((a - b) & 0xFF for a, b in zip(rows[2], rows[1]))  # Up
    avg = bytearray()
    for i in range(w):
        left = rows[3][i - 1] if i else 0
        avg.append((rows[3][i] - ((left + rows[2][i]) >> 1)) & 0xFF)
    body += b"\x03" + bytes(avg)  # Average

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    pae = bytearray()
    for i in range(w):
        left = rows[4][i - 1] if i else 0
        upleft = rows[3][i - 1] if i else 0
        pae.append((rows[4][i] - paeth(left, rows[3][i], upleft)) & 0xFF)
    body += b"\x04" + bytes(pae)  # Paeth

    def chunk(kind, data):
        return (
            struct.pack(">I", len(data)) + kind + data
            + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, len(rows), 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(body)))
        + chunk(b"IEND", b"")
    )
    got_w, got_h, got = decode_png_gray(png)
    assert (got_w, got_h) == (w, len(rows))
    assert got == b"".join(rows)


def test_png_decoder_rejects_corruption():
    png = bytearray(encode_png_gray(3, 2, bytes(6)))
    png[20] ^= 0xFF  # flip a byte inside IHDR body → CRC mismatch
    with pytest.raises(RuntimeError, match="CRC"):
        decode_png_gray(bytes(png))
    with pytest.raises(RuntimeError, match="signature"):
        decode_png_gray(b"not a png at all")
    good = encode_png_gray(3, 2, bytes(6))
    with pytest.raises(RuntimeError, match="truncated|missing"):
        decode_png_gray(good[:-5])
    # RGB (color type 2) is out of the grayscale reader's scope
    rgb_ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)

    def chunk(kind, data):
        return (
            struct.pack(">I", len(data)) + kind + data
            + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", rgb_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02\x03"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(RuntimeError, match="unsupported"):
        decode_png_gray(bad)


def test_rasterize_matches_fixture_renderer():
    """Operator-side rasterizer and the (independent) fixture renderer
    agree on the spec grid — same geometry contract, two blit loops."""
    lines = ["CLAIM C9", "HELLO, WORLD: 12.5", "#OK"]
    assert rasterize_text_page(lines) == render_page_bitmap(lines)


def test_rasterize_small_caps_and_unknown_glyphs():
    up = rasterize_text_page(["HELLO"])
    low = rasterize_text_page(["hello"])
    assert up == low  # documented small-caps mapping
    with pytest.raises(RuntimeError, match="not in the fixture font"):
        rasterize_text_page(["héllo"])


def test_render_text_layer_pdf_roundtrip():
    text = "CLAIM C5\nBODY HELLO WORLD\nTOTAL 5.00"
    pdf = write_minimal_pdf([text, "PAGE TWO LINE"])
    pages = render_pdf_pages(pdf, impl="fixture")
    assert [p for p, _ in pages] == [1, 2]
    w, h, raw = decode_png_gray(pages[0][1])
    assert ocr_bitmap(w, h, raw) == text
    w2, h2, raw2 = decode_png_gray(pages[1][1])
    assert ocr_bitmap(w2, h2, raw2) == "PAGE TWO LINE"


def test_render_scanned_pdf_is_image_passthrough():
    lines = ["SCAN LINE 1", "AMOUNT 7.25"]
    pdf = write_scanned_pdf([lines])
    pages = render_pdf_pages(pdf, impl="fixture")
    assert len(pages) == 1
    assert decode_png_gray(pages[0][1]) == render_page_bitmap(lines)


def test_render_auto_falls_back_without_fitz():
    pdf = write_minimal_pdf(["AUTO RUNG"])
    pages = render_pdf_pages(pdf, impl="auto")
    w, h, raw = decode_png_gray(pages[0][1])
    assert ocr_bitmap(w, h, raw) == "AUTO RUNG"


def test_render_fixture_rejects_unparseable():
    with pytest.raises(RuntimeError, match="tokenizer"):
        render_pdf_pages_fixture(b"%PDF-1.4 garbage with no structure")


def test_render_kernel_pages_and_error_rows():
    """q71's render rung, the kernel both its arms run: one row per page
    with the template-matched text, and a render failure is one
    render_error row for its document, never a task abort."""
    import pandas as pd

    from pdf_extraction_ai_agent_spark.entry_roundtrips import _kernel

    batch = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "pdf": [write_minimal_pdf(["DOC ONE"]), write_scanned_pdf([["DOC TWO"]]),
                b"%PDF-1.4 broken"],
    })
    (out,) = _kernel("render", None, None)(iter([batch]))
    rows = {r.doc_id: r for r in out.itertuples()}
    assert len(out) == 3
    for doc_id, want in ((1, "DOC ONE"), (2, "DOC TWO")):
        assert rows[doc_id].page_no == 1
        assert rows[doc_id].recovered_text == want
        assert rows[doc_id].render_error is None
    assert rows[3].recovered_text is None
    assert rows[3].render_error.startswith("RuntimeError: ")


def test_geometry_formula_matches_oracle_twin():
    """The q71 SQL twin predicts width/height from line lengths with the
    spec constants as literals — pin the formula against the rasterizer."""
    lines = ["RENDER R12", "TEXT ABC", "SUM 9.50"]
    w, h, _ = rasterize_text_page(lines)
    assert w == 2 * spec.OCR_SCAN_MARGIN + spec.OCR_SCAN_CELL_W * max(
        len(ln) for ln in lines
    )
    assert w == 8 + 6 * max(len(ln) for ln in lines)
    assert h == 35  # 3 lines on the fixture grid
