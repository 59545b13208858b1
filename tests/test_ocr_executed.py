"""Executed OCR, in-sandbox (r6 verdict item 7): a deterministic
rasterizer (fixtures/scanned.py, spec.OCR_FONT_5X7) + template-matching
OCR rung (operators/ocr.py) turn the S4 fallback from dispatch-only into
an EXECUTED differential on generated scanned fixtures — no tesseract
needed. Real scans still require the cluster OCR stack (ocr='real'),
kept honest by the separate deps-gated test."""

import pandas as pd
import pytest

from pdf_extraction_ai_agent_spark import spec
from pdf_extraction_ai_agent_spark.fixtures.scanned import (
    render_page_bitmap,
    scannable_text,
    write_scanned_pdf,
)
from pdf_extraction_ai_agent_spark.operators.extract import (
    extract_real_pdf_text,
    extract_turn_batch,
)
from pdf_extraction_ai_agent_spark.operators.ocr import (
    ocr_bitmap,
    ocr_payload_fixture,
)
from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
    extract_real_pdf,
)


def test_ocr_font_contract():
    """The constraints the template matcher relies on: 5×7 shape, ink in
    column 0 of every glyph (cell-origin anchoring), and UNIQUE
    row-cropped patterns (band-extent-invariant matching)."""
    seen = {}
    for ch, rows in spec.OCR_FONT_5X7.items():
        assert len(rows) == 7 and all(len(r) == 5 for r in rows), ch
        assert any(r[0] == "X" for r in rows), f"{ch!r} lacks col-0 ink"
        ink = [i for i, r in enumerate(rows) if "X" in r]
        cropped = tuple(rows[ink[0] : ink[-1] + 1])
        assert cropped not in seen, f"{ch!r} ≡ {seen[cropped]!r} cropped"
        seen[cropped] = ch


def test_executed_ocr_differential():
    """The ALWAYS-EXECUTED differential (the r6 named skip, closed): a
    scanned page renders from known text, the extraction rung yields an
    empty page + needs_ocr on BOTH twins, and the fixture OCR recovers
    the text EXACTLY — round-tripping every glyph in the font."""
    every_glyph = "".join(sorted(spec.OCR_FONT_5X7))
    pages = [
        ["CLAIM C123", "BODY HELLO WORLD, TOTAL: 4.50", "REF #AB-9/7"],
        [every_glyph[:21], every_glyph[21:], "SPACED  OUT END."],
    ]
    pdf = write_scanned_pdf(pages)
    etext, eocr = extract_real_pdf_text(pdf)
    assert (etext, eocr) == ("--- PAGE 1 ---\n\n--- PAGE 2 ---", True)
    # twin parity on the scanned (image-only) shape
    assert (etext, eocr) == extract_real_pdf(pdf.decode("latin-1"))
    # the executed OCR differential: exact recovery
    assert ocr_payload_fixture(pdf) == "\n".join(
        "\n".join(p) for p in pages
    )


def test_ocr_bitmap_bails_on_unknown_glyphs():
    """Wrong text must never beat no text: a bitmap that is not a
    generated scan (here: an inverted glyph) raises instead of guessing."""
    w, h, raw = render_page_bitmap(["HELLO"])
    corrupted = bytes(255 - b for b in raw)  # ink everywhere it wasn't
    with pytest.raises(RuntimeError):
        ocr_bitmap(w, h, corrupted)
    with pytest.raises(RuntimeError):
        # a text-layer PDF is not a scan: no images to read
        from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
            write_minimal_pdf,
        )

        ocr_payload_fixture(write_minimal_pdf(["HELLO"]))


def test_kernel_ocr_fixture():
    """The extract kernel's OCR step, off-Spark: the needs_ocr scan GAINS
    text (and spans) from the fixture OCR rung, the clean row is the
    flag-only kernel's row, a flagged text-layer PDF with no scan image
    lands in the error channel with its text kept (never a job abort),
    and LOB still describes the final text with spans pruned."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf

    scan = write_scanned_pdf(
        [["CLAIM NO: AB-12345", "WORKERS COMPENSATION", "TOTAL 3.00"]]
    ).decode("latin-1")
    badscan = write_minimal_pdf(["HELLO"]).decode("latin-1")
    text = pd.Series([scan, "plain text row", badscan], index=["scan", "clean", "badscan"])
    tool = pd.Series(None, index=text.index, dtype=object)
    base = extract_turn_batch(text, tool)
    got = extract_turn_batch(text, tool, ocr="fixture")
    assert base["needs_ocr"].tolist() == [True, False, True]

    assert got.at["scan", "extracted_text"] == (
        "CLAIM NO: AB-12345\nWORKERS COMPENSATION\nTOTAL 3.00"
    )
    assert pd.isna(got.at["scan", "error"])
    assert got.at["scan", "spans"][0]["value"] == "AB-12345"
    assert got.at["scan", "lob"] == "WC"
    # spans and LOB describe the final text: the OCR'd text as a plain turn
    plain = extract_turn_batch(pd.Series([got.at["scan", "extracted_text"]]), pd.Series([None]))
    for col in ("spans", "lob", "lobs"):
        assert got.at["scan", col] == plain.at[0, col], col
    assert got.loc["clean"].to_dict() == base.loc["clean"].to_dict()
    assert got.at["badscan", "extracted_text"] == base.at["badscan", "extracted_text"]
    assert "RuntimeError: no scan images" in got.at["badscan", "error"]
    # the span-pruned form q69/q70 run: the same rows without spans
    pruned = extract_turn_batch(text, tool, with_spans=False, ocr="fixture")
    pd.testing.assert_frame_equal(pruned, got.drop(columns="spans"))


def test_noisy_scan_roundtrip_exact_recovery():
    """The realism rung (q70): deterministic salt-and-pepper noise on the
    rendered page defeats the exact matcher's ink-run segmentation, and
    the nearest-template rung recovers the ORIGINAL text exactly — over
    several seeds and every glyph in the font."""
    from pdf_extraction_ai_agent_spark.operators.ocr import (
        ocr_bitmap_nearest,
    )

    every_glyph = "".join(sorted(spec.OCR_FONT_5X7))
    pages = [
        ["NOISY N42", "QUICK BROWN FOX 19.95", every_glyph[:20]],
        [every_glyph[20:], "END OF SCAN."],
    ]
    for seed in (1, 7, 12345):
        pdf = write_scanned_pdf(pages, noise_seed=seed)
        # determinism: same seed, same bytes
        assert pdf == write_scanned_pdf(pages, noise_seed=seed)
        want = "\n".join("\n".join(p) for p in pages)
        assert ocr_payload_fixture(pdf) == want, f"seed={seed}"
    # the exact rung really does fall through on a noisy bitmap (the
    # ladder's second rung did the work, not a lucky exact match)
    from pdf_extraction_ai_agent_spark.fixtures.scanned import (
        add_scan_noise,
    )

    w, h, raw = render_page_bitmap(pages[0])
    noisy = add_scan_noise(w, h, raw, seed=1)
    assert noisy != raw
    with pytest.raises(RuntimeError):
        ocr_bitmap(w, h, noisy)
    assert ocr_bitmap_nearest(w, h, noisy) == "\n".join(pages[0])


def test_nearest_matcher_refuses_heavy_or_ambiguous_noise():
    """Wrong text never beats no text: degradation beyond
    spec.OCR_NEAREST_MAX_D flipped pixels in one cell makes the nearest
    rung raise instead of guessing; off-grid geometry raises too."""
    from pdf_extraction_ai_agent_spark.operators.ocr import (
        ocr_bitmap_nearest,
    )

    w, h, raw = render_page_bitmap(["HELLO WORLD"])
    buf = bytearray(raw)
    # obliterate the first glyph cell (flip all 35 in-cell pixels)
    m, cw = spec.OCR_SCAN_MARGIN, spec.OCR_SCAN_CELL_W
    for r in range(7):
        for c in range(5):
            o = (m + r) * w + m + c
            buf[o] = 0 if buf[o] >= 128 else 255
    with pytest.raises(RuntimeError, match="refusing to guess"):
        ocr_bitmap_nearest(w, h, bytes(buf))
    # off the fixture grid: not a generated scan
    with pytest.raises(RuntimeError, match="geometry"):
        ocr_bitmap_nearest(w - 1, h, raw[: (w - 1) * h])


def test_scannable_text_matches_q69_sql_twin(spark):
    """The python transform and its DuckDB twin stay in lockstep on
    adversarial inputs (mixed case, filtered chars, whitespace runs)."""
    import duckdb

    samples = [
        "key agg row scan slow fast",
        "Hello, wörld — claim #42!",
        "  a  ++  b  ",
        "UPPER lower 0123:456/789",
        "",
    ]
    con = duckdb.connect()
    for s in samples:
        sql = con.sql(
            r"""SELECT trim(regexp_replace(
                  upper(trim(regexp_replace(substr(?, 1, 30), '\s+', ' ', 'g'))),
                  '[^A-Z0-9 #,./:-]', '', 'g'))""",
            params=[s],
        ).fetchone()[0]
        assert scannable_text(s) == sql, s
