"""Entry queries, extension pack 9 (round 7): the EXECUTED OCR slice,
the round-7 PDF carriers, and training-data quality operators (q79–q83).

The roundtrip queries q69–q78 are rows of entry_roundtrips.ROUNDTRIPS;
this pack holds their payload builders and the twins the shared
three-line template (entry_roundtrips._three_line_sql) cannot express.

q69 drives the scanned-document path end to end, in-sandbox and under
the ORACLE GATE: per document a genuine scanned PDF is written (pages
carry ONLY a grayscale image XObject rendered from the deterministic
spec.OCR_FONT_5X7 bitmaps — no text layer), the extraction rung yields
an empty page and trips the <OCR_MIN_CHARS ``needs_ocr`` flag on BOTH
twins, and the extract kernel's OCR step (operators/extract.py
``extract_turn_batch(..., ocr='fixture')``) recovers the text by
template match — the in-sandbox stand-in for the reference's
rasterize→pytesseract fallback (src/claim_extractor/extract_text.py:18-24).
The DuckDB twin predicts the recovered text straight from the table, so
the gate proves scan→raster→extract→OCR is the identity on semantics.
Honest scope: the fixture OCR rung reads generated scans only;
real-world scans still need the OCR stack on a cluster image
(ocr='real'/'auto').

q70 is the REALISM rung (ROADMAP r7 item 5): the same roundtrip over
scans degraded with deterministic salt-and-pepper noise — background
specks plus up to spec.OCR_NEAREST_MAX_D flipped pixels inside each
glyph cell. The exact matcher falls through (by design: its ink-run
segmentation cannot survive background noise) and the nearest-template
matcher with a confidence threshold recovers the text; the noise
generator guarantees recoverability cell-by-cell, so the DuckDB twin
still predicts the exact output and the oracle gate stays hard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries_ext import _docs


def _payload_q69(doc_id: int, text: str) -> bytes:
    from .fixtures.scanned import scannable_text, write_scanned_pdf

    body = ("BODY " + scannable_text(text)).strip()
    return write_scanned_pdf(
        [[f"CLAIM C{doc_id}", body, f"TOTAL {doc_id % 97}.00"]]
    )


def _payload_q70(doc_id: int, text: str) -> bytes:
    """A NOISY scan (q70, the OCR realism rung): deterministic
    salt-and-pepper over the rendered page, seeded by doc_id. The noise
    is recovery-safe by construction (fixtures/scanned.py::add_scan_noise
    keeps every degraded cell strictly nearest its true template), so the
    DuckDB twin can still predict the recovered text from the table —
    the gate checks the nearest-template matcher, not luck."""
    from .fixtures.scanned import scannable_text, write_scanned_pdf

    body = ("NOISE " + scannable_text(text)).strip()
    return write_scanned_pdf(
        [[f"NOISY N{doc_id}", body, f"AMOUNT {doc_id % 89}.25"]],
        noise_seed=doc_id,
    )


# the charset class mirrors spec.OCR_FONT_CHARSET (A-Z 0-9 # , - . / : sp);
# keep the transform in lockstep with fixtures/scanned.py::scannable_text
_Q69_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'CLAIM C' || CAST(doc_id AS VARCHAR) AS l1,
         trim('BODY ' || trim(regexp_replace(
             upper(trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g'))),
             '[^A-Z0-9 #,./:-]', '', 'g'))) AS l2,
         'TOTAL ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l3
  FROM documents
)
SELECT doc_id,
       l1 || chr(10) || l2 || chr(10) || l3 AS extracted_text,
       TRUE AS needs_ocr,
       CAST(NULL AS VARCHAR) AS ocr_error
FROM parts
"""


# q70's twin predicts the SAME recovered text as a clean scan would give:
# add_scan_noise guarantees nearest-template recovery by construction, so
# only the line constants and the noise seed differ from the q69 shape
_Q70_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'NOISY N' || CAST(doc_id AS VARCHAR) AS l1,
         trim('NOISE ' || trim(regexp_replace(
             upper(trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g'))),
             '[^A-Z0-9 #,./:-]', '', 'g'))) AS l2,
         'AMOUNT ' || CAST(doc_id % 89 AS VARCHAR) || '.25' AS l3
  FROM documents
)
SELECT doc_id,
       l1 || chr(10) || l2 || chr(10) || l3 AS extracted_text,
       TRUE AS needs_ocr,
       CAST(NULL AS VARCHAR) AS ocr_error
FROM parts
"""


# ---------------------------------------------------------------------------
# q71 — EXECUTED page render under the ORACLE GATE (S7 closure, reference
# claude_pdf_image_extractor.py:62-74). Per document a PDF is built — even
# doc_ids a text-layer minipdf, odd doc_ids an image-only scanned PDF
# carrying the SAME three lines — and the REAL render operator
# (operators/multimodal.py::render_pdf_pages, impl='fixture', inside the
# roundtrip kernel) produces one PNG per page: text pages rasterized with
# the spec font, scanned pages as image passthrough. The same kernel then
# decodes the PNG with the STRICT spec reader (operators/raster.py::
# decode_png_gray — full filter set + chunk CRCs) and template-matches the
# raster back to text;
# the DuckDB twin predicts text AND pixel geometry (width/height follow
# from line lengths and the spec grid) straight from the table, so the
# gate proves write→render→encode→decode→match is the identity on both
# semantics and geometry, for both carrier shapes.
# ---------------------------------------------------------------------------


def _q71_lines(doc_id: int, text: str) -> list[str]:
    from .fixtures.scanned import scannable_text

    body = ("TEXT " + scannable_text(text)).strip()
    return [f"RENDER R{doc_id}", body, f"SUM {doc_id % 83}.50"]


def _payload_q71(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf
    from .fixtures.scanned import write_scanned_pdf

    lines = _q71_lines(doc_id, text)
    if doc_id % 2 == 0:
        return write_minimal_pdf(["\n".join(lines)])
    return write_scanned_pdf([lines])


# geometry twin: width = 2*margin + cell_w * longest line, height =
# 2*margin + line_pitch * (n_lines - 1) + 7 — spec.OCR_SCAN_* as literals
# (4 / 6 / 10), 3 lines → height 35; identical for both carrier parities
_Q71_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'RENDER R' || CAST(doc_id AS VARCHAR) AS l1,
         trim('TEXT ' || trim(regexp_replace(
             upper(trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g'))),
             '[^A-Z0-9 #,./:-]', '', 'g'))) AS l2,
         'SUM ' || CAST(doc_id % 83 AS VARCHAR) || '.50' AS l3
  FROM documents
)
SELECT doc_id,
       1 AS page_no,
       CAST(8 + 6 * greatest(len(l1), len(l2), len(l3)) AS INTEGER) AS width,
       35 AS height,
       l1 || chr(10) || l2 || chr(10) || l3 AS recovered_text,
       CAST(NULL AS VARCHAR) AS render_error
FROM parts
"""


# ---------------------------------------------------------------------------
# q72 — TOP-LEVEL GRAPHICS STATE (q/cm/Q) under the ORACLE GATE (r7): the
# common real-generator page shape where the whole body sits under a
# `q a b c d e f cm … Q` wrapper. Per document the SAME three consecutive
# lines ride one of six matrix variants (doc_id % 6): a q…Q-wrapped
# identity, a translate, two positive scales (one with translate), a
# NESTED two-level state (outer scale, inner translate with l1 outside
# the inner q), and a bare un-pushed cm. Every variant is order- and
# cluster-preserving on the fixture pitch (16 pt × scale stays within
# (PDF_Y_TOL, PDF_PARA_GAP)), so the DuckDB twin predicts one text for
# all six — equality proves both twins track the CTM identically.
# Reference behavior: the library chain reads cm-wrapped pages by device
# position via pdfplumber/fitz (extract_text.py:39-66); round 7 closes
# that gap in the dependency-free rung on both twins.
# ---------------------------------------------------------------------------


def _payload_q72(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    norm30 = " ".join(str(text)[:30].split())
    lines = [
        ("text", 72, 720, f"Matrix M{doc_id}"),
        ("text", 72, 704, f"Ctm {norm30}"),
        ("text", 72, 688, f"Grand {doc_id % 79}.75"),
    ]
    l1, l2, l3 = lines
    variant = doc_id % 6
    if variant == 0:  # q…Q-wrapped identity (state plumbing, no movement)
        ops = [("ctm", 1, 0, 0, 1, 0, 0), l1, l2, l3, ("pop",)]
    elif variant == 1:  # pure translate
        ops = [("ctm", 1, 0, 0, 1, 30.5, -12.25), l1, l2, l3, ("pop",)]
    elif variant == 2:  # uniform scale up (pitch 16 → 24 < PARA_GAP)
        ops = [("ctm", 1.5, 0, 0, 1.5, 0, 0), l1, l2, l3, ("pop",)]
    elif variant == 3:  # scale down + translate (pitch 16 → 8 > Y_TOL)
        ops = [("ctm", 0.5, 0, 0, 0.5, 40, 100), l1, l2, l3, ("pop",)]
    elif variant == 4:  # nested states: l1 under the outer scale only
        ops = [
            ("ctm", 1.25, 0, 0, 1.25, 0, 0), l1,
            ("ctm", 1, 0, 0, 1, 0, -4), l2, l3,
            ("pop",), ("pop",),
        ]
    else:  # bare cm, never popped (legal: CTM persists to end of stream)
        ops = [("cm", 0.75, 0, 0, 0.75, 10, 5), l1, l2, l3]
    return write_minimal_pdf([ops])


# ---------------------------------------------------------------------------
# q73 — CTM × FORM-XOBJECT composition under the ORACLE GATE (r7): the
# letterhead shape under a page CTM. Do saves/restores graphics state
# (ISO 32000 §8.10.2), which both twins express as a synthetic q…Q around
# every splice — so a page `cm` wrapping the Do, a form /Matrix under it,
# and an identity-matrix form whose own content issues a bare internal cm
# (which must be CONTAINED, not leak onto the rest of the page) all
# compose like a real renderer. Five variants per corpus (doc_id % 5);
# variant (d)'s internal cm is a 2× scale whose leak WOULD double the
# page line pitch past PDF_PARA_GAP and visibly change the text — the
# gate proves containment, not just parity.
# ---------------------------------------------------------------------------


def _payload_q73(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_form_pdf

    norm30 = " ".join(str(text)[:30].split())
    stamp = f"Stamp S{doc_id}"
    header = [("text", 72, 736, stamp)]
    page = [
        ("text", 72, 720, f"Wrap W{doc_id}"),
        ("text", 72, 704, f"Page {norm30}"),
        ("text", 72, 688, f"Net {doc_id % 73}.25"),
    ]
    variant = doc_id % 5
    if variant == 0:  # page cm translate around Do + text
        return write_form_pdf([page], header, page_wrap=(1, 0, 0, 1, 30, -10))
    if variant == 1:  # page cm scale
        return write_form_pdf([page], header, page_wrap=(1.25, 0, 0, 1.25, 0, 0))
    if variant == 2:  # page cm scale × form translate /Matrix
        return write_form_pdf(
            [page], header, page_wrap=(1.25, 0, 0, 1.25, 0, 0),
            translate=(0, 4),
        )
    if variant == 3:  # identity form with INTERNAL bare cm — containment
        hdr = [("cm", 2, 0, 0, 2, 0, 0), ("text", 36, 368, stamp)]
        return write_form_pdf([page], hdr)
    return write_form_pdf([page], header)  # control: no wrapper


# matrix-blind twin: every variant preserves line order and the 16-pt
# cluster pitch (scaled pitches stay inside (PDF_Y_TOL, PDF_PARA_GAP))
_Q73_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'Stamp S' || CAST(doc_id AS VARCHAR) AS l0,
         'Wrap W' || CAST(doc_id AS VARCHAR) AS l1,
         'Page ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         'Net ' || CAST(doc_id % 73 AS VARCHAR) || '.25' AS l3
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l0 || chr(10) || l1 || chr(10) || l2
         || chr(10) || l3 AS extracted_text,
       (len(trim(l0)) + len(trim(l1)) + len(trim(l2)) + len(trim(l3))) < 40
         AS needs_ocr
FROM parts
"""


# ---------------------------------------------------------------------------
# q74 — NON-TRANSLATION Tm under the ORACLE GATE (r7): the text matrix
# with a real linear part (scaled watermark/letterhead shape real
# generators emit). Five variants (doc_id % 5): scaled Tm with relative
# Td line advances mapping through the linear part, scaled Tm with the
# TL/T* leading idiom (whose advance also maps through it — exactly what
# the FORM rewrite path cannot express and bails on; the top-level walk
# does the math in text space so it is exact), a translate-Tm control, a
# down-scale, and CTM × scaled-Tm composition. Every pitch stays inside
# (PDF_Y_TOL, PDF_PARA_GAP), so the DuckDB twin is matrix-blind.
# ---------------------------------------------------------------------------


def _payload_q74(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    norm30 = " ".join(str(text)[:30].split())
    l1, l2, l3 = (
        f"Tmx T{doc_id}", f"Text {norm30}", f"Due {doc_id % 71}.10"
    )

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    variant = doc_id % 5
    if variant == 0:  # scaled Tm, Td deltas map through the linear part
        raw = (
            f"BT /F1 12 Tf 1.5 0 0 1.5 72 720 Tm ({esc(l1)}) Tj "
            f"0 -16 Td ({esc(l2)}) Tj 0 -16 Td ({esc(l3)}) Tj ET"
        )
        ops = [("raw", raw)]
    elif variant == 1:  # scaled Tm + TL/T* leading advance through it
        raw = (
            f"BT /F1 12 Tf 1.5 0 0 1.5 72 720 Tm 16 TL ({esc(l1)}) Tj "
            f"T* ({esc(l2)}) Tj T* ({esc(l3)}) Tj ET"
        )
        ops = [("raw", raw)]
    elif variant == 2:  # translate-only Tm control (identity linear)
        raw = (
            f"BT /F1 12 Tf 1 0 0 1 72 720 Tm ({esc(l1)}) Tj "
            f"1 0 0 1 72 704 Tm ({esc(l2)}) Tj "
            f"1 0 0 1 72 688 Tm ({esc(l3)}) Tj ET"
        )
        ops = [("raw", raw)]
    elif variant == 3:  # down-scale (pitch 16 → 12 > Y_TOL)
        raw = (
            f"BT /F1 12 Tf 0.75 0 0 0.75 60 540 Tm ({esc(l1)}) Tj "
            f"0 -16 Td ({esc(l2)}) Tj 0 -16 Td ({esc(l3)}) Tj ET"
        )
        ops = [("raw", raw)]
    else:  # CTM × scaled Tm composition (pitch 16 × 1.2 × 1.25 = 24)
        raw = (
            f"q 1.25 0 0 1.25 0 0 cm "
            f"BT /F1 12 Tf 1.2 0 0 1.2 72 600 Tm ({esc(l1)}) Tj "
            f"0 -16 Td ({esc(l2)}) Tj 0 -16 Td ({esc(l3)}) Tj ET Q"
        )
        ops = [("raw", raw)]
    return write_minimal_pdf([ops])


# ---------------------------------------------------------------------------
# q75 — INHERITED PAGE RESOURCES under the ORACLE GATE (r7; ISO 32000
# §7.7.3.4): real generators hoist the shared /Resources dict onto a
# /Pages node; pages carry none and inherit via /Parent. The carrier font
# is /Differences-remapped, so inheritance is LOAD-BEARING: an engine
# that fails to climb cannot resolve the strict font and must bail — it
# can never emit high-byte garbage that still hashes. Four variants
# (doc_id % 4): resources on the page (control), on the /Pages root, on
# an intermediate node of a two-level tree, and root + FlateDecode.
# ---------------------------------------------------------------------------


def _payload_q75(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_differences_pdf

    norm30 = " ".join(str(text)[:30].split())
    page = (
        f"Inherit I{doc_id}\nRes {norm30}\nSum {doc_id % 67}.40"
    )
    variant = doc_id % 4
    if variant == 0:
        return write_differences_pdf([page], resources_parent=0)
    if variant == 1:
        return write_differences_pdf([page], resources_parent=1)
    if variant == 2:
        return write_differences_pdf([page], resources_parent=2)
    return write_differences_pdf([page], resources_parent=1, compress=True)


# ---------------------------------------------------------------------------
# q76 — /ROTATE display rotation under the ORACLE GATE (r7; §7.7.3.3):
# scanned/landscape documents carry a 90/180/270 /Rotate (itself an
# inheritable attribute), and the library chain extracts them in the
# DISPLAYED orientation. Both twins model it as the page's initial CTM
# (engine: synthetic leading cm from the page-tree walk; oracle: uniform
# file-level rotation). Four variants (doc_id % 4): no rotation, 90 on
# the /Pages node with rotated-authored text (reads upright displayed),
# 180 per-page with upside-down-authored text, 270 per-page with
# column-authored text, and 90 over a SHIFTED /MediaBox origin (the
# cropped-page shape — the rotation formulas carry x0/y0) — every
# variant displays the SAME three lines, so the twin is rotation-blind.
# ---------------------------------------------------------------------------


def _payload_q76(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    norm30 = " ".join(str(text)[:30].split())
    l1, l2, l3 = (
        f"Rot R{doc_id}", f"View {norm30}", f"Amt {doc_id % 61}.80"
    )

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    variant = doc_id % 5
    if variant == 0:  # portrait control
        return write_minimal_pdf(["\n".join((l1, l2, l3))])
    if variant == 1:  # /Rotate 90 inherited; text authored rotated
        raw = (
            f"BT /F1 12 Tf 0 1 -1 0 300 72 Tm ({esc(l1)}) Tj "
            f"0 -16 Td ({esc(l2)}) Tj 0 -16 Td ({esc(l3)}) Tj ET"
        )
        return write_minimal_pdf(
            [[("raw", raw)]], rotate=90, rotate_on_pages=True
        )
    if variant == 2:  # /Rotate 180 per page; authored upside-down
        page = [
            ("text", 72, 688, l1), ("text", 72, 704, l2),
            ("text", 72, 720, l3),
        ]
        return write_minimal_pdf([page], rotate=180)
    if variant == 3:
        # /Rotate 270 per page; authored as a column (x carries the pitch)
        page = [
            ("text", 300, 400, l1), ("text", 284, 400, l2),
            ("text", 268, 400, l3),
        ]
        return write_minimal_pdf([page], rotate=270)
    # /Rotate 90 over a SHIFTED /MediaBox [20 30 632 822] — same displayed
    # lines as variant 1 because author coords shift with the origin:
    # displayed (x', y') = (y - y0, x1 - x)
    raw = (
        f"BT /F1 12 Tf 0 1 -1 0 320 102 Tm ({esc(l1)}) Tj "
        f"0 -16 Td ({esc(l2)}) Tj 0 -16 Td ({esc(l3)}) Tj ET"
    )
    pdf = write_minimal_pdf([[("raw", raw)]], rotate=90, rotate_on_pages=True)
    return pdf.replace(b"/MediaBox [0 0 612 792]", b"/MediaBox [20 30 632 822]")


# ---------------------------------------------------------------------------
# q77 — /ActualText marked-content replacement under the ORACLE GATE
# (r7, ISO 32000 §14.9.4): generators emit `/Span <</ActualText (…)>>
# BDC … EMC` to fix hyphenation, ligatures and dropcaps for extraction —
# the shown bytes are presentation, the ActualText is the content. Six
# variants (doc_id % 6): straight replacement over garbage shows, a
# ligature splice merging into the surrounding run, a UTF-16BE (BOM)
# hex-string value, an EMPTY sequence (no shows — the replacement still
# represents content, recorded at the sequence end), a nested plain BMC
# sequence swallowed inside the span, and hyphenation across a line
# advance (replacement records at the FIRST enclosed show's origin).
# Every variant renders the same three lines, so the DuckDB twin is
# ActualText-blind. Nested /ActualText, unbalanced sequences and
# undecodable values bail to the library rungs on both twins (pinned in
# tests/test_actualtext.py, not here).
# ---------------------------------------------------------------------------


def _payload_q77(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    norm30 = " ".join(str(text)[:30].split())
    l1, l2, l3 = (
        f"Act A{doc_id}", f"Text {norm30}", f"Sum {doc_id % 67}.40"
    )

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    variant = doc_id % 6
    if variant == 0:  # straight replacement of garbage shows
        mid = (
            f"/Span <</ActualText ({esc(l2)})>> BDC "
            f"(zzz-) Tj (gap) Tj EMC"
        )
    elif variant == 1:  # ligature splice merges into the surrounding run
        head, tail = l2[:5], l2[5:]  # 'Text ' + norm30
        mid = (
            f"({esc(head)}) Tj /Span <</ActualText ({esc(tail)})>> BDC "
            f"(\\014) Tj EMC"
        )
    elif variant == 2:  # UTF-16BE hex-string value (BOM FE FF)
        hx = "FEFF" + l2.encode("utf-16-be").hex().upper()
        mid = f"/Span <</ActualText <{hx}>>> BDC (ligature soup) Tj EMC"
    elif variant == 3:  # empty sequence — no enclosed shows
        mid = f"/Span <</ActualText ({esc(l2)})>> BDC EMC"
    elif variant == 4:  # nested plain BMC swallowed inside the span
        mid = (
            f"/Span <</ActualText ({esc(l2)})>> BDC "
            f"/Junk BMC (aaa) Tj EMC (bbb) Tj EMC"
        )
    else:  # hyphenation across a line advance; first-show origin wins
        mid = (
            f"/Span <</ActualText ({esc(l2)})>> BDC (hyphen-) Tj "
            f"0 -8 Td (ated) Tj EMC"
        )
    drop = 8 if variant == 5 else 16  # line 3 lands at y=688 in all variants
    raw = (
        f"BT /F1 12 Tf 72 720 Td ({esc(l1)}) Tj 0 -16 Td {mid} "
        f"0 -{drop} Td ({esc(l3)}) Tj ET"
    )
    return write_minimal_pdf([[("raw", raw)]])


# ---------------------------------------------------------------------------
# q78 — TJ word-break synthesis under the ORACLE GATE (r7, §9.4.3 +
# spec.TJ_SPACE_KERN): generators that kern word gaps inside TJ arrays
# instead of showing space glyphs (`[(Hello) -250 (world)] TJ`) must not
# extract as run-on words — the reference's library chain derives the
# break from glyph geometry; the dependency-free rung models it as a
# fixed displacement threshold, identically on both twins. Six variants
# (doc_id % 6): a plain word-gap kern, intra-word kerning that stays
# joined (-120, below threshold), mixed gaps in one array, the exact
# threshold boundary (-180 breaks, -179.9 joins), hex-string shows with
# a kern, and a trailing displacement that shows nothing across arrays.
# Every variant renders the same three lines, so the DuckDB twin is
# kern-blind.
# ---------------------------------------------------------------------------


def _payload_q78(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    norm30 = " ".join(str(text)[:30].split())
    l1, l2, l3 = (
        f"Kern K{doc_id}", f"Text {norm30}", f"Net {doc_id % 59}.60"
    )

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    def hx(s: str) -> str:
        return s.encode("latin-1").hex().upper()

    variant = doc_id % 6
    if variant == 0:  # plain word-gap kern synthesizes the space
        mid = f"[({esc('Text')}) -250 ({esc(norm30)})] TJ"
    elif variant == 1:  # intra-word kern stays joined (below threshold)
        mid = f"[({esc('Text ')}) -120 ({esc(norm30)})] TJ"
    elif variant == 2:  # mixed gaps in one array
        mid = f"[(Te) -50 (xt) -300 ({esc(norm30)})] TJ"
    elif variant == 3:  # threshold boundary: -180 breaks, -179.9 joins
        mid = f"[({esc('Text')}) -180 ({esc(norm30[:4])}) -179.9 ({esc(norm30[4:])})] TJ"
    elif variant == 4:  # hex-string shows with a word-gap kern
        mid = f"[<{hx('Text')}> -400.5 <{hx(norm30)}>] TJ"
    else:  # trailing displacement shows nothing, even across arrays
        mid = f"[({esc('Text ')}) -500] TJ [({esc(norm30)})] TJ"
    raw = (
        f"BT /F1 12 Tf 72 720 Td ({esc(l1)}) Tj 0 -16 Td {mid} "
        f"0 -16 Td ({esc(l3)}) Tj ET"
    )
    return write_minimal_pdf([[("raw", raw)]])


# ---------------------------------------------------------------------------
# q79 — Gopher-style repetition counters (Rae et al. 2021 §A1.1), the
# training-data quality signal that drops boilerplate-heavy documents:
# duplicate-line counts/characters and the most-frequent word-bigram
# share, as exact BIGINT counters per document (fractions are a trivial
# downstream divide; integers hash-compare exactly). Scale shape: two
# two-stage aggregations keyed (doc_id, line)/(doc_id, bigram) → doc_id,
# partial aggregation throughout, doc_id-keyed join of aggregated sides.
# ---------------------------------------------------------------------------


def q79_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import repetition_scores

    return repetition_scores(_docs(spark, sf_dir).select("doc_id", "text"))


_Q79_SQL = r"""
WITH lines AS (
  SELECT doc_id, line
  FROM documents, unnest(string_split(text, chr(10))) AS t(line)
  WHERE line <> ''
), lg AS (
  SELECT doc_id, line, COUNT(*) AS cnt FROM lines GROUP BY doc_id, line
), lstats AS (
  SELECT doc_id,
         SUM(cnt) AS n_lines,
         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_lines,
         SUM(len(line) * cnt) AS line_chars,
         SUM(CASE WHEN cnt > 1 THEN len(line) * cnt ELSE 0 END) AS dup_line_chars
  FROM lg GROUP BY doc_id
), words AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), bg AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS bigram
  FROM words, unnest(range(1, len(w))) AS t(i)
), bgg AS (
  SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bigram
), bstats AS (
  SELECT doc_id, MAX(cnt) AS top_bigram_count, SUM(cnt) AS n_bigrams
  FROM bgg GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(l.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(coalesce(l.dup_lines, 0) AS BIGINT) AS dup_lines,
       CAST(coalesce(l.line_chars, 0) AS BIGINT) AS line_chars,
       CAST(coalesce(l.dup_line_chars, 0) AS BIGINT) AS dup_line_chars,
       CAST(coalesce(b.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
       CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM documents d
LEFT JOIN lstats l USING (doc_id)
LEFT JOIN bstats b USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q80 — deterministic PII scrubbing under the ORACLE GATE: the
# training-data privacy pass (mask SSN/email/phone, count each class).
# The corpus text is augmented with synthesized PII derived from doc_id
# (identically on both sides) so the masking is genuinely exercised on
# every row; patterns/masks/order are spec data (spec.PII_*), scrubbing
# is sequential with counts on the progressively scrubbed text, and the
# whole operator is map-only Catalyst expressions (regexp_extract_all +
# regexp_replace in whole-stage codegen).
# ---------------------------------------------------------------------------


def q80_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import pii_scrub

    d = _docs(spark, sf_dir).select("doc_id", "text")
    area = (F.col("doc_id") % 900 + 100).cast("string")
    last4 = (F.col("doc_id") % 9000 + 1000).cast("string")
    mid2 = (F.col("doc_id") % 90 + 10).cast("string")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nContact: u"), F.col("doc_id").cast("string"),
            F.lit("@mail"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com ph ("), area, F.lit(") 555-"), last4,
            F.lit(" ssn "), area, F.lit("-"), mid2, F.lit("-"), last4,
        ).alias("text"),
    )
    return pii_scrub(aug)


_Q80_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         text || chr(10) || 'Contact: u' || CAST(doc_id AS VARCHAR)
           || '@mail' || CAST(doc_id % 5 AS VARCHAR)
           || '.example.com ph (' || CAST(doc_id % 900 + 100 AS VARCHAR)
           || ') 555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
           || ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)
           || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)
           || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t0
  FROM documents
), s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t0, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssns,
         regexp_replace(t0, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t1
  FROM aug
), s2 AS (
  SELECT doc_id, n_ssns,
         len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
  FROM s1
), s3 AS (
  SELECT doc_id, n_ssns, n_emails,
         len(regexp_extract_all(t2, '\([0-9]{3}\) [0-9]{3}-[0-9]{4}|\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phones,
         regexp_replace(t2, '\([0-9]{3}\) [0-9]{3}-[0-9]{4}|\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS t3
  FROM s2
)
SELECT doc_id,
       t3 AS scrubbed_text,
       CAST(n_ssns AS BIGINT) AS n_ssns,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones
FROM s3
"""


# ---------------------------------------------------------------------------
# q81 — C4-style line-level boilerplate filtering under the ORACLE GATE
# (Raffel et al. 2020 §2.2): the classic web-corpus cleaning pass. The
# corpus text (single-line by construction) is augmented into a
# deterministic multi-line document derived from doc_id — identically on
# both sides — so every rule is exercised on every row: a passing content
# line, a too-short line, a no-terminal-punctuation line, a javascript
# boilerplate line, a conditional lorem-ipsum / brace line (doc-level
# drops), a conditional extra passing line (varies n_kept), and a
# punctuated tail slice. Rules are spec data (spec.C4_*); the operator is
# map-only (array HOF filter — no shuffle; see boilerplate_filter's
# docstring for the posexplode tradeoff).
# ---------------------------------------------------------------------------


def q81_boilerplate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import boilerplate_filter

    d = _docs(spark, sf_dir).select("doc_id", "text")
    line_a = F.concat(F.trim(F.substring("text", 1, 80)), F.lit("."))
    line_e = F.when((F.col("doc_id") % 3) == 0,
                    F.lit("Lorem ipsum dolor sit amet.")) \
              .otherwise(F.lit("Classical filler text stays absent here today."))
    line_f = F.when((F.col("doc_id") % 5) == 0,
                    F.lit("function() { return void 0; }")) \
              .otherwise(F.lit("Braces are nowhere to be found."))
    line_h = F.when((F.col("doc_id") % 2) == 0,
                    F.lit("Data pipelines need careful cleaning at scale.")) \
              .otherwise(F.lit("no terminal punctuation so this line drops"))
    aug = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            line_a,
            F.lit("short line."),
            F.lit("this line has enough words but no full stop"),
            F.lit("Please enable JavaScript to view this page."),
            line_e,
            line_f,
            F.concat(F.trim(F.substring("text", 81, 60)), F.lit("!")),
            line_h,
        ).alias("text"),
    )
    return boilerplate_filter(aug)


_Q81_SQL = r"""
WITH aug AS (
  SELECT doc_id,
         trim(substr(text, 1, 80)) || '.'
           || chr(10) || 'short line.'
           || chr(10) || 'this line has enough words but no full stop'
           || chr(10) || 'Please enable JavaScript to view this page.'
           || chr(10) || CASE WHEN doc_id % 3 = 0
                THEN 'Lorem ipsum dolor sit amet.'
                ELSE 'Classical filler text stays absent here today.' END
           || chr(10) || CASE WHEN doc_id % 5 = 0
                THEN 'function() { return void 0; }'
                ELSE 'Braces are nowhere to be found.' END
           || chr(10) || trim(substr(text, 81, 60)) || '!'
           || chr(10) || CASE WHEN doc_id % 2 = 0
                THEN 'Data pipelines need careful cleaning at scale.'
                ELSE 'no terminal punctuation so this line drops' END
           AS text
  FROM documents
), split AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM aug
), filt AS (
  SELECT doc_id, text, len(lines) AS n_lines,
         list_filter(lines, x ->
           regexp_matches(rtrim(x), '[.!?"]$')
           AND len(regexp_extract_all(x, '\S+')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM split
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS cleaned_text,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       (len(kept) >= 3
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(lower(text), '{')) AS doc_kept
FROM filt
"""


# ---------------------------------------------------------------------------
# q82 — sequence packing under the ORACLE GATE: concat-and-chunk global
# token offsets (the GPT-style training prep step). The DuckDB twin is
# the naive single-node global running sum; the Spark side is the
# two-phase scalable shape (contiguous doc_id buckets → bounded
# per-bucket totals collected and prefix-summed on the driver →
# broadcast join + per-bucket window cumsum — no SinglePartition
# exchange; see operators/packing.py). Equality across the two shapes
# IS the point of the gate here.
# ---------------------------------------------------------------------------


def q82_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir).select("doc_id", "text"))


_Q82_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS BIGINT)
           AS start_offset
  FROM t
)
SELECT doc_id, n_tokens, start_offset,
       CAST(start_offset // 2048 AS BIGINT) AS first_seq,
       CAST((start_offset + greatest(n_tokens, 1) - 1) // 2048 AS BIGINT)
         AS last_seq
FROM s
"""


# ---------------------------------------------------------------------------
# q83 — Gopher quality-filter composite under the ORACLE GATE (Rae et
# al. 2021 Table A1): word-count and mean-word-length bounds, symbol /
# bullet-line / ellipsis-line ratios, alphabetic-word ratio, required-
# stopword presence, and the AND of all rules. The single-line corpus is
# augmented deterministically from doc_id — identically on both sides —
# so every rule branch fires somewhere: a 40-word filler (crosses the
# 50-word bound both ways), bullet lines, an ellipsis trailer, a
# hash-symbol line, and a numeric non-alpha line. Thresholds are data on
# the operator (textstats.GOPHER_*); ratios are 6dp-rounded and the pass
# flag is computed FROM the rounded values on both engines.
# ---------------------------------------------------------------------------

_Q83_FILLER = ("the data be moved to the store of record and that each part "
               "have sync with the rest so the whole of it can be read and "
               "that no part be lost with time")
_Q83_BULLETS = "- first bullet item here\n- second bullet item there"
_Q83_ELLIPSIS = "this line just trails off..."
_Q83_HASHES = "### hash ### marks ### everywhere ###"
_Q83_DIGITS = "12345 67890 11111 22222 33333 44444"


def q83_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.textstats import gopher_quality_flags

    d = _docs(spark, sf_dir).select("doc_id", "text")
    parts = [
        F.col("text"),
        F.when((F.col("doc_id") % 2) == 0, F.lit(_Q83_FILLER)),
        F.when((F.col("doc_id") % 4) == 0, F.lit(_Q83_BULLETS)),
        F.when((F.col("doc_id") % 3) == 0, F.lit(_Q83_ELLIPSIS)),
        F.when((F.col("doc_id") % 5) == 0, F.lit(_Q83_HASHES)),
        F.when((F.col("doc_id") % 7) == 0, F.lit(_Q83_DIGITS)),
    ]
    # concat_ws skips NULLs, so absent branches add no separator line
    aug = d.select("doc_id", F.concat_ws("\n", *parts).alias("text"))
    return gopher_quality_flags(aug)


def _q83_sql() -> str:
    from .entry_queries_ext import _WORDS_SQL
    from .operators import textstats as ts

    req = ", ".join(f"'{s}'" for s in ts.GOPHER_REQ_STOPWORDS)
    lo_w, hi_w = ts.GOPHER_WORD_COUNT
    lo_m, hi_m = ts.GOPHER_MEAN_WORD_LEN
    nw = _WORDS_SQL.format(v="t")
    return f"""
WITH aug AS (
  SELECT doc_id,
         concat_ws(chr(10), text,
           CASE WHEN doc_id % 2 = 0 THEN '{_Q83_FILLER}' END,
           CASE WHEN doc_id % 4 = 0 THEN '{_Q83_BULLETS.replace(chr(10), "' || chr(10) || '")}' END,
           CASE WHEN doc_id % 3 = 0 THEN '{_Q83_ELLIPSIS}' END,
           CASE WHEN doc_id % 5 = 0 THEN '{_Q83_HASHES}' END,
           CASE WHEN doc_id % 7 = 0 THEN '{_Q83_DIGITS}' END) AS t
  FROM documents
), base AS (
  SELECT doc_id, t,
         list_filter(regexp_split_to_array(trim(t), '\\s+'), x -> x != '') AS w,
         string_split(t, chr(10)) AS lines
  FROM aug
), stats AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         ROUND(CAST(coalesce(list_aggregate(list_transform(w, x -> len(x)), 'sum'), 0) AS DOUBLE)
               / GREATEST(len(w), 1), 6) AS mean_word_len,
         ROUND(CAST(len(regexp_extract_all(t, '#|\\.\\.\\.')) AS DOUBLE)
               / GREATEST(len(w), 1), 6) AS symbol_ratio,
         ROUND(CAST(len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-•*]'))) AS DOUBLE)
               / GREATEST(len(lines), 1), 6) AS bullet_ratio,
         ROUND(CAST(len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)
               / GREATEST(len(lines), 1), 6) AS ellipsis_ratio,
         ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / GREATEST(len(w), 1), 6) AS alpha_word_ratio,
         CAST(len(list_filter([{req}], s -> list_contains({nw}, s))) AS BIGINT) AS n_req_stop
  FROM base
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       ellipsis_ratio, alpha_word_ratio, n_req_stop,
       (n_words BETWEEN {lo_w} AND {hi_w}
        AND mean_word_len BETWEEN {lo_m} AND {hi_m}
        AND symbol_ratio <= {ts.GOPHER_MAX_SYMBOL_RATIO}
        AND bullet_ratio <= {ts.GOPHER_MAX_BULLET_RATIO}
        AND ellipsis_ratio <= {ts.GOPHER_MAX_ELLIPSIS_RATIO}
        AND alpha_word_ratio >= {ts.GOPHER_MIN_ALPHA_WORD_RATIO}
        AND n_req_stop >= {ts.GOPHER_MIN_REQ_STOPWORDS}) AS gopher_pass
FROM stats
"""
