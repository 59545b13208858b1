"""OCR fallback execution (reference: extract_text.py:18-24 — when the
text layer yields <40 stripped chars, rasterize each page and run
pytesseract; the extract kernel sets ``needs_ocr`` on exactly that
trigger and, given ``ocr=``, runs the fallback on the flagged rows
itself — operators/extract.py::extract_turn_batch).

``OCR_IMPLS`` is the one table the ``ocr`` values resolve through, the
same dispatch pattern as the real-PDF branch and multimodal decode:
``'real'`` needs PyMuPDF + pytesseract + PIL (not in this sandbox image —
raises a documented RuntimeError that the per-row error channel
captures); ``'fixture'`` (r7, verdict item 7) EXECUTES OCR in-sandbox on
generated scanned fixtures — a template match against the deterministic
spec.OCR_FONT_5X7 bitmaps — and ``'auto'`` picks real-when-installed,
fixture otherwise.
"""

from __future__ import annotations


def ocr_payload_real(payload) -> str:
    """Rasterize + tesseract, per the reference chain. Raises when the OCR
    stack is absent (captured by the error channel, never a job abort)."""
    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode(
        "latin-1", errors="ignore"
    )
    try:
        import fitz  # type: ignore
        import pytesseract  # type: ignore
        from PIL import Image  # type: ignore
    except ImportError:
        raise RuntimeError(
            "needs_ocr row but the OCR stack (PyMuPDF + pytesseract + PIL) is "
            "not installed — install on the cluster image "
            "(reference: src/claim_extractor/extract_text.py:18-24)"
        ) from None
    import io

    doc = fitz.open(stream=data, filetype="pdf")
    out = []
    for i in range(doc.page_count):
        pix = doc[i].get_pixmap(dpi=200)
        img = Image.open(io.BytesIO(pix.tobytes("png")))
        out.append(pytesseract.image_to_string(img))
    return "\n".join(out).strip()


def _scan_images(data: bytes):
    """Grayscale image XObjects in file order: (width, height, raw bytes)
    per image. Raises on shapes outside the generated-scan contract
    (non-8-bit, non-DeviceGray, undecodable) — the error channel reports
    it, never silently-wrong text."""
    import re
    import zlib

    out = []
    for m in re.finditer(rb"(\d+)\s+0\s+obj(.*?)endobj", data, re.S):
        body = m.group(2)
        if b"/Subtype" not in body or b"/Image" not in body:
            continue
        s_at = body.find(b"stream")
        if s_at < 0:
            continue
        head = body[:s_at]
        if not re.search(rb"/Subtype\s*/Image(?![A-Za-z0-9])", head):
            continue
        wm = re.search(rb"/Width\s+(\d+)", head)
        hm = re.search(rb"/Height\s+(\d+)", head)
        lm = re.search(rb"/Length\s+(\d+)", head)
        if not (wm and hm and lm):
            raise RuntimeError("image XObject missing /Width //Height //Length")
        if not re.search(rb"/BitsPerComponent\s+8\b", head) or not re.search(
            rb"/ColorSpace\s*/DeviceGray(?![A-Za-z0-9])", head
        ):
            raise RuntimeError(
                "fixture OCR reads 8-bit /DeviceGray scans only — real "
                "codecs need the cluster OCR stack"
            )
        at = s_at + 6
        if body[at : at + 2] == b"\r\n":
            at += 2
        elif body[at : at + 1] == b"\n":
            at += 1
        raw = body[at : at + int(lm.group(1))]
        if re.search(rb"/Filter\s*/FlateDecode(?![A-Za-z0-9])", head):
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                raise RuntimeError("undecodable scan image stream")
        elif b"/Filter" in head:
            raise RuntimeError("unsupported scan image filter")
        w, h = int(wm.group(1)), int(hm.group(1))
        if len(raw) != w * h:
            raise RuntimeError("scan image geometry mismatch")
        out.append((w, h, raw))
    return out


_CROPPED_CACHE: dict | None = None
_PACKED_CACHE: dict | None = None


def _cropped_templates():
    """char ← row-cropped 5-column ink pattern (rows as 5-bool tuples).
    Cropping makes the match invariant to the observed line band's
    vertical extent; spec pins that cropped patterns are unique. Built
    once per worker (r8: the rebuild was ~0.2 ms of every per-image
    call)."""
    global _CROPPED_CACHE
    if _CROPPED_CACHE is None:
        from .. import spec

        table = {}
        for ch, rows in spec.OCR_FONT_5X7.items():
            bits = [tuple(px == "X" for px in row) for row in rows]
            ink = [i for i, r in enumerate(bits) if any(r)]
            table[tuple(bits[ink[0] : ink[-1] + 1])] = ch
        _CROPPED_CACHE = table
    return _CROPPED_CACHE


def _packed_templates() -> dict:
    """``_cropped_templates`` keyed by a canonical integer instead of the
    tuple-of-tuples: rows packed top→bottom as 5-bit digits
    (``val = Σ row_bits << 5*(H-1-i)``, column 0 the high bit). The first
    cropped row always carries ink (nonzero high digit), so distinct
    cropped patterns pack to distinct ints; an observed cell packs to the
    same canonical form by dropping leading zero rows for free (zero high
    digits) and right-shifting trailing zero rows out (see
    ``ocr_bitmap``). 0 is the empty cell."""
    global _PACKED_CACHE
    if _PACKED_CACHE is None:
        table = {}
        for key, ch in _cropped_templates().items():
            val = 0
            for row in key:
                val = (val << 5) | sum(
                    16 >> j for j, b in enumerate(row) if b
                )
            table[val] = ch
        _PACKED_CACHE = table
    return _PACKED_CACHE


def ocr_bitmap(width: int, height: int, raw: bytes) -> str:
    """Template-match one grayscale scan back to text: threshold to ink,
    split ink rows into line bands, walk each band in fixed-pitch glyph
    cells from its first ink column (every font glyph carries column-0
    ink — a spec constraint), and look each cell's row-cropped pattern up
    in the font. Unknown glyphs raise — wrong text must never beat no
    text.

    r8: the per-cell walk (a Python tuple-of-tuples key per glyph,
    ~1.2 ms/page — the top per-doc CPU term of the q69/q71 roundtrips) is
    one numpy pass per band: every cell's rows pack into a 5-bit-per-row
    int64, trailing blank rows shift out (crop ≡ strip trailing zero
    digits; leading blanks are zero high digits for free), one dict probe
    per cell resolves the glyph. Bands taller than 12 rows would overflow
    the packing and take the original scalar walk; equality against that
    walk is pinned by tests/test_ocr_bitmap_vector.py."""
    import numpy as np

    templates = _packed_templates()
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width)
    ink = arr < 128
    row_any = ink.any(axis=1)
    edges = np.flatnonzero(
        np.diff(np.concatenate(([False], row_any, [False])))
    )
    lines: list[str] = []
    colw = np.array([16, 8, 4, 2, 1], dtype=np.int64)
    for r, r1 in zip(edges[::2], edges[1::2]):
        band = ink[r:r1]
        h = int(band.shape[0])
        if h > 12:  # 5*h bits would overflow the int64 packing
            lines.append(_ocr_band_scalar(band, width))
            continue
        cols = band.any(axis=0)
        c0 = int(np.argmax(cols))
        c_last = width - 1 - int(np.argmax(cols[::-1]))
        n_cells = (c_last - c0) // 6 + 1
        need = c0 + n_cells * 6
        if need > band.shape[1]:  # right-edge pad
            band = np.pad(band, ((0, 0), (0, need - band.shape[1])))
        cells = band[:, c0:need].reshape(h, n_cells, 6)[:, :, :5]
        row_vals = cells @ colw  # (h, n_cells): one 5-bit digit per row
        roww = np.left_shift(
            np.int64(1), 5 * np.arange(h - 1, -1, -1, dtype=np.int64)
        )
        vals = roww @ row_vals  # (n_cells,) packed top→bottom
        while True:  # strip trailing blank rows: drop low zero digits
            m = (vals > 0) & (vals & 31 == 0)
            if not m.any():
                break
            vals[m] >>= 5
        chars = []
        for v in vals.tolist():
            if v == 0:
                chars.append(" ")
                continue
            ch = templates.get(v)
            if ch is None:
                raise RuntimeError(
                    "unrecognized glyph — not a generated scan (real scans "
                    "need the cluster OCR stack)"
                )
            chars.append(ch)
        lines.append("".join(chars).rstrip())
    return "\n".join(lines)


def _ocr_band_scalar(band, width: int) -> str:
    """The original per-cell walk, kept verbatim for bands too tall for
    the int64 packing (cannot occur on fixture scans — 7 px glyphs)."""
    import numpy as np

    templates = _cropped_templates()
    cols = band.any(axis=0)
    c0 = int(np.argmax(cols))
    c_last = width - 1 - int(np.argmax(cols[::-1]))
    chars = []
    for cell in range(c0, c_last + 1, 6):
        block = band[:, cell : cell + 5]
        if block.shape[1] < 5:  # right-edge pad
            block = np.pad(block, ((0, 0), (0, 5 - block.shape[1])))
        rows_ink = [i for i in range(block.shape[0]) if block[i].any()]
        if not rows_ink:
            chars.append(" ")
            continue
        key = tuple(
            tuple(bool(v) for v in block[i]) for i in
            range(rows_ink[0], rows_ink[-1] + 1)
        )
        ch = templates.get(key)
        if ch is None:
            raise RuntimeError(
                "unrecognized glyph — not a generated scan (real scans "
                "need the cluster OCR stack)"
            )
        chars.append(ch)
    return "".join(chars).rstrip()


_NEAREST_CACHE = None


def _nearest_templates():
    """(chars, (n,35) bool matrix) of full-cell patterns incl. space.
    Built once per worker (r8: was rebuilt on every per-image call)."""
    global _NEAREST_CACHE
    if _NEAREST_CACHE is None:
        import numpy as np

        from .. import spec

        chars = [" "]
        rows = [[False] * 35]
        for ch, glyph in spec.OCR_FONT_5X7.items():
            chars.append(ch)
            rows.append([px == "X" for row in glyph for px in row])
        _NEAREST_CACHE = (chars, np.array(rows, dtype=bool))
    return _NEAREST_CACHE


def ocr_bitmap_nearest(width: int, height: int, raw: bytes) -> str:
    """Noise-tolerant decode of one grayscale scan (the r7 realism rung):
    segment by the FIXED fixture geometry (spec.OCR_SCAN_*: 4 px margins,
    10 px line pitch, 6 px cell pitch — the contract fixtures/scanned.py
    renders with, which ink-run detection cannot recover under
    salt-and-pepper noise), then per 5x7 cell take the NEAREST template
    by Hamming distance with a confidence threshold: best distance
    ≤ spec.OCR_NEAREST_MAX_D and a strictly unique winner, else raise —
    wrong text must never beat no text, so an ambiguous or badly
    degraded cell fails loudly instead of guessing."""
    import numpy as np

    from .. import spec

    m, pitch, cw = (
        spec.OCR_SCAN_MARGIN, spec.OCR_SCAN_LINE_PITCH, spec.OCR_SCAN_CELL_W
    )
    if (height - 2 * m - 7) % pitch or (width - 2 * m) % cw:
        raise RuntimeError(
            "scan geometry off the fixture grid — not a generated scan "
            "(real scans need the cluster OCR stack)"
        )
    n_lines = (height - 2 * m - 7) // pitch + 1
    n_cells = (width - 2 * m) // cw
    chars, tmpl = _nearest_templates()
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, width)
    ink = arr < 128
    lines: list[str] = []
    for li in range(n_lines):
        y0 = m + li * pitch
        band = ink[y0:y0 + 7, m:m + n_cells * cw]
        # (n_cells, 35): drop each cell's 6th (gap) column
        cells = (
            band.reshape(7, n_cells, cw)[:, :, :5]
            .transpose(1, 0, 2)
            .reshape(n_cells, 35)
        )
        dists = (cells[:, None, :] != tmpl[None, :, :]).sum(axis=2)
        order = np.argsort(dists, axis=1)
        best, second = order[:, 0], order[:, 1]
        d1 = dists[np.arange(n_cells), best]
        d2 = dists[np.arange(n_cells), second]
        if (d1 > spec.OCR_NEAREST_MAX_D).any() or (d2 == d1).any():
            raise RuntimeError(
                "low-confidence OCR cell (degraded beyond %d flipped px "
                "or ambiguous between templates) — refusing to guess"
                % spec.OCR_NEAREST_MAX_D
            )
        lines.append("".join(chars[i] for i in best).rstrip())
    return "\n".join(lines)


def ocr_payload_fixture(payload) -> str:
    """Dependency-free executed OCR for GENERATED scanned fixtures
    (fixtures/scanned.py): read each page's grayscale image XObject and
    template-match it against spec.OCR_FONT_5X7 — the in-sandbox stand-in
    for the reference's rasterize→pytesseract chain
    (extract_text.py:18-24). Rung ladder per image, mirroring the extract
    stage's rung chain: EXACT row-cropped match first (clean scans,
    byte-identical q69 behavior), then the NEAREST-template matcher with
    a confidence threshold (noisy scans, q70); a failure of both raises.
    Honest scope: raises on anything that is not the generated-scan
    shape; real scans still need ``ocr='real'`` on a cluster image."""
    data = payload if isinstance(payload, (bytes, bytearray)) else str(
        payload
    ).encode("latin-1", errors="ignore")
    images = _scan_images(bytes(data))
    if not images:
        raise RuntimeError("no scan images found in needs_ocr payload")
    out = []
    for w, h, raw in images:
        try:
            out.append(ocr_bitmap(w, h, raw))
        except RuntimeError:
            out.append(ocr_bitmap_nearest(w, h, raw))
    return "\n".join(out).strip()


def ocr_payload_auto(payload) -> str:
    """The dispatch a mixed corpus wants: the REAL rasterize→tesseract
    chain when the OCR stack is installed (cluster image), else the
    fixture template-matcher (which raises on non-fixture scans — the
    error channel reports the dependency gap per row)."""
    try:
        import fitz  # type: ignore # noqa: F401
        import pytesseract  # type: ignore # noqa: F401
        from PIL import Image  # type: ignore # noqa: F401
    except ImportError:
        return ocr_payload_fixture(payload)
    return ocr_payload_real(payload)


OCR_IMPLS = {
    "real": ocr_payload_real,
    "fixture": ocr_payload_fixture,
    "auto": ocr_payload_auto,
}
