"""Payload builders and DuckDB twins of the round-6 PDF roundtrip
carriers q59–q68: named Annex D base encodings and subset fonts, the user
password book, classic stream filters, inline images, incremental
updates, form XObjects, encrypted object streams, tagged reading order,
Type3 fonts and hybrid-reference files. Each query is a row of
entry_roundtrips.ROUNDTRIPS (builder, oracle SQL, extraction rung, R6
seed); this module defines no query of its own.

Reference parity: the reference reads these real-world font shapes
through pdfplumber/fitz (src/claim_extractor/extract_text.py:27-36,
which resolves subset/symbol fonts via the library); this engine's
dependency-free tokenizer rung models them directly (operators/pdftext.py
`_simple_font_handle`) with the oracle char-scanner as the independent
twin. Same oracle-gate contract as the q49 family: build genuine PDF
bytes per document, extract them back, and prove the loop is the
identity against a DuckDB twin computed straight from the table.
"""

from __future__ import annotations

from .entry_queries_ext7 import _page_lines, _positioned_items

# ---------------------------------------------------------------------------
# q59 — simple-font ENCODING MATRIX round trip under the ORACLE GATE: the
# q55-style single-page contract over three font shapes rotated per doc:
#   doc_id%3==0 → SUBSET font: /Differences names glyphs g3, g5, … (no
#     unicode meaning) and only the font's own 1-byte /ToUnicode CMap
#     carries the text — the Camelot-style shape VERDICT r5 item 5 named;
#   doc_id%3==1 → /Encoding /WinAnsiEncoding (cp1252-style bytes: curly
#     quotes / em-dash at 0x80–0x9F where latin-1 reading is WRONG);
#   doc_id%3==2 → /Encoding /MacRomanEncoding (high bytes differ from
#     latin-1 everywhere).
# The page text is decorated with “ ” — é ï (encodable under ALL three
# shapes, NOT ASCII) so the byte→char tables are provably applied; per-doc
# parities mix Flate compression, /Differences overlays on the base
# encodings, indirect encoding objects, and compressed CMaps.
# ---------------------------------------------------------------------------


def _q59_body(doc_id: int, text: str) -> str:
    norm30 = " ".join(str(text)[:30].split())
    return (
        f"Claim C{doc_id}\nBody “{norm30}” — naïve\nTotal {doc_id % 97}.00"
    )


def _payload_q59(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_base_encoded_pdf, write_subset_font_pdf

    body = _q59_body(doc_id, text)
    k = doc_id % 3
    if k == 0:
        return write_subset_font_pdf(
            [body], compress=bool(doc_id % 2), cmap_compress=doc_id % 5 == 0
        )
    enc = "WinAnsiEncoding" if k == 1 else "MacRomanEncoding"
    return write_base_encoded_pdf(
        [body],
        encoding=enc,
        differences=doc_id % 2 == 0,
        indirect=doc_id % 5 == 0,
        compress=bool(doc_id % 2),
    )


_Q59_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'Claim C' || CAST(doc_id AS VARCHAR) AS l1,
         'Body “' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g'))
           || '” — naïve' AS l2,
         'Total ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l3
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l1 || chr(10) || l2 || chr(10) || l3
         AS extracted_text,
       (len(trim(l1)) + len(trim(l2)) + len(trim(l3))) < 40 AS needs_ocr
FROM parts
"""


# ---------------------------------------------------------------------------
# q60 — PASSWORD-PROTECTED PDF round trip under the ORACLE GATE: files
# whose USER password is non-empty, opened via the pipeline's candidate
# password book (spec.KNOWN_USER_PASSWORDS — Algorithm 4/5 validation on
# R2/R3/R4, Algorithm 2.B on R6; the empty password is probed first, then
# each book entry). Rotation per doc: rev 2 / 3 / 4 alternating the two
# book passwords (cheap MD5-path validation), and every 4th doc V5/R6
# AES-256 under ONE book password (its Algorithm 2.B hashes derived once
# in the q58-style distributed pre-pass and seeded into workers — the
# per-worker-KDF scale trap from VERDICT r5 stays dead). Reference
# parity: the reference surfaces password-protected PDFs as extraction
# failures (extract_text.py's library chain has no password plumbing);
# this engine opens the ones whose password is known to the job config.
# ---------------------------------------------------------------------------

_Q60_R6_OWNER = b"q60-owner"


def _payload_q60(doc_id: int, text: str) -> bytes:
    from . import spec
    from .fixtures import minipdf

    k = doc_id % 4
    if k == 3:
        pw = spec.KNOWN_USER_PASSWORDS[0]
        # self-sufficient for un-seeded callers (pinned-corpus
        # materializer); lru-answered after the first call per process
        minipdf.seed_kdf(minipdf.kdf_warm_entries(1, _Q60_R6_OWNER, pw))
        return minipdf.write_encrypted_pdf(
            [_positioned_items(doc_id, text)],
            owner_pwd=_Q60_R6_OWNER, user_pwd=pw, revision=6,
        )
    pw = spec.KNOWN_USER_PASSWORDS[doc_id % 2]
    return minipdf.write_encrypted_pdf(
        [_positioned_items(doc_id, text)],
        owner_pwd=b"owner-%d" % (doc_id % 5), user_pwd=pw,
        revision=(2, 3, 4)[k],
    )


# ---------------------------------------------------------------------------
# q61 — CLASSIC STREAM FILTERS round trip under the ORACLE GATE: the
# pre-PDF-1.5 corpus shapes VERDICT r5 item 7 named — /LZWDecode (9→12
# bit TIFF-convention codes, EarlyChange=1), /ASCIIHexDecode,
# /ASCII85Decode, and chains of them with /FlateDecode — rotated per doc.
# Three independent implementations: writer encoders (minipdf), engine
# decoders (pdftext: dict-table LZW + rolling accumulator), oracle
# decoders (reference_extractor: list-table LZW + big-int bit cursor).
# Reference parity: the reference reads these via pdfplumber/pypdf
# (extract_text.py:39-66); old loss-run PDFs carry them routinely.
# ---------------------------------------------------------------------------

_Q61_FILTERS = (
    ["LZWDecode"],
    ["ASCIIHexDecode"],
    ["ASCII85Decode"],
    ["ASCII85Decode", "FlateDecode"],
    ["ASCIIHexDecode", "LZWDecode"],
)


def _payload_q61(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_filtered_pdf

    return write_filtered_pdf(
        [_positioned_items(doc_id, text)], _Q61_FILTERS[doc_id % 5]
    )


# ---------------------------------------------------------------------------
# q62 — INLINE IMAGES (BI/ID/EI) round trip under the ORACLE GATE: the
# q49 contract over pages that interleave text with inline-image binary
# whose bytes are ADVERSARIAL — phantom '(decoy) Tj' shows, 'BT' blocks,
# 'm … l S' ruling decoys, raw high bytes. The image extents must be
# invisible to every walk (positioned runs, rulings, tagged): engine
# blanks them at the _page_contents_full choke point
# (pdftext._strip_inline_images), the oracle with its own char-cursor
# walk (_oracle_strip_inline). Reference parity: the reference's library
# chain (extract_text.py:39-66) skips inline images inside pdfplumber;
# scanned-overlay loss runs carry them routinely.
# ---------------------------------------------------------------------------


def _payload_q62(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    decoy = (
        b"\x89IMG(fake %d) Tj BT 1 2 Td (evil) Tj ET " % (doc_id % 7)
        + b"0 0 m 99 99 l S \xff\xfe\x00"
        + bytes((doc_id * 31 + k) % 256 for k in range(16)).replace(b" ", b"x")
    )
    items = _positioned_items(doc_id, text)
    # image placement rotates: before / between / after the text items
    items.insert(doc_id % (len(items) + 1), ("image", decoy))
    return write_minimal_pdf([items], compress=bool(doc_id % 2))


# ---------------------------------------------------------------------------
# q63 — INCREMENTAL UPDATE (append-save) round trip under the ORACLE GATE:
# the q49 contract over files carrying an ISO 32000 §7.5.6 update section —
# the Acrobat "Save" shape: the original document's bytes stay untouched,
# new versions of changed objects are APPENDED after %%EOF with their own
# classic xref + /Prev-chained trailer. Rotated per doc: replace page 1's
# content stream / append a second page (new page+content objects, the
# /Pages tree re-emitted with extended /Kids) / both. The superseded v1
# bytes remain IN the file — extraction must surface exactly the v2 text:
# the engine via its last-wins object map + page-tree walk (pdftext
# _objects / _page_objects), the oracle via owner-keyed stream
# supersession in its map-free file walk (newest body, first-seen
# position). Reference parity: the reference reads append-saved PDFs
# through pdfplumber/fitz xref chains (extract_text.py:39-66); insurer
# loss runs are routinely annotated-and-saved this way.
# ---------------------------------------------------------------------------


def _payload_q63(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_incremental_pdf

    k = doc_id % 3
    v2_p1 = _positioned_items(doc_id, text)
    stale = [
        ("text", 72, 720, f"VOID draft {doc_id}"),
        ("text", 72, 704, "superseded body text"),
    ]
    amended = f"Amended total {doc_id % 89}.50"
    compress = bool(doc_id % 2)
    if k == 0:  # replace page 1's content only
        return write_incremental_pdf([stale], [v2_p1], compress=compress)
    if k == 1:  # append a page only
        return write_incremental_pdf([v2_p1], [v2_p1, amended], compress=compress)
    return write_incremental_pdf([stale], [v2_p1, amended], compress=compress)


_Q63_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'Claim C' || CAST(doc_id AS VARCHAR) AS l1,
         'Body ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         'Total ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l3,
         'Amended total ' || CAST(doc_id % 89 AS VARCHAR) || '.50' AS l4,
         doc_id % 3 AS k
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l1 || chr(10) || l2 || chr(10) || chr(10) || l3
       || CASE WHEN k > 0 THEN chr(10) || '--- PAGE 2 ---' || chr(10) || l4
          ELSE '' END AS extracted_text,
       (len(trim(l1)) + len(trim(l2)) + len(trim(l3))
        + CASE WHEN k > 0 THEN len(trim(l4)) ELSE 0 END) < 40 AS needs_ocr
FROM parts
"""


# ---------------------------------------------------------------------------
# q64 — FORM XOBJECTS (/Do) round trip under the ORACLE GATE: pages whose
# text partly lives in shared /Subtype /Form XObject streams — the
# letterhead/stamp shape real generators emit constantly. Rotated per
# doc: plain header form / nested form (header invokes a resource-less
# sub-form, ISO 32000 §8.10.1 inherit rule) / nested + a /Subtype /Image
# Do (pixels must be dropped, not shown) + explicit identity /Matrix /
# TRANSLATE-ONLY /Matrix placement (form authored at its local origin;
# the splice re-anchors BT line origins with a synthetic Td and shifts
# Tm + ruling operands — each twin with its own scanner) / 2× SCALE
# /Matrix (full 2×3 transform of Td operands, r7) / a 90°-ROTATED
# nested stamp composed under a translated letterhead (r7).
# The engine splices form streams at the Do site through its chunked
# regex walk (pdftext._expand_forms: identity-matrix forms only, no cm,
# no Do inside BT — anything else bails to the library chain); the
# oracle twin does the same with its own char-cursor scan
# (_oracle_splice_forms) over GLOBALLY-resolved XObject names.
# Reference parity: the reference renders forms via pdfplumber/fitz
# (extract_text.py:27-66), which flatten Do transparently.
# ---------------------------------------------------------------------------


def _payload_q64(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_form_pdf

    k = doc_id % 6
    if k == 4:
        # SCALE placement (r7, r6 verdict item 5): header + stamp authored
        # at the form-local origin under a 2× /Matrix — the splice runs a
        # real 2×3 transform of Td operands, so local (0, -8) lands at
        # page (72, 744), the same geometry as the plain variants
        return write_form_pdf(
            [_positioned_items(doc_id, text)],
            [("text", 0, 0, f"ACME FORM {doc_id % 11}")],
            sub=[("text", 0, -8, "STAMP approved")],
            translate=(2, 0, 0, 2, 72, 760),
            compress=bool(doc_id % 2),
        )
    if k == 5:
        # ROTATED stamp (r7): the nested sub-form carries a 90° /Matrix —
        # its single run maps through the rotation to (72, 744); the
        # outer letterhead stays a translate splice (matrices compose)
        return write_form_pdf(
            [_positioned_items(doc_id, text)],
            [("text", 0, 0, f"ACME FORM {doc_id % 11}")],
            sub=[("text", 0, 0, "STAMP approved")],
            translate=(72, 760),
            sub_translate=(0, 1, -1, 0, 0, -16),
            compress=bool(doc_id % 2),
        )
    if k == 3:
        # TRANSLATED placement: header/stamp authored at the form-local
        # origin, positioned by a translate-only /Matrix (the per-page
        # stamp shape) — the splice re-anchors BT line origins and
        # shifts Tm/ruling operands on both twins
        return write_form_pdf(
            [_positioned_items(doc_id, text)],
            [("text", 0, 0, f"ACME FORM {doc_id % 11}")],
            sub=[("text", 0, -16, "STAMP approved")],
            translate=(72, 760),
            compress=bool(doc_id % 2),
        )
    header = [("text", 72, 760, f"ACME FORM {doc_id % 11}")]
    sub = [("text", 72, 744, "STAMP approved")] if k > 0 else None
    return write_form_pdf(
        [_positioned_items(doc_id, text)],
        header,
        sub=sub,
        with_image=k == 2,
        explicit_matrix=k == 2,
        compress=bool(doc_id % 2),
    )


_Q64_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'ACME FORM ' || CAST(doc_id % 11 AS VARCHAR) AS h1,
         'STAMP approved' AS h2,
         'Claim C' || CAST(doc_id AS VARCHAR) AS l1,
         'Body ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         'Total ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l3,
         doc_id % 6 AS k
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || h1
       || CASE WHEN k > 0 THEN chr(10) || h2 ELSE chr(10) END
       || chr(10) || l1 || chr(10) || l2 || chr(10) || chr(10) || l3
         AS extracted_text,
       (len(trim(h1)) + CASE WHEN k > 0 THEN len(trim(h2)) ELSE 0 END
        + len(trim(l1)) + len(trim(l2)) + len(trim(l3))) < 40 AS needs_ocr
FROM parts
"""


# ---------------------------------------------------------------------------
# q65 — ENCRYPTED OBJECT-STREAM PDF round trip under the ORACLE GATE: the
# modern encrypted shape (PDF 1.6+, today's Acrobat default) that combines
# everything q51 and q54/q56/q58 cover separately — object streams + a
# binary xref STREAM whose dict carries /Encrypt + /ID (no classic
# trailer; the xref stream itself is never encrypted, ISO 32000
# §7.5.8.2), with the standard handler rotated per doc across V1/R2 RC4,
# V2/R3 RC4, V4/R4 AESV2 and V5/R6 AESV3. The /ObjStm container decrypts
# AS A WHOLE under its own object key (members inherit); the engine
# re-expands containers after key derivation (pdftext._page_contents_full),
# the oracle resolves the trailer fields from the xref-stream object
# body. R6's Algorithm 2.B hashes ride the q58 seed machinery. Reuses
# q49's SQL twin. Reference parity: the reference opens these through
# pdfplumber/pypdf's xref-chain + crypt filters (extract_text.py:39-66).
# ---------------------------------------------------------------------------

_Q65_REVS = (2, 3, 4, 6)


def _payload_q65(doc_id: int, text: str) -> bytes:
    from .fixtures import minipdf

    rev = _Q65_REVS[doc_id % 4]
    if rev == 6:
        # self-sufficient for un-seeded callers (the pinned-corpus
        # materializer); lru-answered after the first call per process
        minipdf.seed_kdf(minipdf.kdf_warm_entries(1, b"r6-owner"))
    return minipdf.write_encrypted_objstm_pdf(
        [_positioned_items(doc_id, text)],
        owner_pwd=b"r6-owner",
        revision=rev,
        predictor=bool(doc_id % 2),
    )


# ---------------------------------------------------------------------------
# q66 — TAGGED-PDF LOGICAL READING ORDER under the ORACLE GATE: a
# two-column page whose content stream is emitted in GEOMETRIC order
# (y desc — the columns interleave), with every paragraph wrapped in
# `/P <</MCID n>> BDC … EMC` and the structure tree carrying the LOGICAL
# order (ISO 32000 §14.7–14.8: left column top-to-bottom, then right).
# The extraction uses the tagged rung (structure-tree depth-first MCID
# order, /Artifact footer dropped per §14.8.2.2) — the order an LLM
# training pipeline needs for two-column reports, and one the reference's
# pdfplumber/fitz chain (extract_text.py:39-66) cannot produce: it reads
# geometry. Per-doc parities rotate flat /Pg-per-element kids, one /Sect
# wrapper per page exercising /Pg inheritance, and /MCR reference-dict
# kids; even docs Flate-compress the content stream. The SQL twin computes
# the logical order DIRECTLY from the table — equality proves the
# write→BDC-scan→tree-walk→reassemble loop is the identity.
# ---------------------------------------------------------------------------


def _tagged_items(doc_id: int, text: str) -> list:
    """Two-column layout in LOGICAL order: the right column's first
    paragraph sits HIGHER than the left column's (y 730 > 720), so the
    geometric y-desc walk interleaves columns (p2, p0, p3, p1) while the
    structure tree restores p0, p1, p2, p3."""
    norm30 = " ".join(str(text)[:30].split())
    return [
        (72, 720, f"Claim C{doc_id}"),
        (72, 704, f"Body {norm30}"),
        (320, 730, "Part two"),
        (320, 714, f"Total {doc_id % 97}.00"),
    ]


def _payload_q66(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_tagged_pdf

    return write_tagged_pdf(
        [_tagged_items(doc_id, text)],
        compress=bool(doc_id % 2),
        artifact=f"Page 1 of 1 - doc {doc_id}",
        nest_sections=doc_id % 3 == 0,
        mcr_kids=doc_id % 3 == 1,
    )


_Q66_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'Claim C' || CAST(doc_id AS VARCHAR) AS l1,
         'Body ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         'Part two' AS l3,
         'Total ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l4
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l1 || chr(10) || l2 || chr(10) || l3
         || chr(10) || l4 AS extracted_text,
       (len(l1) + len(l2) + len(l3) + len(l4) + 3) < 40 AS needs_ocr
FROM parts
"""


# ---------------------------------------------------------------------------
# q67 — TYPE3 (user-defined) FONT round trip under the ORACLE GATE: the
# q55-family single-page contract over a genuine /Subtype /Type3 font —
# glyphs are content streams (/CharProcs: wx 0 d0 + path fills, no text
# ops) and /Encoding /Differences is the ONLY code→glyph map (ISO 32000
# §9.6.5: Type3 has no built-in encoding) — the old-TeX / fax-overlay /
# stamp-generator shape. AGL-named characters live at remapped HIGH codes,
# so a tokenizer ignoring the Differences table would emit high-latin-1
# garbage; the glyph-proc streams are BT-free, so the oracle's file-order
# stream walk must skip them as textless while the engine's page-tree
# walk never follows /CharProcs at all. Per-doc parities rotate Flate
# compression and the indirect-vs-inline /CharProcs dict. Reuses the
# q55 SQL twin. Reference parity: the reference renders Type3 through
# fitz (extract_text.py:27-36); this rung decodes them dependency-free.
# ---------------------------------------------------------------------------


def _payload_q67(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_type3_pdf

    return write_type3_pdf(
        [_page_lines(doc_id, text)],
        compress=bool(doc_id % 2),
        charprocs_ref=doc_id % 3 != 0,
    )


# ---------------------------------------------------------------------------
# q68 — HYBRID-REFERENCE file round trip under the ORACLE GATE: the q49
# positioned-page contract where every payload is the Acrobat 6 compat
# layout (ISO 32000 §7.5.8.4) — a classic xref table PLUS an xref STREAM
# object the trailer names via /XRefStm, describing the same objects.
# Both twins resolve objects by scanning headers (never xref offsets), so
# the hybrid must extract identically to its classic source; odd docs
# Flate-compress the content stream. Reuses the q49 SQL twin. Reference
# parity: pdfplumber/pypdf follow /XRefStm natively (extract_text.py:39).
# ---------------------------------------------------------------------------


def _payload_q68(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import make_hybrid_reference, write_minimal_pdf

    return make_hybrid_reference(
        write_minimal_pdf(
            [_positioned_items(doc_id, text)], compress=bool(doc_id % 2)
        )
    )
