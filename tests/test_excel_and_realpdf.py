"""S8 xlsx source round trip + the real-PDF dispatch branch."""

import sys
import types

import pandas as pd

from pdf_extraction_ai_agent_spark.sources.excel import (
    excel_sheet_rows, read_xlsx_bytes, write_minimal_xlsx,
)


def test_xlsx_write_read_roundtrip():
    sheets = [
        ("AUTO", [["Account", "Policy"], ["ALG&RIA", "P-0"], ["X<>Y", ""]]),
        ("WC", [["only", "one", "row", "wide"]]),
        ("Empty", []),
    ]
    assert read_xlsx_bytes(write_minimal_xlsx(sheets)) == sheets


def test_xlsx_sparse_cells_and_shared_strings():
    """Reader handles A1-ref gaps; openpyxl-style sharedStrings path is
    covered by crafting a workbook with t="s" cells."""
    import io
    import zipfile

    base = write_minimal_xlsx([("S", [["a"]])])
    zf_in = zipfile.ZipFile(io.BytesIO(base))
    names = {n: zf_in.read(n) for n in zf_in.namelist()}
    names["xl/sharedStrings.xml"] = (
        b'<?xml version="1.0"?>'
        b'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        b"<si><t>hello</t></si><si><t>world</t></si></sst>"
    )
    names["xl/worksheets/sheet1.xml"] = (
        b'<?xml version="1.0"?>'
        b'<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        b'<sheetData><row r="1">'
        b'<c r="A1" t="s"><v>0</v></c><c r="C1" t="s"><v>1</v></c>'
        b'<c r="D1"><v>42</v></c>'
        b"</row></sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf_out:
        for n, b in names.items():
            zf_out.writestr(n, b)
    got = read_xlsx_bytes(buf.getvalue())
    assert got == [("S", [["hello", "", "world", "42"]])]  # B1 gap padded


def test_excel_source_spark(spark):
    payload = write_minimal_xlsx(
        [("A", [["h1", "h2"], ["r1a", "r1b"]]), ("B", [["x"]])]
    )
    wb = spark.createDataFrame(
        [("f.xlsx", bytearray(payload))], "file_name string, content binary"
    )
    rows = excel_sheet_rows(wb).collect()
    got = {(r.sheet_name, r.row_pos): list(r.cells) for r in rows}
    assert got == {
        ("A", 0): ["h1", "h2"],
        ("A", 1): ["r1a", "r1b"],
        ("B", 0): ["x"],
    }
    assert all(r.sheet_pos == (0 if r.sheet_name == "A" else 1) for r in rows)


def test_minipdf_tokenizer_property_roundtrip():
    """Property: for ANY latin-1 page text (controls, parens, backslashes,
    operator-lookalike words, empty lines), writer→tokenizer is the
    identity per page, across raw/Flate and Tj/TJ encodings — and the
    independent oracle parser agrees with the engine tokenizer."""
    from hypothesis import given, settings, strategies as st

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    line = st.text(
        alphabet=st.characters(min_codepoint=0, max_codepoint=0xFF,
                               exclude_characters="\n"),
        max_size=40,
    )
    page = st.lists(line, min_size=1, max_size=6).map("\n".join)

    @settings(max_examples=120, deadline=None)
    @given(
        pages=st.lists(page, min_size=1, max_size=3),
        compress=st.booleans(),
        tj=st.booleans(),
        leading=st.booleans(),
    )
    def check(pages, compress, tj, leading):
        data = write_minimal_pdf(
            pages, compress=compress, tj_arrays=tj, leading=leading
        )
        assert assemble_reading_order(tokenize_pdf_runs(data)) == pages
        # the independent char-scanner oracle produces the same marked text
        text, _ocr = extract_real_pdf(data.decode("latin-1"))
        expected = "\n".join(
            spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
            for i, p in enumerate(pages)
        ).strip()
        assert text == expected

    check()


def test_pdf_tokenizer_hex_shows_and_endobj_in_stream():
    """Two review-found gaps: (a) hex-string shows (<hex> Tj) must produce
    positioned runs identical to the oracle; (b) the literal word 'endobj'
    inside an uncompressed content stream must not truncate the object."""
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    # (a) hand-build a content stream mixing hex and literal shows
    import re as _re

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf

    def swap_content(pdf_bytes: bytes, old: bytes, new: bytes) -> bytes:
        out = pdf_bytes.replace(old, new)
        assert out != pdf_bytes, old
        m = _re.search(rb"stream\n(.*?)\nendstream", out, _re.S)
        return _re.sub(rb"/Length \d+", b"/Length %d" % len(m.group(1)), out, count=1)

    base = write_minimal_pdf(["placeholder"])
    hexed = swap_content(base, b"(placeholder) Tj", b"<48656C6C6F> Tj 0 -16 Td (world) Tj")
    assert tokenize_pdf_runs(hexed) == [[(72.0, 720.0, "Hello"), (72.0, 704.0, "world")]]
    eng, _ = extract_real_pdf_text(hexed)
    orc, _ = extract_real_pdf(hexed.decode("latin-1"))
    assert eng == orc == "--- PAGE 1 ---\nHello\nworld"

    # (b) 'endobj' inside the (uncompressed) stream text
    tricky = write_minimal_pdf(["the endobj keyword mid-stream\nsecond line"])
    assert assemble_reading_order(tokenize_pdf_runs(tricky)) == [
        "the endobj keyword mid-stream\nsecond line"
    ]
    eng2, _ = extract_real_pdf_text(tricky)
    orc2, _ = extract_real_pdf(tricky.decode("latin-1"))
    assert eng2 == orc2
    assert "endobj keyword mid-stream" in eng2


def test_pdf_tokenizer_bails_on_unsupported_constructs():
    """The rung must return None (→ library fallback, error channel here)
    rather than produce wrong positions: SHEARED cm, SHEARED Tm,
    indirect /Length. (TL/T*/quote-show leading advance became SUPPORTED
    in round 5 — test_pdf_leading_advance_semantics; orthogonal-column
    cm transforms AND Tm linear parts became SUPPORTED in round 7 —
    tests/test_ctm_pages.py, tests/test_tm_matrix.py; a scale cm is
    pinned here as the in-scope control.)"""
    import pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.operators.pdftext import tokenize_pdf_runs

    base = write_minimal_pdf(["line one\nline two"])
    # r7: a plain scale cm is in scope now — positions transform
    supported = base.replace(b"BT\n/F1 12 Tf", b"2 0 0 2 0 0 cm\nBT\n/F1 12 Tf")
    assert supported != base
    got = tokenize_pdf_runs(supported)
    assert got is not None and got[0][0][:2] == (144.0, 1440.0)
    mutations = [
        (b"BT\n/F1 12 Tf", b"2 1 0 2 0 0 cm\nBT\n/F1 12 Tf"),  # sheared cm
        (b"72 720 Td", b"1 0 0.5 1 72 720 Tm"),          # sheared Tm
    ]
    for old, new in mutations:
        mutated = base.replace(old, new)
        assert mutated != base, old
        assert tokenize_pdf_runs(mutated) is None, old
        with pytest.raises(RuntimeError):  # no pdf libs in this sandbox
            extract_real_pdf_text(mutated)


def test_pdf_leading_advance_semantics():
    """Round 5: the TL/T*/quote-show idiom is modeled, with exact
    semantics agreed by BOTH twins: `16 TL T*` ≡ `0 -16 Td`; TD sets the
    leading; a quote-show with leading 0 lands on the SAME line (y
    unchanged) — weird but spec-correct, and identical on both sides."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import tokenize_pdf_runs
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    base = write_minimal_pdf(["line one\nline two"])

    def runs_of(data):
        got = tokenize_pdf_runs(data)
        assert got is not None
        return got[0]

    expect = runs_of(base)
    # TL + T* ≡ relative Td
    tl = base.replace(b"0 -16 Td", b"16 TL T*")
    assert runs_of(tl) == expect
    # TD sets the leading, a following quote-show advances by it
    td = base.replace(b"0 -16 Td\n(line two) Tj", b"0 -16 TD\n(line two) '")
    assert runs_of(td) == [(72.0, 720.0, "line one"), (72.0, 688.0, "line two")]
    # quote-show with leading 0: shows on the SAME baseline — both twins
    q0 = base.replace(b"0 -16 Td\n(line two) Tj", b"(line two) '")
    assert runs_of(q0) == [(72.0, 720.0, "line one"), (72.0, 720.0, "line two")]
    text, _ = extract_real_pdf(q0.decode("latin-1"))
    assert text == "--- PAGE 1 ---\nline one line two"
    # TL is text STATE: it does NOT split a merged run, and it survives BT
    import re as _re

    def fix_len(data: bytes) -> bytes:
        m = _re.search(rb"stream\n(.*?)\nendstream", data, _re.S)
        return _re.sub(rb"/Length \d+", b"/Length %d" % len(m.group(1)),
                       data, count=1)

    merged = base.replace(b"0 -16 Td\n(line two) Tj", b"16 TL (line two) Tj")
    assert runs_of(fix_len(merged)) == [(72.0, 720.0, "line oneline two")]
    bt = fix_len(base.replace(
        b"0 -16 Td\n(line two) Tj",
        b"ET\nBT\n16 TL\nET\nBT\n72 704 Td (x) '",
    ))
    assert runs_of(bt) == [(72.0, 720.0, "line one"), (72.0, 688.0, "x")]
    # indirect /Length: out of the direct-slice path; the endstream-search
    # fallback still parses this simple raw stream (never silently short)
    m = __import__("re").search(rb"/Length \d+", base)
    indirect = base[: m.start()] + b"/Length 99 0 R" + base[m.end():]
    got = tokenize_pdf_runs(indirect)
    assert got is None or [t for _, _, t in got[0]] == ["line one", "line two"]


def test_pdf_ruling_like_text_in_literal_string_is_kept():
    """Round-4 advice (medium): a pre-pass _SEG_RE.sub over raw content
    bytes deleted ruling-like substrings INSIDE literal strings. Rulings
    must be skipped by the scanner loop instead, so string text survives
    verbatim and engine ≡ oracle per turn."""
    import re as _re

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        tokenize_pdf_rulings, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    def swap_content(pdf_bytes: bytes, old: bytes, new: bytes) -> bytes:
        out = pdf_bytes.replace(old, new)
        assert out != pdf_bytes, old
        m = _re.search(rb"stream\n(.*?)\nendstream", out, _re.S)
        return _re.sub(rb"/Length \d+", b"/Length %d" % len(m.group(1)), out, count=1)

    base = write_minimal_pdf(["placeholder"])
    # text whose literal string CONTAINS a ruling-op lookalike, plus a REAL
    # ruling segment in the same stream (must still be skipped as geometry)
    mutated = swap_content(
        base,
        b"(placeholder) Tj",
        b"(move 10 20 m 30 40 l S done) Tj 100 700 m 200 700 l S 0 -16 Td (after) Tj",
    )
    runs = tokenize_pdf_runs(mutated)
    assert runs == [
        [(72.0, 720.0, "move 10 20 m 30 40 l S done"), (72.0, 704.0, "after")]
    ]
    # the genuine geometry is still visible to the lattice rung
    assert tokenize_pdf_rulings(mutated) == [[(100.0, 700.0, 200.0, 700.0)]]
    eng, _ = extract_real_pdf_text(mutated)
    orc, _ = extract_real_pdf(mutated.decode("latin-1"))
    assert eng == orc == "--- PAGE 1 ---\nmove 10 20 m 30 40 l S done\nafter"


def test_oracle_real_pdf_quote_show_matches_engine():
    """Round 5: quote-shows are SUPPORTED (leading-based advance) — the
    round-4 both-sides-bail contract became a both-sides-agree contract:
    with no TL set the leading is 0, so the quoted show lands on the SAME
    baseline on BOTH twins."""
    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    base = write_minimal_pdf(["line one\nline two"])
    mutated = base.replace(b"(line two) Tj", b"(line two) '")
    assert mutated != base
    runs = tokenize_pdf_runs(mutated)
    assert runs is not None
    eng = "\n".join(
        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + b.strip()
        for i, b in enumerate(assemble_reading_order(runs))
    ).strip()
    orc, _ = extract_real_pdf(mutated.decode("latin-1"))
    assert eng == orc


def test_round6_walk_parity_fixes():
    """Round-6 advice findings, all three agreed by BOTH twins:
    (a) a <hex> string consumed by a ' / " quote-show carries the line
    advance, as a literal string does;
    (b) several pending strings before a quote-show — earlier ones flush
    at the CURRENT origin, only the quote-adjacent operand moves;
    (c) a stale /Name (e.g. /GS0 left over from a gs op) never feeds a
    later operand-less Tf in a strict-font file — the Tf is ignored on
    both sides (engine regex adjacency ≡ oracle scanner), not raised."""
    import re as _re

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_differences_pdf, write_minimal_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    def fix_len(data: bytes) -> bytes:
        m = _re.search(rb"stream\n(.*?)\nendstream", data, _re.S)
        return _re.sub(rb"/Length \d+", b"/Length %d" % len(m.group(1)),
                       data, count=1)

    base = write_minimal_pdf(["line one\nline two"])

    # (a) hex + quote-show is the ONLY line advance
    hx = "line two".encode("latin-1").hex().encode("ascii")
    hexq = fix_len(base.replace(b"0 -16 Td\n(line two) Tj", b"<" + hx + b"> '"))
    eng, _ = extract_real_pdf_text(hexq)
    orc, _ = extract_real_pdf(hexq.decode("latin-1"))
    # positioned walk: leading 0 → same baseline → same visual line
    assert eng == orc == "--- PAGE 1 ---\nline one line two"

    # (b) two pending strings, nonzero leading: only the operand advances
    multi = fix_len(base.replace(b"(line two) Tj", b"16 TL (alpha) (beta) '"))
    eng, _ = extract_real_pdf_text(multi)
    orc, _ = extract_real_pdf(multi.decode("latin-1"))
    assert eng == orc == "--- PAGE 1 ---\nline one\nalpha\nbeta"

    # (c) strict-font file (declares /Differences): a stale name + an
    # operand-less Tf is IGNORED by both twins, never a bail/raise
    dpdf = write_differences_pdf(["claim text"])
    stale = fix_len(dpdf.replace(b") Tj", b") Tj /GS0 gs Tf", 1))
    assert stale != dpdf
    eng, _ = extract_real_pdf_text(stale)
    orc, _ = extract_real_pdf(stale.decode("latin-1"))
    assert eng == orc == "--- PAGE 1 ---\nclaim text"


def test_objstm_pdf_golden_no_optional_libs():
    """Round-4 (verdict item 3): PDF 1.5 object-stream files — catalog/page
    dicts packed in a Flate /ObjStm, binary xref stream with PNG Up
    predictor — extract dependency-free, bit-equal to the char-scanner
    oracle, including multi-page and uncompressed/unpredicted variants."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_minimal_pdf, write_objstm_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["Alpha line one\nBeta line two", "Second page\nWith two lines"]
    for predictor in (True, False):
        for compress in (True, False):
            data = write_objstm_pdf(pages, compress=compress, predictor=predictor)
            runs = tokenize_pdf_runs(data)
            assert runs is not None, (predictor, compress)
            assert assemble_reading_order(runs) == pages
            eng, eng_ocr = extract_real_pdf_text(data)
            orc, orc_ocr = extract_real_pdf(data.decode("latin-1"))
            assert eng == orc, (predictor, compress)
            assert eng_ocr is False and orc_ocr is False
    # the 1.5 file and the 1.4 file carrying the same text extract equally
    eng15, _ = extract_real_pdf_text(write_objstm_pdf(pages))
    eng14, _ = extract_real_pdf_text(write_minimal_pdf(pages))
    assert eng15 == eng14
    # reversed-order positioned items: reading-order sort stays load-bearing
    items = [
        ("text", 72, 720, "Claim C1"),
        ("text", 72, 704, "Body x"),
        ("text", 72, 664, "Total 1.00"),
    ][::-1]
    eng, _ = extract_real_pdf_text(write_objstm_pdf([items]))
    assert eng == "--- PAGE 1 ---\nClaim C1\nBody x\n\nTotal 1.00"


def test_objstm_corruption_falls_through_not_wrong():
    """A garbled ObjStm container (bad deflate bytes) must make the rung
    bail (None → library chain → error channel in-sandbox), never emit
    partial/wrong text."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_objstm_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import tokenize_pdf_runs

    data = write_objstm_pdf(["hello world\nsecond line"])
    # corrupt the ObjStm deflate payload (the last 'stream' before the xref)
    at = data.rfind(b"/ObjStm")
    s_at = data.find(b"stream", at) + len(b"stream\n")
    corrupted = data[:s_at] + bytes(16) + data[s_at + 16 :]
    assert tokenize_pdf_runs(corrupted) is None


def test_lattice_padded_rows_keep_columns_aligned(spark):
    """Review finding: a lattice row with an EMPTY cell must not shift its
    later columns — padded rows key cells by col_idx."""
    from pdf_extraction_ai_agent_spark.operators.texttables import (
        lattice_cells_to_padded_rows,
    )

    cells = spark.createDataFrame(
        [
            (1, 1, 0, 0, "Claim"), (1, 1, 0, 1, "Date"), (1, 1, 0, 2, "Paid"),
            # row 1 has NO Date cell
            (1, 1, 1, 0, "W-1"), (1, 1, 1, 2, "9.00"),
        ],
        "doc_id long, page int, row_idx int, col_idx int, cell_text string",
    )
    rows = {r.row_idx: r.cells for r in lattice_cells_to_padded_rows(cells).collect()}
    assert rows[0] == ["Claim", "Date", "Paid"]
    assert rows[1] == ["W-1", "", "9.00"]  # Paid stays in column 2


def test_minipdf_chaos_never_aborts():
    """Mutated/truncated PDF bytes must flow to the per-row error channel
    (or extract as best-effort), never abort the batch kernel."""
    import random

    import pandas as pd

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch

    rng = random.Random(4)
    base = write_minimal_pdf(["Claim# ABC-12345 filed", "page two"], compress=True)
    payloads = []
    for _ in range(40):
        b = bytearray(base)
        op = rng.randrange(3)
        if op == 0:  # truncate
            b = b[: rng.randrange(8, len(b))]
        elif op == 1:  # flip random bytes
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        else:  # splice garbage into the middle
            at = rng.randrange(len(b))
            b = b[:at] + bytes(rng.randrange(256) for _ in range(16)) + b[at:]
        payloads.append(bytes(b).decode("latin-1"))
    out = extract_turn_batch(
        pd.Series(payloads, dtype=object), pd.Series([""] * len(payloads))
    )
    assert len(out) == len(payloads)  # every row survived
    # mutated bytes that no longer start with %PDF- are plain text; the rest
    # either parse (best-effort) or land in the error channel — never a raise
    assert (out["extracted_text"].notna() | out["error"].notna()).all()


def test_real_pdf_golden_no_optional_libs(spark):
    """S2/S3 on REAL PDF bytes, fully in-sandbox (round-2 verdict item 5):
    a corpus with vendored minipdf payloads (raw + FlateDecode, Tj + TJ,
    multi-page) must extract identically in the vectorized engine and the
    independent char-scanner oracle — page markers, needs_ocr, spans —
    with no pdfplumber/fitz present (this image has neither)."""
    import pandas as pd

    from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts
    from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
    from pdf_extraction_ai_agent_spark.oracle import extract_turn_frame
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    pdf = generate_transcripts(n_convs=60, seed=7, skew=False, include_real_pdf=True)
    n_real = (pdf["text"].str.startswith("%PDF-1.")).sum()
    assert n_real >= 5  # the mix must actually exercise the new kind
    # rounds 5-6: the carrier mix must cover the whole tokenizer matrix —
    # classic xref, ObjStm/xref streams, RC4 + AESV2 encryption, CID fonts,
    # /Differences remaps, tagged structure trees and Type3 fonts
    texts = pdf["text"]
    for token in (
        "/ObjStm", "/Encrypt", "/AESV2", "/Type0", "/Differences",
        "/StructTreeRoot", "/Type3",
    ):
        assert texts.str.contains(token, regex=False).any(), token

    got = (
        extract_pipeline(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA))
        .select("conv_id", "turn_pos", "extracted_text", "needs_ocr", "payload_kind")
        .toPandas()
        .set_index(["conv_id", "turn_pos"])
        .sort_index()
    )
    exp = extract_turn_frame(pdf)
    exp = exp.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
    exp["turn_pos"] = exp.groupby("conv_id").cumcount() + 1
    exp = exp.set_index(["conv_id", "turn_pos"]).sort_index()
    assert len(got) == len(exp)
    assert (exp["payload_kind"] == got["payload_kind"]).all()
    assert (exp["payload_kind"] == "pdf_real").sum() >= 5
    neq = exp["extracted_text"].compare(got["extracted_text"])
    assert neq.empty, f"{len(neq)} real-pdf turns mismatch; first:\n{neq.head(1)}"
    assert (exp["needs_ocr"] == got["needs_ocr"]).all()
    # page markers present on a multi-page real-pdf turn
    multi = exp[(exp["payload_kind"] == "pdf_real")
                & exp["extracted_text"].str.contains("--- PAGE 2 ---")]
    assert len(multi) >= 1
    assert not pd.isna(multi.iloc[0]["extracted_text"])


def test_real_pdf_dispatch_error_channel():
    """'%PDF-1.x' payloads route to the library chain; with no pdfplumber /
    fitz in this image the row lands in the error channel (job survives),
    and the payload kind is distinct from the pseudo-PDF grammar."""
    from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch

    out = extract_turn_batch(
        pd.Series(["%PDF-1.7\n…binary…", "plain text row"]),
        pd.Series(["pdf_upload", "chat"]),
    )
    assert out["payload_kind"].tolist() == ["pdf_real", "plain"]
    assert out["extracted_text"].tolist() == ["", "plain text row"]
    assert "pdfplumber" in out["error"][0]
    assert pd.isna(out["error"][1])  # None/NaN both land as SQL null via Arrow


def test_excel_source_error_channel_and_fuzz(spark):
    """Corrupt workbooks land in the error channel (one row per bad file,
    task survives); random content — entities, unicode, sparse widths —
    round-trips exactly through the Spark source."""
    import random

    rng = random.Random(99)
    # hostile alphabet: XML entities, attribute-breaking quotes, XML-invalid
    # control chars (writer strips these — see esc()), unicode
    alphabet = "ab &<>'\"/\\:*?[]𝄞é—\t\x00\x07\x1b"
    ctrl = __import__("re").compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
    name_alphabet = "Sx &<>'\"é\x00\x07"
    sheets = []
    for si in range(4):
        rows = [
            ["".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 12)))
             for _ in range(rng.randrange(1, 6))]
            for _ in range(rng.randrange(0, 5))
        ]
        # fuzzed sheet names too (quotes sit inside a double-quoted XML
        # attribute — the round-2 advice hole); prefix keeps them unique
        sheets.append((f"S{si}" + "".join(rng.choice(name_alphabet) for _ in range(6)), rows))
    good = write_minimal_xlsx(sheets)
    wb = spark.createDataFrame(
        [("good.xlsx", bytearray(good)),
         ("trunc.xlsx", bytearray(good[: len(good) // 2])),
         ("junk.xlsx", bytearray(b"not a zip at all"))],
        "file_name string, content binary",
    )
    out = excel_sheet_rows(wb).collect()
    bad = {r.file_name: r for r in out if r.error is not None}
    assert set(bad) == {"trunc.xlsx", "junk.xlsx"}
    assert all(r.cells is None for r in bad.values())
    got: dict = {}
    for r in out:
        if r.error is None:
            got.setdefault(r.sheet_name, []).append((r.row_pos, list(r.cells)))
    # XML-invalid control chars are stripped by the writer (cannot be
    # represented in a well-formed workbook); everything else round-trips
    # exactly. Sheet names additionally pass through sanitize_sheet_name.
    from pdf_extraction_ai_agent_spark.sources.excel import sanitize_sheet_name

    expected = {
        ctrl.sub("", sanitize_sheet_name(n)): [
            (i, [ctrl.sub("", c) for c in row]) for i, row in enumerate(rows)
        ]
        for n, rows in sheets
        if rows
    }
    assert {k: sorted(v) for k, v in got.items()} == expected


def test_sheet_name_sanitize_and_elapsed_format():
    from pdf_extraction_ai_agent_spark.sources.excel import (
        format_elapsed, sanitize_sheet_name,
    )

    assert sanitize_sheet_name("AUTO") == "AUTO"
    assert sanitize_sheet_name("a/b[c]:d*e?f\\g") == "a_b_c__d_e_f_g"
    assert len(sanitize_sheet_name("x" * 50)) == 31
    assert sanitize_sheet_name("") == "Sheet1"
    # sanitized names survive the write path
    b = write_minimal_xlsx([("bad/name:here", [["v"]])])
    assert read_xlsx_bytes(b)[0][0] == "bad_name_here"

    assert format_elapsed(12.345) == "12.35 seconds"
    assert format_elapsed(125.06) == "2 minutes 5.1 seconds"
    assert format_elapsed(3725.0) == "1 hours 2 minutes 5.0 seconds"


def test_pdf_page_render_dispatch(monkeypatch):
    """S7 render: absent fitz, 'real' raises naming PyMuPDF and 'auto'
    falls back to the fixture rung, whose refusal names it too; with a
    fake fitz the per-page PNGs come from PyMuPDF's pixmaps."""
    import sys
    import types

    import pytest

    from pdf_extraction_ai_agent_spark.operators.multimodal import render_pdf_pages

    for impl in ("real", "auto"):
        with pytest.raises(RuntimeError, match="PyMuPDF"):
            render_pdf_pages(b"%PDF-1.4 payload", impl=impl)

    class _Pix:
        def __init__(self, i):
            self._i = i

        def tobytes(self, fmt):
            return b"PNG" + bytes([self._i])

    class _Page:
        def __init__(self, i):
            self._i = i

        def get_pixmap(self, dpi):
            return _Pix(self._i)

    class _Doc:
        page_count = 2

        def __getitem__(self, i):
            return _Page(i)

    fake = types.ModuleType("fitz")
    fake.open = lambda stream=None, filetype=None: _Doc()
    monkeypatch.setitem(sys.modules, "fitz", fake)
    pages = render_pdf_pages(b"%PDF-1.4 x")
    assert pages == [(1, b"PNG\x00"), (2, b"PNG\x01")]


def test_kernel_ocr_real_without_stack():
    """With ocr='real' and the OCR stack absent (as here), the flagged row
    carries an error naming the missing stack and keeps its text-layer
    text; the unflagged row is untouched — never a job abort."""
    import pandas as pd

    from pdf_extraction_ai_agent_spark.fixtures.scanned import write_scanned_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch

    scan = write_scanned_pdf([["CLAIM C7"]]).decode("latin-1")
    text = pd.Series([scan, "hello"])
    tool = pd.Series([None, None])
    base = extract_turn_batch(text, tool)
    real = extract_turn_batch(text, tool, ocr="real")
    assert bool(real.at[0, "needs_ocr"])
    assert "pytesseract" in real.at[0, "error"]
    assert real.at[0, "extracted_text"] == base.at[0, "extracted_text"] == "--- PAGE 1 ---"
    assert real.loc[1].to_dict() == base.loc[1].to_dict()


def test_chaos_fuzzed_payloads_never_abort():
    """ROADMAP 9 — chaos fixture: organically-fuzzed payloads (random
    bytes-ish text, broken markers, pathological whitespace, deep nesting,
    NULs) must flow through the kernel without an exception; only rows the
    branch genuinely can't handle carry an error, everything else gets a
    well-formed result row."""
    import random

    from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch

    rng = random.Random(1234)
    alphabet = "abc $%()\\\n\t\x00<>&-/:#." + "BT ET Td Tj %%PAGE %PDF-SIM 1.0"
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 400)))
        for _ in range(300)
    ]
    fuzz += [
        "%PDF-SIM 1.0\n%%PAGE \nBT x y Td (t) Tj ET",   # broken page marker
        "%PDF-SIM 1.0\nBT 1 2 Td (a) Tj ET",            # runs before any page
        "%PDF-SIM 1.0\n%%PAGE 99999999999999999999",    # huge page number
        "<html>" + "<a href='x'>" * 500 + "</html>",     # link bomb
        "<html>\n" + "\x00" * 100 + "\n</html>",
        "a" * 200_000,                                    # megarow
        "\n" * 5_000,                                     # blank-line bomb
        None,
    ]
    tools = pd.Series(["chat"] * len(fuzz))
    out = extract_turn_batch(pd.Series(fuzz, dtype=object), tools)
    assert len(out) == len(fuzz)
    assert out["extracted_text"].map(lambda v: isinstance(v, str)).all()
    assert out["payload_kind"].isin(["pdf", "pdf_real", "html", "plain"]).all()
    # the error channel is the ONLY place failures may appear
    errs = out["error"].dropna()
    for e in errs:
        assert isinstance(e, str) and len(e) <= 500


def test_real_pdf_dispatch_uses_fitz_when_present(monkeypatch):
    """With a (fake) PyMuPDF importable, the dispatch extracts page-marked
    text and applies the <40-char OCR trigger — the integration path the
    sandbox can't exercise with the real library."""

    class _FakePage:
        def __init__(self, txt):
            self._t = txt

        def get_text(self):
            return self._t

    class _FakeDoc:
        def __init__(self, pages):
            self._p = [_FakePage(t) for t in pages]
            self.page_count = len(pages)

        def __getitem__(self, i):
            return self._p[i]

    fake = types.ModuleType("fitz")
    fake.open = lambda stream=None, filetype=None: _FakeDoc(
        ["Claim# ABC-12345 filed on behalf of the insured party.", "short"]
    )
    monkeypatch.setitem(sys.modules, "fitz", fake)

    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text

    text, needs_ocr = extract_real_pdf_text("%PDF-1.7 whatever")
    assert text == (
        "--- PAGE 1 ---\nClaim# ABC-12345 filed on behalf of the insured party."
        "\n--- PAGE 2 ---\nshort"
    )
    assert needs_ocr is False  # ≥40 stripped chars → no OCR trigger


def test_executed_ocr_differential_when_deps_present():
    """Round-4 (verdict item 8): on a cluster image WITH the OCR stack
    (PyMuPDF + pytesseract + PIL + the tesseract binary), run the REAL
    rasterize→tesseract chain on a vendored minipdf and check it recovers
    the words the text layer carries. In this sandbox the stack is absent
    and the test SKIPS with the missing dependency named — it can never
    pass vacuously, because reaching the assertions requires the real
    chain to have executed. The IN-SANDBOX executed differential (r7) is
    tests/test_ocr_executed.py::test_executed_ocr_differential — always
    runs, no deps — plus the oracle-gated q69 query; this one stays for
    the tesseract chain itself."""
    import pytest

    pytest.importorskip("fitz", reason="PyMuPDF not installed (sandbox image)")
    pytesseract = pytest.importorskip(
        "pytesseract", reason="pytesseract not installed (sandbox image)"
    )
    pytest.importorskip("PIL", reason="Pillow not installed (sandbox image)")
    try:
        pytesseract.get_tesseract_version()
    except Exception:
        pytest.skip("tesseract binary absent")

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.operators.ocr import ocr_payload_real

    data = write_minimal_pdf(["HELLO OCR WORLD"])
    layer_text, _ = extract_real_pdf_text(data)
    assert "HELLO OCR WORLD" in layer_text

    ocr_words = set("".join(
        c if c.isalnum() else " " for c in ocr_payload_real(data).upper()
    ).split())
    # differential: OCR of the rendered page recovers the text layer's
    # words (allow one OCR miss — tesseract on synthetic Helvetica)
    assert len({"HELLO", "OCR", "WORLD"} & ocr_words) >= 2, ocr_words


def test_encrypted_pdf_golden_no_optional_libs():
    """RC4-encrypted PDFs (standard handler V1/R2, empty user password —
    the ubiquitous owner-locked shape): the dependency-free rung derives
    the key from /O //P //ID, verifies /U, decrypts each stream under its
    per-object key, and stays bit-equal to the independent oracle twin.
    Files with a REAL user password make both twins refuse (engine: bail
    to the library chain; oracle: raise) — never silently-wrong output."""
    import pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_encrypted_pdf, write_minimal_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import extract_real_pdf_text
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["Encrypted alpha\nline two", "Second page\nmore text"]
    for owner, revision in ((b"", 2), (b"owner-secret", 2), (b"", 3), (b"owner-secret", 3)):
        data = write_encrypted_pdf(pages, owner_pwd=owner, revision=revision)
        runs = tokenize_pdf_runs(data)
        assert runs is not None and assemble_reading_order(runs) == pages
        eng, eng_ocr = extract_real_pdf_text(data)
        orc, orc_ocr = extract_real_pdf(data.decode("latin-1"))
        assert eng == orc and eng_ocr is False and orc_ocr is False
        # encrypted and plaintext carriers extract identically
        plain, _ = extract_real_pdf_text(write_minimal_pdf(pages))
        assert eng == plain

    locked = write_encrypted_pdf(pages, user_pwd=b"userpw")
    assert tokenize_pdf_runs(locked) is None
    with pytest.raises(RuntimeError):
        extract_real_pdf_text(locked)  # library chain absent in sandbox
    with pytest.raises(RuntimeError):
        extract_real_pdf(locked.decode("latin-1"))


def test_plaintext_pdf_with_encrypt_tokens_in_text():
    """ADVICE r4 parity fix: a PLAINTEXT classic-xref PDF whose document
    text happens to contain the literals '/Encrypt' and '/XRef' must
    extract identically in engine and oracle — neither side may bail to
    the encrypted-xref-stream error just because the two tokens co-occur
    somewhere in the file bytes (they must appear within one object body
    to mean an encrypted layout)."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["see /Encrypt spec", "and the /XRef chapter"]
    data = write_minimal_pdf(pages, compress=False)
    assert assemble_reading_order(tokenize_pdf_runs(data)) == pages
    text, _ocr = extract_real_pdf(data.decode("latin-1"))
    assert "/Encrypt spec" in text and "/XRef chapter" in text


def test_cid_pdf_property_roundtrip():
    """Property: for ANY latin-1 page text, the CID-font writer →
    tokenizer is the identity per page across compression / TJ-array /
    bfrange-array variants, and the independent oracle char-scanner (own
    CMap parser) agrees with the engine."""
    from hypothesis import given, settings, strategies as st

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_cid_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    line = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF),
        max_size=40,
    )
    page = st.lists(line, min_size=1, max_size=5).map("\n".join)

    @settings(max_examples=80, deadline=None)
    @given(
        pages=st.lists(page, min_size=1, max_size=3),
        compress=st.booleans(),
        tj=st.booleans(),
        arr=st.booleans(),
    )
    def check(pages, compress, tj, arr):
        data = write_cid_pdf(
            pages, compress=compress, tj_arrays=tj, array_ranges=arr
        )
        assert assemble_reading_order(tokenize_pdf_runs(data)) == pages
        text, _ocr = extract_real_pdf(data.decode("latin-1"))
        expected = "\n".join(
            spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
            for i, p in enumerate(pages)
        ).strip()
        assert text == expected

    check()


def test_cid_pdf_corruption_falls_through():
    """Every unmodeled/corrupt CID configuration must BAIL (None → library
    chain), never extract wrong text: truncated CMap, CID code missing
    from the map, Type0 without ToUnicode, non-Identity-H encoding, and
    an unresolvable Tf name in a file that declares a Type0 font."""
    import re as _re

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_cid_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order,
        tokenize_pdf_runs,
    )

    pages = ["claim text here\nsecond line"]
    good = write_cid_pdf(pages)
    assert assemble_reading_order(tokenize_pdf_runs(good)) == pages

    # (a) truncate the bfchar/bfrange table inside the CMap stream
    cut = good.replace(b"endbfchar", b"endbfXXXX").replace(
        b"endbfrange", b"endbfXXXX"
    )
    assert tokenize_pdf_runs(cut) is None

    # (b) a shown CID with no CMap entry: bump one code beyond the map
    m = _re.search(rb"<([0-9A-Fa-f]{4})([0-9A-Fa-f]{4})", good)
    assert m
    missing = good[: m.start(1)] + b"FFFE" + good[m.end(1):]
    assert tokenize_pdf_runs(missing) is None

    # (c) Type0 without ToUnicode
    no_tu = good.replace(b"/ToUnicode 5 0 R", b"/ToUnicodX 5 0 R")
    assert tokenize_pdf_runs(no_tu) is None

    # (d) non-Identity-H encoding
    enc = good.replace(b"/Encoding /Identity-H", b"/Encoding /UniGB-UCS2-H")
    assert tokenize_pdf_runs(enc) is None

    # (e) Tf naming an unresolvable font while the file declares Type0
    tf = good.replace(b"/F1 12 Tf", b"/F9 12 Tf")
    assert tokenize_pdf_runs(tf) is None

    # (f) simple-font files are untouched by the same rename (no Type0)
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf

    simple = write_minimal_pdf(pages).replace(b"/F1 12 Tf", b"/F9 12 Tf")
    assert assemble_reading_order(tokenize_pdf_runs(simple)) == pages


def test_aes_encrypted_pdf_roundtrip_and_bails():
    """V4/R4 AESV2 (AES-128-CBC, /StdCF crypt filter): engine and oracle
    decrypt identically; wrong user password, corrupted ciphertext,
    truncated payloads and unmodeled V4 configurations all BAIL (engine
    None / oracle raise), never extract wrong text."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_encrypted_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["aes secret claim text\nline two", "page 2 body"]
    data = write_encrypted_pdf(pages, owner_pwd=b"owner-x", revision=4)
    assert assemble_reading_order(tokenize_pdf_runs(data)) == pages
    expected = "\n".join(
        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
        for i, p in enumerate(pages)
    ).strip()
    assert extract_real_pdf(data.decode("latin-1"))[0] == expected

    # wrong (non-empty) user password → /U check fails on both sides
    locked = write_encrypted_pdf(pages, user_pwd=b"secret", revision=4)
    assert tokenize_pdf_runs(locked) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(locked.decode("latin-1"))

    # corrupted ciphertext: flip the LAST payload byte — the final CBC
    # block garbles, the PKCS#7 padding check fails, both sides bail.
    # (A mid-stream flip garbles one 16-byte block with no integrity
    # check — the PDF encryption model has none — same class as RC4.)
    s_at = data.find(b"stream\n") + len(b"stream\n")
    at = s_at + 95  # /Length 96 payload
    corrupt = data[:at] + bytes([data[at] ^ 0xFF]) + data[at + 1:]
    assert tokenize_pdf_runs(corrupt) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(corrupt.decode("latin-1"))

    # unmodeled V4 crypt filter must bail, not decrypt garbage
    v4r = data.replace(b"/CFM /AESV2", b"/CFM /AESV3")
    assert tokenize_pdf_runs(v4r) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(v4r.decode("latin-1"))


def test_differences_pdf_property_roundtrip():
    """Property: simple-font /Differences byte remaps — writer → tokenizer
    is the identity per page (named chars travel as high codes, unnamed
    keep latin-1), and the independent oracle agrees, across inline/ref
    encoding dicts and Flate compression."""
    from hypothesis import given, settings, strategies as st

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_differences_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    line = st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0xFF),
        max_size=30,
    )
    page = st.lists(line, min_size=1, max_size=4).map("\n".join)

    @settings(max_examples=60, deadline=None)
    @given(
        pages=st.lists(page, min_size=1, max_size=2),
        compress=st.booleans(),
        ref=st.booleans(),
    )
    def check(pages, compress, ref):
        data = write_differences_pdf(pages, compress=compress, encoding_ref=ref)
        assert assemble_reading_order(tokenize_pdf_runs(data)) == pages
        text, _ocr = extract_real_pdf(data.decode("latin-1"))
        expected = "\n".join(
            spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
            for i, p in enumerate(pages)
        ).strip()
        assert text == expected

    check()


def test_differences_pdf_unknown_glyph_bails():
    """An unknown glyph name in /Differences must BAIL on both sides —
    decoding around it would silently drop/mangle remapped text."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_differences_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["claim text alpha"]
    good = write_differences_pdf(pages)
    assert assemble_reading_order(tokenize_pdf_runs(good)) == pages
    # swap one known glyph name for a subset-glyph name of equal length
    assert b"/a " in good
    bad = good.replace(b"/a ", b"/g7 ", 1)
    assert tokenize_pdf_runs(bad) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(bad.decode("latin-1"))


def test_aes256_encrypted_pdf_roundtrip_and_bails():
    """V5/R6 AES-256 (AESV3): Algorithm 2.B validates the empty user
    password, /UE unwraps the file key, streams decrypt under it. Wrong
    user password, corrupted padding and unmodeled V5 filters bail on
    both twins."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_encrypted_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["aes-256 claim body\nline two", "page 2 body"]
    data = write_encrypted_pdf(pages, owner_pwd=b"owner-z", revision=6)
    assert assemble_reading_order(tokenize_pdf_runs(data)) == pages
    expected = "\n".join(
        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
        for i, p in enumerate(pages)
    ).strip()
    assert extract_real_pdf(data.decode("latin-1"))[0] == expected

    locked = write_encrypted_pdf(pages, user_pwd=b"secret", revision=6)
    assert tokenize_pdf_runs(locked) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(locked.decode("latin-1"))

    # padding-breaking ciphertext corruption: flip the last payload byte
    s_at = data.find(b"stream\n") + len(b"stream\n")
    import re as _re

    ln = int(_re.search(rb"/Length (\d+)", data).group(1))
    at = s_at + ln - 1
    corrupt = data[:at] + bytes([data[at] ^ 0xFF]) + data[at + 1:]
    assert tokenize_pdf_runs(corrupt) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(corrupt.decode("latin-1"))

    # unmodeled V5 crypt filter bails, never decrypts garbage
    v5x = data.replace(b"/CFM /AESV3", b"/CFM /AESV4")
    assert tokenize_pdf_runs(v5x) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(v5x.decode("latin-1"))


def test_base_encoded_pdf_parity_matrix():
    """Round-6 simple-font encodings (reference reads these via
    pdfplumber/fitz, src/claim_extractor/extract_text.py:27-36): a named
    Annex D /Encoding (WinAnsi / MacRoman / Standard) decodes through the
    spec table on BOTH twins, across /Differences overlays, indirect
    encoding objects and Flate compression."""
    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_base_encoded_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    texts = {
        # non-ASCII where the base tables DIFFER from latin-1
        "WinAnsiEncoding": [
            "Quote “curly” — naïve é claim total 125.00",
            "euro € dagger † registered ® multiply ×",
        ],
        "MacRomanEncoding": [
            "Quote “curly” — naïve é claim total 125.00",
            "bullet • pi π infinity ∞ trademark ™",
        ],
        # Standard models only the low half (0x27/0x60 are the curly pair)
        "StandardEncoding": [
            "plain claim text with a longer body line",
            "right ’ and left ‘ quotes around words",
        ],
    }
    for enc, pages in texts.items():
        for differences in (False, True):
            for indirect in (False, True):
                for compress in (False, True):
                    data = write_base_encoded_pdf(
                        pages,
                        encoding=enc,
                        differences=differences,
                        indirect=indirect,
                        compress=compress,
                    )
                    got = assemble_reading_order(tokenize_pdf_runs(data))
                    assert got == pages, (enc, differences, indirect, compress)
                    text, ocr = extract_real_pdf(data.decode("latin-1"))
                    expected = "\n".join(
                        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
                        for i, p in enumerate(pages)
                    ).strip()
                    assert text == expected
                    assert ocr is False


def test_subset_font_pdf_cmap_is_authoritative():
    """Subset fonts (/Differences naming g3, g5, … with a private code
    assignment): only the font's own 1-byte /ToUnicode CMap carries the
    text — both twins must read through it, under stream and CMap
    compression."""
    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_subset_font_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["Claim C7\nBody “quoted” — naïve\nTotal 12.00"]
    for compress in (False, True):
        for cmap_compress in (False, True):
            data = write_subset_font_pdf(
                pages, compress=compress, cmap_compress=cmap_compress
            )
            got = assemble_reading_order(tokenize_pdf_runs(data))
            assert got == pages, (compress, cmap_compress)
            text, _ = extract_real_pdf(data.decode("latin-1"))
            expected = "\n".join(
                spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + p.strip()
                for i, p in enumerate(pages)
            ).strip()
            assert text == expected


def test_base_encoding_bails_never_guess():
    """Wrong text must never beat no text: unmodeled encoding names, the
    cp1252 holes, and a corrupted subset CMap all BAIL on both twins —
    and a WinAnsi 0x80–0x9F byte is never read as latin-1."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_base_encoded_pdf, write_subset_font_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    good = write_base_encoded_pdf(["claim “text”"], encoding="WinAnsiEncoding")
    assert assemble_reading_order(tokenize_pdf_runs(good)) == ["claim “text”"]

    # the 0x93 byte in the content IS the curly quote — never U+0093
    pages = assemble_reading_order(tokenize_pdf_runs(good))
    assert "\x93" not in pages[0]

    # unmodeled base-encoding name bails at the tokenizer rung
    bad_name = good.replace(b"/WinAnsiEncoding", b"/PDFDocEncodingX")
    assert tokenize_pdf_runs(bad_name) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(bad_name.decode("latin-1"))

    # a cp1252 hole byte (0x81) is UNDEFINED under WinAnsi: bail
    s_at = good.find(b"claim \x93text\x94")
    assert s_at > 0
    hole = good[:s_at] + b"\x81" + good[s_at + 1:]
    assert tokenize_pdf_runs(hole) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(hole.decode("latin-1"))

    # corrupting the subset CMap must bail, not fall back to garbage
    sub = write_subset_font_pdf(["alpha beta"])
    broken = sub.replace(b"beginbfchar", b"beginbfchaX", 1)
    assert tokenize_pdf_runs(broken) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(broken.decode("latin-1"))


def test_user_password_book_opens_and_bails():
    """Non-empty USER passwords (round 6): a file protected with a
    password from spec.KNOWN_USER_PASSWORDS opens on both twins across
    R2/R3/R4 (Algorithm 4/5) and R6 (Algorithm 2.B); a password outside
    the book bails on both — never garbage."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_encrypted_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    pages = ["Claim body line long enough to clear the OCR threshold 125.00"]
    for rev in (2, 3, 4):
        for pw in (b"",) + tuple(spec.KNOWN_USER_PASSWORDS):
            data = write_encrypted_pdf(
                pages, owner_pwd=b"own", user_pwd=pw, revision=rev
            )
            got = assemble_reading_order(
                tokenize_pdf_runs(data, passwords=spec.KNOWN_USER_PASSWORDS)
            )
            assert got == pages, (rev, pw)
            text, _ = extract_real_pdf(data.decode("latin-1"))
            assert pages[0] in text
        bad = write_encrypted_pdf(
            pages, user_pwd=b"not-in-the-book", revision=rev
        )
        assert tokenize_pdf_runs(bad, passwords=spec.KNOWN_USER_PASSWORDS) is None
        with _pytest.raises(RuntimeError):
            extract_real_pdf(bad.decode("latin-1"))

    # R6 AES-256 under a book password (Algorithm 2.B is slow by design —
    # one roundtrip + one wrong-password bail)
    pw = spec.KNOWN_USER_PASSWORDS[0]
    data = write_encrypted_pdf(pages, owner_pwd=b"own6", user_pwd=pw, revision=6)
    assert assemble_reading_order(
        tokenize_pdf_runs(data, passwords=spec.KNOWN_USER_PASSWORDS)
    ) == pages
    text, _ = extract_real_pdf(data.decode("latin-1"))
    assert pages[0] in text
    bad = write_encrypted_pdf(pages, user_pwd=b"wrong-r6-pass", revision=6)
    assert tokenize_pdf_runs(bad, passwords=spec.KNOWN_USER_PASSWORDS) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(bad.decode("latin-1"))


def test_filtered_pdf_parity_matrix():
    """Round-6 classic stream filters (reference reads these via
    pdfplumber/pypdf, src/claim_extractor/extract_text.py:39-66; old
    loss-run PDFs carry LZW/ASCIIHex/ASCII85 routinely): every q61 filter
    chain decodes identically on BOTH twins — writer encoders, engine
    dict-table/rolling-accumulator decoders, oracle list-table/big-int
    decoders are three independent implementations."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_filtered_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order, tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    chains = (
        ["LZWDecode"],
        ["ASCIIHexDecode"],
        ["ASCII85Decode"],
        ["ASCII85Decode", "FlateDecode"],
        ["ASCIIHexDecode", "LZWDecode"],
        ["LZWDecode", "FlateDecode"],
        ["ASCII85Decode", "ASCIIHexDecode", "FlateDecode"],
    )
    pages_sets = (
        ["Claim C1\nBody with a repetitive run " + "ab" * 40 + "\nTotal 7.00"],
        ["zero-ish run\n" + "line two with spaces   kept", "page two text here"],
    )
    for chain in chains:
        for pages in pages_sets:
            data = write_filtered_pdf(pages, chain)
            assert assemble_reading_order(tokenize_pdf_runs(data)) == pages, chain
            etext, eocr = extract_real_pdf_text(data)
            otext, oocr = extract_real_pdf(data.decode("latin-1"))
            assert (etext, eocr) == (otext, oocr), chain
            assert pages[0].splitlines()[0] in etext


def test_filter_codec_roundtrip_properties():
    """Writer-encode → engine-decode == oracle-decode == original, for
    each classic codec over adversarial blobs: empty, odd length, all-zero
    groups (ASCII85 'z'), high repetition (LZW table growth through the
    9→10→11→12-bit widenings and a mid-stream clear)."""
    import random

    from pdf_extraction_ai_agent_spark.fixtures import minipdf
    from pdf_extraction_ai_agent_spark.operators import pdftext
    from pdf_extraction_ai_agent_spark.oracle import reference_extractor as ref

    rng = random.Random(61)
    blobs = [
        b"",
        b"\x00",
        b"abc",
        bytes(16),                      # ASCII85 'z' groups
        bytes(10) + b"x" + bytes(9),    # zeros straddling group bounds
        bytes(rng.randrange(256) for _ in range(257)),   # odd length
        bytes(rng.choice(b"abcd\x00\xff") for _ in range(30000)),  # LZW clear
        bytes(rng.randrange(256) for _ in range(4096)),
    ]
    for blob in blobs:
        hx = minipdf.asciihex_encode(blob)
        assert pdftext._asciihex_decode(hx) == blob
        assert ref._oracle_asciihex(hx) == blob
        a85 = minipdf.ascii85_encode(blob)
        assert pdftext._ascii85_decode(a85) == blob
        assert ref._oracle_ascii85(a85) == blob
        lzw = minipdf.lzw_encode(blob)
        assert pdftext._lzw_decode(lzw) == blob
        assert ref._oracle_lzw(lzw) == blob


def test_filtered_pdf_corruption_falls_through():
    """Wrong bytes must never beat no bytes: malformed classic-filter
    payloads make the engine decoder return None (rung bails to the
    library chain) and the oracle raise — never emit garbled text."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures import minipdf
    from pdf_extraction_ai_agent_spark.operators import pdftext
    from pdf_extraction_ai_agent_spark.oracle import reference_extractor as ref

    # codec-level malformed payloads
    bad_hex = b"48656C6Cq6F>"                  # non-hex byte
    assert pdftext._asciihex_decode(bad_hex) is None
    with _pytest.raises(RuntimeError):
        ref._oracle_asciihex(bad_hex)
    for bad85 in (b"ab z cd~>",                # 'z' inside a group
                  b"uuuuu~>",                  # group overflow (> 2^32-1)
                  b"!!!!!a~>"):                # 1-char final group
        assert pdftext._ascii85_decode(bad85) is None
        with _pytest.raises(RuntimeError):
            ref._oracle_ascii85(bad85)
    good_lzw = minipdf.lzw_encode(b"claim body text 125.00")
    truncated = good_lzw[:-3]                  # EOD never seen
    assert pdftext._lzw_decode(truncated) is None
    with _pytest.raises(RuntimeError):
        ref._oracle_lzw(truncated)
    # code beyond the table: after the initial Clear (256) the very next
    # code may only be a literal — craft 9-bit [256, 300, 257]
    bits = (256 << 18) | (300 << 9) | 257
    beyond = bits.to_bytes(4, "big")  # 27 bits → pad to 32
    beyond = ((bits << 5).to_bytes(4, "big"))
    assert pdftext._lzw_decode(beyond) is None
    with _pytest.raises(RuntimeError):
        ref._oracle_lzw(beyond)

    # full-PDF truncation: zero the tail of the LZW stream (valid literal
    # codes, but EOD never arrives) — engine rung bails, oracle raises
    pages = ["Claim body long enough to clear the OCR threshold 125.00"]
    data = minipdf.write_filtered_pdf(pages, ["LZWDecode"])
    s_at = data.find(b"stream\n", data.find(b"/LZWDecode")) + len(b"stream\n")
    e_at = data.find(b"\nendstream", s_at)
    corrupted = data[:s_at] + data[s_at : e_at - 8] + bytes(8) + data[e_at:]
    assert pdftext.tokenize_pdf_runs(corrupted) is None
    with _pytest.raises(RuntimeError):
        ref.extract_real_pdf(corrupted.decode("latin-1"))


def test_inline_image_pdf_invisible_to_all_walks():
    """Inline images (BI…ID…EI): adversarial binary — phantom '(…) Tj'
    shows, BT blocks, 'm … l S' ruling decoys — must be invisible to the
    positioned walk AND the rulings walk, on both twins,
    compressed or not; and a 'BI ID EI' SHOWN INSIDE a literal string is
    text, not an image."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        assemble_reading_order,
        tokenize_pdf_rulings,
        tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    decoy = (b"\x89IMG(fake) Tj BT 1 2 Td (evil) Tj ET "
             b"0 0 m 99 99 l S \xff\xfe\x00tail")
    for compress in (False, True):
        items = [
            ("image", decoy),
            ("text", 72, 720, "Real claim line one goes here"),
            ("image", b"(second) Tj 7 7 m 8 8 l S decoy"),
            ("text", 72, 704, "the BI ID EI letters inside text"),
            ("line", 50, 50, 550, 50),
            ("image", decoy),
        ]
        pdf = write_minimal_pdf([items], compress=compress)
        assert assemble_reading_order(tokenize_pdf_runs(pdf)) == [
            "Real claim line one goes here\nthe BI ID EI letters inside text"
        ]
        runs = tokenize_pdf_runs(pdf)
        assert [r[2] for r in runs[0]] == [
            "Real claim line one goes here",
            "the BI ID EI letters inside text",
        ]
        assert tokenize_pdf_rulings(pdf) == [[(50.0, 50.0, 550.0, 50.0)]]
        etext, eocr = extract_real_pdf_text(pdf)
        otext, oocr = extract_real_pdf(pdf.decode("latin-1"))
        assert (etext, eocr) == (otext, oocr)
        assert "fake" not in etext and "evil" not in etext


def test_inline_image_truncation_falls_through():
    """A BI with no EI terminator (or no ID) must bail the engine rung
    (None → library chain) and raise in the oracle — never show the
    partial page's other text as if complete."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_minimal_pdf
    from pdf_extraction_ai_agent_spark.operators.pdftext import tokenize_pdf_runs
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    items = [
        ("text", 72, 720, "Visible claim text long enough to pass OCR gate"),
        ("image", b"\x89payload(decoy) Tj data"),
    ]
    pdf = write_minimal_pdf([items])
    for cut in (b"\nEI", b" ID\n"):
        # corrupt the framing token in place (same-length overwrite keeps
        # /Length valid so only the image framing is broken)
        at = pdf.rfind(cut)
        assert at > 0
        broken = pdf[:at] + cut.replace(b"EI", b"XX").replace(b"ID", b"XX") \
            + pdf[at + len(cut):]
        assert tokenize_pdf_runs(broken) is None, cut
        with _pytest.raises(RuntimeError):
            extract_real_pdf(broken.decode("latin-1"))


def test_incremental_update_supersedes_v1():
    """Append-save (ISO 32000 §7.5.6): the superseded v1 bytes stay in the
    file but only v2 may show — on BOTH twins, across the three update
    shapes (replace content / append page / both), compressed or not."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_incremental_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    stale = [("text", 72, 720, "VOID draft"), ("text", 72, 704, "superseded body")]
    fresh = [("text", 72, 720, "Replacement claim line body 125.00")]
    extra = "Amended total 88.50"
    shapes = [
        ([stale], [fresh], ["Replacement claim line body 125.00"]),
        ([fresh], [fresh, extra],
         ["Replacement claim line body 125.00", extra]),
        ([stale], [fresh, extra],
         ["Replacement claim line body 125.00", extra]),
    ]
    for compress in (False, True):
        for v1, v2, want_pages in shapes:
            pdf = write_incremental_pdf(v1, v2, compress=compress)
            assert b"%%EOF" in pdf[: pdf.rfind(b"%%EOF")], "no update section"
            etext, eocr = extract_real_pdf_text(pdf)
            otext, oocr = extract_real_pdf(pdf.decode("latin-1"))
            assert (etext, eocr) == (otext, oocr)
            assert "VOID" not in etext and "superseded" not in etext
            want = "\n".join(
                f"--- PAGE {i + 1} ---\n{p}" for i, p in enumerate(want_pages)
            )
            assert etext == want
    # the stale bytes really are still in the file (supersession, not
    # rewrite): prove the test isn't vacuous
    pdf = write_incremental_pdf([stale], [fresh])
    assert b"VOID draft" in pdf and b"Replacement claim" in pdf


def test_incremental_update_chained_twice():
    """Two stacked update sections (save, then save again): the NEWEST
    version wins over both earlier ones, same on both twins."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        _content_object,
        append_update,
        write_minimal_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    base = write_minimal_pdf([[("text", 72, 720, "version one body text")]])
    u1 = append_update(
        base, {5: _content_object([("text", 72, 720, "version two body text")], False)}
    )
    u2 = append_update(
        u1, {5: _content_object([("text", 72, 720, "version three body text")], True)}
    )
    etext, eocr = extract_real_pdf_text(u2)
    otext, oocr = extract_real_pdf(u2.decode("latin-1"))
    assert (etext, eocr) == (otext, oocr)
    assert etext == "--- PAGE 1 ---\nversion three body text"
    assert b"version one" in u2 and b"version two" in u2  # non-vacuous


def test_incremental_update_truncated_tail():
    """A file cut mid-way through the update's replacement stream: the
    twins must agree — compressed replacement bails (engine None → library
    chain; oracle raises), uncompressed shows the same partial page."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import (
        write_incremental_pdf,
    )
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    stale = [("text", 72, 720, "VOID old")]
    fresh = [("text", 72, 720, "Replacement claim line body 125.00")]
    for compress in (False, True):
        pdf = write_incremental_pdf([stale], [fresh], compress=compress)
        s_at = pdf.find(b"stream", pdf.rfind(b"5 0 obj"))
        cut = pdf[: s_at + 20]
        if compress:
            assert tokenize_pdf_runs(cut) is None
            with _pytest.raises(RuntimeError):
                extract_real_pdf(cut.decode("latin-1"))
        else:
            etext, eocr = extract_real_pdf_text(cut)
            otext, oocr = extract_real_pdf(cut.decode("latin-1"))
            assert (etext, eocr) == (otext, oocr)
            assert "VOID" not in etext  # the truncated v2 still supersedes


def test_form_xobject_twins_and_scope():
    """Form XObjects (/Name Do): header/nested/image shapes agree on both
    twins, compressed or not; out-of-scope shapes (singular /Matrix,
    SHEARED top-level cm alongside Do, Do inside BT, unresolvable name)
    bail the engine (None → library chain) and raise in the oracle. A
    modeled (translate) cm alongside Do is IN scope since r7 — pinned as
    a twin-equal extraction above the bail matrix."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_form_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    header = [("text", 72, 760, "ACME FORM 7")]
    sub = [("text", 72, 744, "STAMP approved")]
    page = [
        ("text", 72, 720, "Claim C1"),
        ("text", 72, 704, "Body sample body"),
        ("text", 72, 664, "Total 1.00"),
    ]
    for compress in (False, True):
        for kw, want_head in (
            (dict(), "ACME FORM 7\n"),
            (dict(sub=sub), "ACME FORM 7\nSTAMP approved"),
            (
                dict(sub=sub, with_image=True, explicit_matrix=True),
                "ACME FORM 7\nSTAMP approved",
            ),
        ):
            pdf = write_form_pdf([page], header, compress=compress, **kw)
            etext, eocr = extract_real_pdf_text(pdf)
            otext, oocr = extract_real_pdf(pdf.decode("latin-1"))
            assert (etext, eocr) == (otext, oocr)
            assert etext == (
                "--- PAGE 1 ---\n" + want_head
                + "\nClaim C1\nBody sample body\n\nTotal 1.00"
            )

    # out-of-scope shapes: every mutation keeps /Length valid (same-length
    # overwrite), so only the form framing is broken
    pdf_m = write_form_pdf([page], header, explicit_matrix=True)
    # r7: scale/rotation matrices are modeled now — SINGULAR stays out
    broken_matrix = pdf_m.replace(
        b"/Matrix [1 0 0 1 0 0]", b"/Matrix [0 0 0 0 0 0]"
    )
    pdf = write_form_pdf(
        [page + [("line", 50, 50, 60, 60)]], header
    )
    assert b"50 50 m 60 60 l S" in pdf
    # r7: a MODELED cm alongside Do no longer bails — the synthetic q…Q
    # splice isolation + CTM tracking extract it on both twins
    modeled_cm = pdf.replace(b"50 50 m 60 60 l S", b"1 0 0 1 5 4 cm   ")
    etext, eocr = extract_real_pdf_text(modeled_cm)
    otext, oocr = extract_real_pdf(modeled_cm.decode("latin-1"))
    assert (etext, eocr) == (otext, oocr)
    assert "Claim C1" in etext and "ACME FORM 7" in etext
    # a SHEARED cm stays out of scope
    broken_cm = pdf.replace(b"50 50 m 60 60 l S", b"1 0 0.5 1 5 4 cm ")
    pdf = write_form_pdf([page], header)
    broken_name = pdf.replace(b"/FmHead Do\n", b"/Nopead Do\n")
    old = b"BT /F1 12 Tf 72 720 Td (Claim C1) Tj ET"
    assert old in pdf
    new = b"BT /F1 12 Tf /FmHead Do 72 720 (C1)  ET"
    assert len(new) == len(old)
    broken_bt = pdf.replace(old, new)
    for broken in (broken_matrix, broken_cm, broken_name, broken_bt):
        assert tokenize_pdf_runs(broken) is None
        with _pytest.raises(RuntimeError):
            extract_real_pdf(broken.decode("latin-1"))

    # deep nesting is bounded: a form invoking ITSELF must bail, not spin
    pdf = write_form_pdf([page], header, sub=sub)
    cyc = pdf.replace(b"/FmSub 7 0 R", b"/FmSub 6 0 R").replace(
        b"/FmSub Do", b"/FmSub Do"
    )
    # (object 6 is FmHead for a 1-page file: 4/5 page+content, 6 head, 7 sub)
    assert tokenize_pdf_runs(cyc) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(cyc.decode("latin-1"))


def test_form_xobject_translate_matrix():
    """Translate-only form /Matrix: content authored at the form-local
    origin lands at the placed coordinates on BOTH twins (BT re-anchor +
    Tm/ruling shifts, independent scanners); nested translations compose;
    rotation/scale matrices and cm inside a translated form bail."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_form_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        tokenize_pdf_rulings,
        tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    page = [
        ("text", 72, 720, "Claim C1"),
        ("text", 72, 704, "Body sample body"),
        ("text", 72, 664, "Total 1.00"),
    ]
    hdr_local = [("text", 0, 0, "ACME FORM 7")]
    sub_local = [("text", 0, -16, "STAMP approved")]
    for compress in (False, True):
        pdf = write_form_pdf(
            [page], hdr_local, translate=(72, 760), compress=compress
        )
        etext, eocr = extract_real_pdf_text(pdf)
        otext, oocr = extract_real_pdf(pdf.decode("latin-1"))
        assert (etext, eocr) == (otext, oocr)
        assert etext == (
            "--- PAGE 1 ---\nACME FORM 7\n\n"
            "Claim C1\nBody sample body\n\nTotal 1.00"
        )
    # nested translations compose: outer (72, 744) + sub /Matrix (0, 16)
    # puts the stamp's local (0, -16) line at y 744 and the header at 744
    # … use distinct offsets so the composition is observable
    pdf = write_form_pdf(
        [page], hdr_local, sub=[("text", 0, 0, "STAMP approved")],
        translate=(72, 760), sub_translate=(0, -16),
    )
    etext, eocr = extract_real_pdf_text(pdf)
    otext, oocr = extract_real_pdf(pdf.decode("latin-1"))
    assert (etext, eocr) == (otext, oocr)
    assert etext == (
        "--- PAGE 1 ---\nACME FORM 7\nSTAMP approved\n"
        "Claim C1\nBody sample body\n\nTotal 1.00"
    )
    # rulings inside a translated form shift for the lattice walk
    pdf = write_form_pdf(
        [[("text", 72, 720, "Claim body line here ok")]],
        [("text", 0, 0, "HDR"), ("line", 0, -10, 100, -10)],
        translate=(50, 500),
    )
    assert tokenize_pdf_rulings(pdf) == [[(50.0, 490.0, 150.0, 490.0)]]
    # a SHEARED matrix bails both twins (r7: scale/rotation are modeled
    # now — see test_form_xobject_scale_rotate_matrix — but true shear
    # stays out of the splice's model)
    pdf = write_form_pdf([page], hdr_local, translate=(72, 760))
    shr = pdf.replace(b"/Matrix [1 0 0 1 72 760]", b"/Matrix [1 0.5 0 1 72 76]")
    assert shr != pdf
    assert tokenize_pdf_runs(shr) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(shr.decode("latin-1"))
    # cm inside a TRANSLATED form is MODELED since the late-r7 unification
    # (the form /Matrix is itself a cm in the isolation wrapper, so any
    # internal cm composes and is contained) — twins stay equal and the
    # replaced ruling disappears from the lattice walk
    pdf = write_form_pdf(
        [[("text", 72, 720, "Claim body line here ok")]],
        [("text", 0, 0, "HDR"), ("line", 0, -10, 100, -10)],
        translate=(50, 500),
    )
    assert b"0 -10 m 100 -10 l S" in pdf
    cm = pdf.replace(b"0 -10 m 100 -10 l S", b"1 0 0 1 5 4 cm      ")
    etext, eocr = extract_real_pdf_text(cm)
    assert (etext, eocr) == extract_real_pdf(cm.decode("latin-1"))
    assert "HDR" in etext and "Claim body line here ok" in etext
    assert tokenize_pdf_rulings(cm) == [[]]


def test_form_xobject_scale_rotate_matrix():
    """r7 (r6 verdict item 5; late-r7 unification): scale and rotation
    form matrices compose through the splice's q…Q + cm wrapper on both
    twins — positions land where the matrix places them; leading ops map
    through the matrix (including under rotation — the walk advances in
    text space, which the old operand rewrite could not express); nested
    matrices compose."""
    from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_form_pdf
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        tokenize_pdf_rulings,
        tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    page = [
        ("text", 72, 720, "Claim C1"),
        ("text", 72, 704, "Body sample body"),
        ("text", 72, 664, "Total 1.00"),
    ]
    hdr = [("text", 0, 0, "ACME FORM 7"), ("text", 0, -16, "Second hdr line")]
    # 2× scale placed at (72, 600): header lines land at y 600 and 568
    for compress in (False, True):
        pdf = write_form_pdf(
            [page], hdr, translate=(2, 0, 0, 2, 72, 600), compress=compress
        )
        assert extract_real_pdf_text(pdf) == extract_real_pdf(
            pdf.decode("latin-1")
        )
        runs = tokenize_pdf_runs(pdf)[0]
        assert (72.0, 600.0, "ACME FORM 7") in runs
        assert (72.0, 568.0, "Second hdr line") in runs
    # 90° CCW rotation placed at (400, 100): local (0,-16) → (416, 100)
    pdf = write_form_pdf([page], hdr, translate=(0, 1, -1, 0, 400, 100))
    assert extract_real_pdf_text(pdf) == extract_real_pdf(
        pdf.decode("latin-1")
    )
    runs = tokenize_pdf_runs(pdf)[0]
    assert (400.0, 100.0, "ACME FORM 7") in runs
    assert (416.0, 100.0, "Second hdr line") in runs
    # rulings transform for the lattice walk: local (0,-10)-(100,-10)
    # under 2× scale at (50, 500) → (50, 480)-(250, 480)
    pdf = write_form_pdf(
        [[("text", 72, 720, "Claim body line here ok")]],
        [("text", 0, 0, "HDR"), ("line", 0, -10, 100, -10)],
        translate=(2, 0, 0, 2, 50, 500),
    )
    assert tokenize_pdf_rulings(pdf) == [[(50.0, 480.0, 250.0, 480.0)]]
    # nested matrices compose: outer 2× scale at (100, 400), inner
    # translate (0, -8) → sub line local (0,0) lands at (100, 384)
    pdf = write_form_pdf(
        [page], hdr, sub=[("text", 0, 0, "STAMP approved")],
        translate=(2, 0, 0, 2, 100, 400), sub_translate=(0, -8),
    )
    assert extract_real_pdf_text(pdf) == extract_real_pdf(
        pdf.decode("latin-1")
    )
    assert (100.0, 384.0, "STAMP approved") in tokenize_pdf_runs(pdf)[0]
    # leading ops under a scale matrix: T* advances by leading × d
    lead_hdr = [("raw", "BT /F1 12 Tf 16 TL 10 20 Td (LdA) Tj T* (LdB) Tj ET")]
    pdf = write_form_pdf([page], lead_hdr, translate=(2, 0, 0, 2, 100, 50))
    assert extract_real_pdf_text(pdf) == extract_real_pdf(
        pdf.decode("latin-1")
    )
    runs = tokenize_pdf_runs(pdf)[0]
    assert (120.0, 90.0, "LdA") in runs      # local (10,20) × 2 + (100,50)
    assert (120.0, 58.0, "LdB") in runs      # T* 16 × d=2 below
    # leading under a ROTATED matrix (the old rewrite's bail — now exact:
    # the advance happens in text space before the matrix applies)
    rot_hdr = [("raw", "BT /F1 12 Tf 16 TL 0 0 Td (RotA) Tj T* (RotB) Tj ET")]
    pdf = write_form_pdf([page], rot_hdr, translate=(0, 1, -1, 0, 400, 100))
    assert extract_real_pdf_text(pdf) == extract_real_pdf(
        pdf.decode("latin-1")
    )
    runs = tokenize_pdf_runs(pdf)[0]
    assert (400.0, 100.0, "RotA") in runs
    assert (416.0, 100.0, "RotB") in runs    # (0,-16) rotated → (+16, 0)


def test_encrypted_objstm_pdf_matrix():
    """The modern encrypted shape (object streams + xref STREAM carrying
    /Encrypt, no classic trailer): both twins agree across the handler
    matrix (R2/R3 RC4, R4 AESV2, R6 AESV3) × predictor parities; the
    container decrypts as a whole under its own key; a user password
    outside the book bails; a wrong-key file (corrupted /U) bails."""
    import pytest as _pytest

    from pdf_extraction_ai_agent_spark import spec
    from pdf_extraction_ai_agent_spark.fixtures import minipdf
    from pdf_extraction_ai_agent_spark.operators.extract import (
        extract_real_pdf_text,
    )
    from pdf_extraction_ai_agent_spark.operators.pdftext import (
        tokenize_pdf_runs,
    )
    from pdf_extraction_ai_agent_spark.oracle.reference_extractor import (
        extract_real_pdf,
    )

    page = [("text", 72, 720, "Enc objstm claim body 125.00")]
    page2 = [("text", 72, 720, "Second page text body")]
    minipdf.seed_kdf(minipdf.kdf_warm_entries(1, b"opw"))
    for rev in (2, 3, 4, 6):
        for pred in (True, False):
            pdf = minipdf.write_encrypted_objstm_pdf(
                [page], owner_pwd=b"opw", revision=rev, predictor=pred
            )
            assert b"trailer" not in pdf  # genuinely trailer-less
            etext, eocr = extract_real_pdf_text(pdf)
            otext, oocr = extract_real_pdf(pdf.decode("latin-1"))
            assert (etext, eocr) == (otext, oocr), (rev, pred)
            assert etext == "--- PAGE 1 ---\nEnc objstm claim body 125.00"
    # multi-page + book-password variants
    pdf = minipdf.write_encrypted_objstm_pdf(
        [page, page2], owner_pwd=b"opw", revision=4
    )
    etext, eocr = extract_real_pdf_text(pdf)
    assert (etext, eocr) == extract_real_pdf(pdf.decode("latin-1"))
    assert "--- PAGE 2 ---\nSecond page text body" in etext
    pdf = minipdf.write_encrypted_objstm_pdf(
        [page], owner_pwd=b"opw",
        user_pwd=spec.KNOWN_USER_PASSWORDS[0], revision=3,
    )
    assert extract_real_pdf_text(pdf) == extract_real_pdf(
        pdf.decode("latin-1")
    )
    # a user password outside the book bails the engine, raises the oracle
    pdf = minipdf.write_encrypted_objstm_pdf(
        [page], owner_pwd=b"opw", user_pwd=b"not-in-book", revision=3
    )
    assert tokenize_pdf_runs(pdf) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(pdf.decode("latin-1"))
    # corrupted /U (wrong validation bytes): never garbled text
    pdf = minipdf.write_encrypted_objstm_pdf([page], owner_pwd=b"opw", revision=3)
    at = pdf.find(b"/U <") + 4
    broken = pdf[:at] + bytes.fromhex(pdf[at:at + 8].decode()).hex().encode().translate(
        bytes.maketrans(b"0123456789abcdef", b"fedcba9876543210")
    ) + pdf[at + 8:]
    assert broken != pdf
    assert tokenize_pdf_runs(broken) is None
    with _pytest.raises(RuntimeError):
        extract_real_pdf(broken.decode("latin-1"))
