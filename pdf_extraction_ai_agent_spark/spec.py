"""The payload + extraction SPEC shared by the fixture generator, the
row-at-a-time oracle (golden producer) and the vectorized Spark engine.

Everything here is derived from the *deterministic* semantics of the
reference repo (cited file:line below, paths relative to /root/reference):

- blank-line record split      src/claim_extractor/regex_extractor.py:19
- field regexes                src/claim_extractor/regex_extractor.py:7-9,
                               src/claim_extractor/parse_fields.py:9-22
- OCR-trigger threshold (<40)  src/claim_extractor/extract_text.py:60-64
- page marker contract         fitzTest3.py:92-95 ("--- PAGE n ---")
- confidence weights           src/claim_extractor/parse_fields.py:41-49
- layout clustering tolerance  src/claim_extractor/extract_text.py:13
                               (pdfplumber x_tolerance=2, y_tolerance=2)

The HTML boilerplate-strip stage (text-density + link-density node scoring)
is required by the build target (BASELINE.json north_star); thresholds below
define its exact contract so two independent implementations can agree
bit-for-bit.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Field regexes (reference: regex_extractor.py:7-9, parse_fields.py:9-22).
# Written in the common subset of Java-regex (Spark), RE2 (DuckDB) and
# Python `re` so the same pattern string runs in all three engines.
# ---------------------------------------------------------------------------

CLAIM_NO_PAT = (
    r"(?i)\b(?:claim\s*(?:no\.?|number|#|id)\s*[:\-]?|ref(?:erence)?\s*[:\-]?)"
    r"\s*([A-Z0-9\-/]{5,})\b"
)
AMOUNT_PAT = r"\$\s*([0-9]{1,3}(?:,[0-9]{3})*(?:\.[0-9]{2})|[0-9]+(?:\.[0-9]{2}))"
REASON_PAT = r"(?i)(?:reason|cause|description)\s*[:\-]?\s*([^.;\n]+)"

# parse_fields.py:9-16 — single-document field parse patterns.
CLAIM_PATTERNS = [
    r"(?i)\bclaim\s*(?:no\.?|number|#|id)\s*[:\-]?\s*([A-Z0-9\-/]{5,})\b",
    r"(?i)\bclaim\s*[:\-]?\s*([A-Z0-9\-/]{5,})\b",
]
NAME_PATTERNS = [
    r"\b(?:claimant|insured|name|Claimant|Insured|Name|NAME|CLAIMANT|INSURED)"
    r"\s*[:\-]\s*([A-Z][A-Za-z'\-]+(?:\s+[A-Z][A-Za-z'\-]+)+)\b",
]
DATE_PATTERNS = [
    r"\b(\d{1,2}[/-]\d{1,2}[/-]\d{2,4})\b",
    r"\b([A-Za-z]{3,9}\s+\d{1,2},\s*\d{4})\b",
    r"\b(\d{4}[/-]\d{1,2}[/-]\d{1,2})\b",
]

# Order in which spans are emitted within one record chunk.
SPAN_FIELD_ORDER = ["claim_number", "name", "amount", "reason", "date"]

# Blank-line record delimiter (regex_extractor.py:19).
RECORD_SPLIT_PAT = r"\n\s*\n+"

# ---------------------------------------------------------------------------
# Extraction thresholds
# ---------------------------------------------------------------------------

# extract_text.py:60-64 — OCR fallback trigger: stripped raw text < 40 chars.
OCR_MIN_CHARS = 40

# Page marker contract (fitzTest3.py:92-95).
PAGE_MARKER_FMT = "--- PAGE {n} ---"

# HTML boilerplate scoring (north_star: Readability/Boilerpipe-style).
# A block is MAIN CONTENT iff:
#   len(text) >= HTML_MIN_TEXT_LEN  and  link_density <= HTML_MAX_LINK_DENSITY
# where text = tag-stripped, entity-unescaped, stripped block text and
# link_density = (total length of <a> inner text) / len(text).
HTML_MIN_TEXT_LEN = 25
HTML_MAX_LINK_DENSITY = 0.35
# Kept blocks are joined with a blank line (so record-split X1 still works).
HTML_BLOCK_JOINER = "\n\n"
# Readability/trafilatura convention (r7): these elements' subtree text is
# never main content — dropped BEFORE block scoring, even when long and
# link-free (a text-dense inline <script> must not read as a paragraph).
# Modeled domain: well-formed spans (an unclosed <script> is out of twin
# scope — html.parser treats the tail as CDATA, a regex cannot).
HTML_SKIP_TAGS = ("script", "style", "noscript", "template")
# HTML tables linearize to pipe-separated cell text: td/th and tr
# boundaries join with HTML_CELL_SEP — the same flattening the sheet→
# pipe-text sink (S9, operators/grid.py) uses, so a table block scores
# and extracts as one content unit. Modeled domain: non-nested tables.
HTML_CELL_SEP = " | "
# <br> IS whitespace (every real extractor agrees): it reads as one space
# on both twins. Other inline tags still concatenate without a separator
# (the bs4/fitz get_text default — 'in<i>l</i>ine' stays 'inline').
HTML_BR_IS_SPACE = True

# Pseudo-PDF content-stream grammar (deterministic stand-in for a PDF page
# stream; mirrors the text-box + reading-order model of pdfplumber/fitz):
#   %PDF-SIM 1.0
#   %%PAGE <n>
#   BT <x> <y> Td (<run text>) Tj ET
# Run text never contains parentheses, backslashes or newlines.
PDF_HEADER = "%PDF-SIM 1.0"
PDF_PAGE_RE = r"^%%PAGE (\d+)$"
PDF_RUN_RE = r"^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$"
# Vector ruling segment (the lattice-table geometry Camelot's
# flavor="lattice" keys on — camelot_extractor.py:11-14): a stroked
# straight path `x1 y1 m x2 y2 l S`, mirroring the PDF path operators
# moveto/lineto/stroke. Horizontal iff y1 == y2, vertical iff x1 == x2;
# diagonal segments are ignored by the grid builder.
PDF_RULE_RE = r"^([0-9.]+) ([0-9.]+) m ([0-9.]+) ([0-9.]+) l S$"
# Reading order: lines = y-clusters (descending y, cluster break when the
# gap to the previous run's y exceeds PDF_Y_TOL); within a line, runs sort
# by x ascending and join with a single space. Mirrors pdfplumber
# y_tolerance=2 (extract_text.py:13).
PDF_Y_TOL = 2.0
# A vertical gap >= PDF_PARA_GAP between consecutive lines emits one blank
# line (paragraph / record boundary), preserving the blank-line split
# contract of regex_extractor.py:19. Generator uses leading 16 / gap 32.
PDF_PARA_GAP = 28.0
PDF_LEADING = 16.0
# TJ word-break synthesis (r7): a displacement v inside a TJ array with
# v <= -TJ_SPACE_KERN (thousandths of a text-space em, §9.4.3) inserts
# ONE space between the adjacent shows — the deterministic model of the
# word-break heuristic the reference's library chain applies from glyph
# geometry (pdfminer word_margin, fitz space detection): generators that
# kern word gaps instead of showing space glyphs must not read as run-on
# words. Intra-word kerning (|v| small, fixture uses 120) stays joined;
# displacement never crosses array/show-op boundaries.
TJ_SPACE_KERN = 180.0

# ---------------------------------------------------------------------------
# LOB classification keyword tables
# ---------------------------------------------------------------------------

# C1 — claude_pdf_extractor.py:92-132 (count occurrences, argmax, UNKNOWN).
LOB_PATTERNS_C1 = {
    "AUTO": [
        "AUTO", "AUTOMOBILE", "VEHICLE", "CAR", "TRUCK", "MOTOR",
        "AUTO LIABILITY", "AUTO PHYSICAL DAMAGE", "PERSONAL AUTO",
        "COMMERCIAL AUTO", "GARAGE LIABILITY", "MOTOR CARRIER",
    ],
    "GENERAL LIABILITY": [
        "GENERAL LIABILITY", "GL", "COMMERCIAL GENERAL LIABILITY",
        "CGL", "PROPERTY", "LIABILITY", "BUSINESS LIABILITY",
        "PROFESSIONAL LIABILITY", "PRODUCTS LIABILITY",
    ],
    "WC": [
        "WORKERS COMPENSATION", "WORKER COMPENSATION", "WC",
        "WORKERS COMP", "EMPLOYER LIABILITY", "WORK COMP",
        "WORKERS COMPENSATION AND EMPLOYERS LIABILITY",
    ],
}
# Deterministic tiebreak for the argmax (Python dict order in the reference):
LOB_C1_ORDER = ["AUTO", "GENERAL LIABILITY", "WC"]

# C2 — text_lob_llm_extractor.py:231-244 (padded-token membership, multi).
LOB_HITS_C2 = {
    "AUTO": [" AUTO ", " AUTOMOBILE", " VEHICLE", " VIN ", " COLLISION",
             " COMPREHENSIVE", " LICENSE PLATE", " TOW ", " RENTAL",
             " SUBROGATION"],
    "GENERAL LIABILITY": [" GENERAL LIABILITY", " GL ", " PREMISES",
                          " PRODUCTS LIABILITY", " CGL ", " COVERAGE A",
                          " COVERAGE B", " COVERAGE C", " AGGREGATE LIMIT"],
    "WC": [" WORKERS' COMP", " WORKERS COMP", " WC ", " TTD", " TPD",
           " INDEMNITY", " MEDICAL ONLY", " LOST TIME", " OSHA ",
           " EMPLOYEE ", " EMPLOYER "],
}

# Confidence weights (parse_fields.py:41-49).
CONFIDENCE_WEIGHTS = {"claim_number": 0.4, "name": 0.3, "date": 0.3}

# Registry LOB aliases (mock_storage.py:55-60).
LOB_ALIASES = {
    "work": "wc", "workers": "wc", "workers comp": "wc",
    "workerscomp": "wc", "worker": "wc",
    "vehicle": "auto", "car": "auto", "accident": "auto",
    "automobile": "auto",
    "house": "property", "home": "property", "fire": "property",
    "building": "property",
    "general": "gl", "liability": "gl", "general liability": "gl",
}


# ---------------------------------------------------------------------------
# Adobe Glyph List subset (public AGL data) — shared SPEC DATA for the
# simple-font /Differences encoding path: glyph NAME → unicode char.
# The engine (operators/pdftext.py) and the oracle char-scanner each parse
# /Differences arrays with their OWN code against this one table (the same
# sharing contract as every other constant in this module). Coverage:
# ASCII + Latin-1 + the standard typographic names PDF generators emit;
# anything absent (symbol fonts, gXX subset glyphs) makes both twins bail.
# ---------------------------------------------------------------------------


def _build_glyph_table() -> dict:
    import unicodedata

    t = {
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
        "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
        "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
        "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
        "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
        "backslash": "\\", "bracketright": "]", "asciicircum": "^",
        "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
        "braceright": "}", "asciitilde": "~",
        # Latin-1 supplement + standard typographic names
        "exclamdown": "¡", "cent": "¢", "sterling": "£",
        "currency": "¤", "yen": "¥", "brokenbar": "¦",
        "section": "§", "dieresis": "¨", "copyright": "©",
        "ordfeminine": "ª", "guillemotleft": "«",
        "logicalnot": "¬", "registered": "®", "macron": "¯",
        "degree": "°", "plusminus": "±", "acute": "´",
        "mu": "µ", "paragraph": "¶", "periodcentered": "·",
        "cedilla": "¸", "ordmasculine": "º",
        "guillemotright": "»", "onequarter": "¼",
        "onehalf": "½", "threequarters": "¾",
        "questiondown": "¿", "multiply": "×", "divide": "÷",
        "onesuperior": "¹", "twosuperior": "²",
        "threesuperior": "³",
        "AE": "Æ", "ae": "æ", "OE": "Œ", "oe": "œ",
        "Oslash": "Ø", "oslash": "ø", "Eth": "Ð",
        "eth": "ð", "Thorn": "Þ", "thorn": "þ",
        "germandbls": "ß", "dotlessi": "ı", "Lslash": "Ł",
        "lslash": "ł", "Scaron": "Š", "scaron": "š",
        "Zcaron": "Ž", "zcaron": "ž", "Ydieresis": "Ÿ",
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—", "bullet": "•",
        "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
        "perthousand": "‰", "trademark": "™", "fi": "ﬁ",
        "fl": "ﬂ", "florin": "ƒ", "fraction": "⁄",
        "guilsinglleft": "‹", "guilsinglright": "›",
        "minus": "−", "Euro": "€", "euro": "€",
        "nbspace": " ", "sfthyphen": "­",
        "circumflexaccent": "ˆ", "tildeaccent": "˜",
        "caron": "ˇ", "breve": "˘", "dotaccent": "˙",
        "ring": "˚", "ogonek": "˛", "hungarumlaut": "˝",
    }
    for ch in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
        t[ch] = ch
    for name, digit in zip(
        ("zero", "one", "two", "three", "four", "five", "six", "seven",
         "eight", "nine"), "0123456789"
    ):
        t[name] = digit
    # accented latin: <letter><diacritic-name> composed via NFC, kept only
    # when a single precomposed codepoint exists (AGL naming convention)
    diacritics = {
        "grave": "̀", "acute": "́", "circumflex": "̂",
        "tilde": "̃", "macron": "̄", "breve": "̆",
        "dotaccent": "̇", "dieresis": "̈", "ring": "̊",
        "hungarumlaut": "̋", "caron": "̌", "cedilla": "̧",
        "ogonek": "̨",
    }
    for letter in "AaCcEeGgIiLlNnOoRrSsTtUuWwYyZz":
        for dname, comb in diacritics.items():
            composed = unicodedata.normalize("NFC", letter + comb)
            if len(composed) == 1:
                t.setdefault(letter + dname, composed)
    return t


GLYPH_TO_UNICODE = _build_glyph_table()


def _build_base_encoding_tables() -> dict[str, dict[int, str]]:
    """Simple-font named base encodings, PDF 32000-1 Annex D.2 (public
    data — both extraction twins read these tables; each side keeps its
    own lookup/bail logic). A code ABSENT from a table is undefined: the
    extractor bails rather than guess (wrong text must never beat no
    text). Deliberately left undefined:

    - WinAnsi: cp1252's five unassigned holes (0x81 8D 8F 90 9D) and
      0xAD, where Annex D names the glyph 'hyphen' but cp1252 carries
      SOFT HYPHEN — an ambiguity we refuse instead of pick.
    - MacRoman: 0xCA (Annex D 'space' vs the codec's NO-BREAK SPACE),
      0xDB ('currency' vs the post-Mac-OS-8.5 euro the codec returns)
      and 0xF0 (the Apple logo, no Unicode mapping).
    - Standard: the high half entirely (Annex D's 0xA1+ symbol set is
      not modeled); 0x27/0x60 are quoteright/quoteleft, NOT the ASCII
      apostrophe/grave.
    """
    win: dict[int, str] = {}
    for b in range(256):
        if b in (0x81, 0x8D, 0x8F, 0x90, 0x9D, 0xAD):
            continue
        win[b] = bytes([b]).decode("cp1252")
    mac: dict[int, str] = {b: chr(b) for b in range(0x80)}
    for b in range(0x80, 256):
        if b in (0xCA, 0xDB, 0xF0):
            continue
        mac[b] = bytes([b]).decode("mac_roman")
    std: dict[int, str] = {b: chr(b) for b in range(0x80)}
    std[0x27] = "’"
    std[0x60] = "‘"
    return {
        "WinAnsiEncoding": win,
        "MacRomanEncoding": mac,
        "StandardEncoding": std,
    }


BASE_ENCODING_TABLES = _build_base_encoding_tables()


# Candidate USER passwords for password-protected inputs (the extraction
# contract's "password book" — batch pipelines carry config-supplied
# department passwords; reference parity: the reference surfaces such PDFs
# as extraction failures, this engine opens the ones whose password is
# known). Tried in order after the empty password; pure DATA shared by
# both twins (each side keeps its own validation logic).
KNOWN_USER_PASSWORDS: tuple = (b"claims-batch-2024", b"wc-lossrun")


def _build_ocr_font() -> dict[str, tuple[str, ...]]:
    """The deterministic 5×7 bitmap font behind the in-sandbox executed
    OCR slice (r6 verdict item 7): fixtures/scanned.py RENDERS synthetic
    scanned pages with it and operators/ocr.py's fixture rung RECOGNIZES
    glyphs by template match against it. Pure DATA shared by the writer
    and the reader (like the AGL table) — each side keeps its own
    algorithm. Design constraints the reader relies on (pinned by
    tests): every glyph has ink in column 0 (a line's first ink column
    is a cell origin), and every glyph's ROW-CROPPED pattern is unique
    (matching is invariant to the line band's vertical extent)."""
    raw = {
        "A": (".XXX.", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
        "B": ("XXXX.", "X...X", "X...X", "XXXX.", "X...X", "X...X", "XXXX."),
        "C": (".XXXX", "X....", "X....", "X....", "X....", "X....", ".XXXX"),
        "D": ("XXXX.", "X...X", "X...X", "X...X", "X...X", "X...X", "XXXX."),
        "E": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "XXXXX"),
        "F": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "X...."),
        "G": (".XXXX", "X....", "X....", "X..XX", "X...X", "X...X", ".XXXX"),
        "H": ("X...X", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
        "I": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
        "J": ("XXXXX", "...X.", "...X.", "...X.", "...X.", "X..X.", ".XX.."),
        "K": ("X...X", "X..X.", "X.X..", "XX...", "X.X..", "X..X.", "X...X"),
        "L": ("X....", "X....", "X....", "X....", "X....", "X....", "XXXXX"),
        "M": ("X...X", "XX.XX", "X.X.X", "X.X.X", "X...X", "X...X", "X...X"),
        "N": ("X...X", "XX..X", "X.X.X", "X..XX", "X...X", "X...X", "X...X"),
        "O": (".XXX.", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
        "P": ("XXXX.", "X...X", "X...X", "XXXX.", "X....", "X....", "X...."),
        "Q": (".XXX.", "X...X", "X...X", "X...X", "X.X.X", "X..X.", ".XX.X"),
        "R": ("XXXX.", "X...X", "X...X", "XXXX.", "X.X..", "X..X.", "X...X"),
        "S": (".XXXX", "X....", "X....", ".XXX.", "....X", "....X", "XXXX."),
        "T": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "..X.."),
        "U": ("X...X", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
        "V": ("X...X", "X...X", "X...X", "X...X", ".X.X.", ".X.X.", "..X.."),
        "W": ("X...X", "X...X", "X...X", "X.X.X", "X.X.X", "XX.XX", "X...X"),
        "X": ("X...X", "X...X", ".X.X.", "..X..", ".X.X.", "X...X", "X...X"),
        "Y": ("X...X", "X...X", ".X.X.", "..X..", "..X..", "..X..", "..X.."),
        "Z": ("XXXXX", "....X", "...X.", "..X..", ".X...", "X....", "XXXXX"),
        "0": (".XXX.", "X...X", "X..XX", "X.X.X", "XX..X", "X...X", ".XXX."),
        "1": ("..X..", ".XX..", "X.X..", "..X..", "..X..", "..X..", "XXXXX"),
        "2": (".XXX.", "X...X", "....X", "...X.", "..X..", ".X...", "XXXXX"),
        "3": ("XXXX.", "....X", "....X", ".XXX.", "....X", "....X", "XXXX."),
        "4": ("...X.", "..XX.", ".X.X.", "X..X.", "XXXXX", "...X.", "...X."),
        "5": ("XXXXX", "X....", "XXXX.", "....X", "....X", "X...X", ".XXX."),
        "6": (".XXX.", "X....", "X....", "XXXX.", "X...X", "X...X", ".XXX."),
        "7": ("XXXXX", "....X", "...X.", "..X..", ".X...", ".X...", ".X..."),
        "8": (".XXX.", "X...X", "X...X", ".XXX.", "X...X", "X...X", ".XXX."),
        "9": (".XXX.", "X...X", "X...X", ".XXXX", "....X", "....X", ".XXX."),
        ".": (".....", ".....", ".....", ".....", ".....", "XX...", "XX..."),
        ",": (".....", ".....", ".....", ".....", "XX...", ".X...", "X...."),
        "-": (".....", ".....", ".....", "XXXXX", ".....", ".....", "....."),
        "#": (".X.X.", "XXXXX", ".X.X.", ".X.X.", "XXXXX", ".X.X.", "....."),
        "/": ("....X", "...X.", "...X.", "..X..", ".X...", ".X...", "X...."),
        ":": (".....", "XX...", "XX...", ".....", "XX...", "XX...", "....."),
    }
    return raw


OCR_FONT_5X7: dict[str, tuple[str, ...]] = _build_ocr_font()
# characters the scanned-fixture pipeline can carry (space renders as an
# empty cell); the q69 text transform filters to this set on BOTH sides
OCR_FONT_CHARSET: str = "".join(sorted(OCR_FONT_5X7)) + " "

# Scanned-fixture geometry contract (pure data, shared by the renderer in
# fixtures/scanned.py and the grid template-matcher in operators/ocr.py):
# glyph cell = 5 ink columns + 1 gap, line pitch = 7 glyph rows + 3 blank,
# 4 px page margins. The nearest-template rung tolerates at most
# OCR_NEAREST_MAX_D flipped pixels per 5x7 cell and demands a strictly
# unique nearest template — ties or worse raise (wrong text never beats
# no text).
OCR_SCAN_CELL_W = 6
OCR_SCAN_LINE_PITCH = 10
OCR_SCAN_MARGIN = 4
OCR_NEAREST_MAX_D = 2

# ---------------------------------------------------------------------------
# PII scrubbing (training-data privacy pass)
# ---------------------------------------------------------------------------
# Patterns stay inside the Java-regex ∩ RE2 ∩ Python-re subset (no
# lookaround), masks are fixed tokens, and scrubbing applies in PII_ORDER
# sequentially — counts are taken on the progressively scrubbed text, so
# an earlier mask can never double-count inside a later pattern. Both the
# Spark operator and the DuckDB twin consume these as data.
PII_PATTERNS = {
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\([0-9]{3}\) [0-9]{3}-[0-9]{4}|\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
}
PII_MASKS = {"ssn": "<SSN>", "email": "<EMAIL>", "phone": "<PHONE>"}
PII_ORDER = ["ssn", "email", "phone"]

# ---------------------------------------------------------------------------
# C4-style line-level boilerplate filtering (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------
# Line keep rules: the rtrim'd line ends in terminal punctuation, has at
# least C4_MIN_WORDS_PER_LINE whitespace-delimited tokens, and does not
# mention 'javascript' (case-insensitive). Document keep rules: at least
# C4_MIN_KEPT_LINES surviving lines and none of C4_BAD_DOC_SUBSTRS in the
# ORIGINAL text (matched case-insensitively). Both the
# Spark operator and the DuckDB twin consume these as data; the terminal-
# punctuation pattern stays in the Java ∩ RE2 ∩ Python regex subset.
C4_TERMINAL_PUNCT_PAT = r'[.!?"]$'
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3
C4_BAD_LINE_SUBSTR = "javascript"          # matched on the lowercased line
C4_BAD_DOC_SUBSTRS = ["lorem ipsum", "{"]  # matched on the lowercased text
