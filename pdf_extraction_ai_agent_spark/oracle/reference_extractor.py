"""Vendored reference-semantics extractor — the GOLDEN ORACLE.

A deliberately row-at-a-time, readable reimplementation of the reference
repo's deterministic extraction semantics (SURVEY §7 step 1). It is used
ONLY to produce expected outputs for tests; the Spark engine implements the
same SPEC independently (vectorized), and golden tests assert bit-exact
equality between the two on thousands of generated turns.

Reference citations (paths under /root/reference):
- candidate selection / OCR threshold   src/claim_extractor/extract_text.py:39-66
- page markers                          fitzTest3.py:92-95
- blank-line record split               src/claim_extractor/regex_extractor.py:19
- field regexes                         regex_extractor.py:7-9, parse_fields.py:9-22
- date normalization                    parse_fields.py:33-38 (dateutil fuzzy)
- confidence                            parse_fields.py:41-49
- LOB classification                    claude_pdf_extractor.py:92-132,
                                        text_lob_llm_extractor.py:231-244

The HTML path implements the north-star DOM-tree + text-density/link-density
node scoring with a real HTMLParser-built tree.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from .. import spec

# ---------------------------------------------------------------------------
# HTML: DOM tree + boilerplate node scoring
# ---------------------------------------------------------------------------

_BLOCK_TAGS = {
    "p", "div", "nav", "header", "footer", "main", "article", "section",
    "aside", "ul", "ol", "li", "table", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre",
}


class _Node:
    __slots__ = ("tag", "content", "link_chars")

    def __init__(self, tag: str):
        self.tag = tag
        # document-order interleaving of text fragments and child nodes
        self.content: list[object] = []
        self.link_chars = 0


class _DomBuilder(HTMLParser):
    """Builds a minimal DOM tree; block-level nodes become scoring units."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root")
        self.stack = [self.root]
        self.blocks: list[_Node] = []  # document-order block nodes
        self._in_a = 0

    def handle_starttag(self, tag, attrs):
        if tag == "br" and spec.HTML_BR_IS_SPACE:
            # void element, IS whitespace: one space, never a tree node
            # (the matching synthetic endtag finds nothing to pop)
            self.handle_data(" ")
            return
        node = _Node(tag)
        self.stack[-1].content.append(node)
        self.stack.append(node)
        if tag in _BLOCK_TAGS:
            self.blocks.append(node)
        if tag == "a":
            self._in_a += 1

    def handle_endtag(self, tag):
        # tolerant pop: unwind to the matching open tag if present
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break
        if tag == "a" and self._in_a:
            self._in_a -= 1

    def handle_data(self, data):
        if not data:
            return
        # spec.HTML_SKIP_TAGS: subtree text of script/style/noscript/
        # template is never content (Readability rule) — drop at the DOM
        # level, symmetric with the engine's pre-scoring span removal
        if any(n.tag in spec.HTML_SKIP_TAGS for n in self.stack):
            return
        self.stack[-1].content.append(data)
        if self._in_a:
            self.stack[-1].link_chars += len(data)


def _collect(node: _Node) -> tuple[str, int]:
    """Concatenated subtree text (document order) and link-char count."""
    parts: list[str] = []
    links = node.link_chars
    for item in node.content:
        if isinstance(item, str):
            parts.append(item)
        else:
            t, l = _collect(item)
            parts.append(t)
            links += l
    return "".join(parts), links


def _collect_table(node: _Node) -> tuple[str, int]:
    """Table linearization (spec.HTML_CELL_SEP): the table block's text is
    its td/th cell texts — each whitespace-collapsed — joined with the pipe
    separator in document order, all rows flattened (non-nested tables per
    the spec's modeled domain). Symmetric with the engine's cell/row
    boundary rewrite."""
    cells: list[str] = []
    links = 0

    def walk(n: _Node):
        nonlocal links
        if n.tag in ("td", "th"):
            raw, l = _collect(n)
            cells.append(" ".join(raw.split()))
            links += l
            return
        links += n.link_chars
        for item in n.content:
            if isinstance(item, _Node):
                walk(item)

    walk(node)
    return spec.HTML_CELL_SEP.join(cells), links


def extract_html_main_content(html: str) -> str:
    """Boilerplate strip: score each top-level block by text length and link
    density; keep blocks with len(text) >= HTML_MIN_TEXT_LEN and
    link_density <= HTML_MAX_LINK_DENSITY; join with a blank line."""
    builder = _DomBuilder()
    builder.feed(html)
    # Score only OUTERMOST blocks (a block nested in another block is part
    # of its parent's scoring unit, not its own).
    outer: list[_Node] = []
    seen_inner: set[int] = set()

    def mark_inner(n: _Node):
        for ch in n.content:
            if isinstance(ch, _Node):
                if ch.tag in _BLOCK_TAGS:
                    seen_inner.add(id(ch))
                mark_inner(ch)

    for b in builder.blocks:
        mark_inner(b)
    for b in builder.blocks:
        if id(b) not in seen_inner:
            outer.append(b)

    kept: list[str] = []
    for b in outer:
        if b.tag == "table":
            raw, link_chars = _collect_table(b)
        else:
            raw, link_chars = _collect(b)
        text = " ".join(raw.split())  # collapse whitespace runs
        if len(text) < spec.HTML_MIN_TEXT_LEN:
            continue
        if link_chars / len(text) > spec.HTML_MAX_LINK_DENSITY:
            continue
        kept.append(text)
    return spec.HTML_BLOCK_JOINER.join(kept)


# ---------------------------------------------------------------------------
# Pseudo-PDF: tokenize → y-cluster → reading-order sort → page markers
# ---------------------------------------------------------------------------

_PAGE_RE = re.compile(spec.PDF_PAGE_RE)
_RUN_RE = re.compile(spec.PDF_RUN_RE)


def extract_pdf_stream(payload: str) -> tuple[str, bool]:
    """Returns (page-marked text, needs_ocr).

    Mirrors the reference's pagewise extraction (claude_text_extractor.py:63-84)
    on the spec's deterministic content-stream grammar: per page, text runs
    are clustered into lines by y (tolerance PDF_Y_TOL), lines ordered by
    descending y, runs within a line by ascending x, joined with single
    spaces; a vertical gap >= PDF_PARA_GAP emits one blank line. Pages carry
    '--- PAGE n ---' markers (fitzTest3.py:92-95). needs_ocr is True when
    the total stripped run text is under OCR_MIN_CHARS (extract_text.py:60-64).
    """
    pages: list[tuple[int, list[tuple[float, float, str]]]] = []
    current: list[tuple[float, float, str]] | None = None
    for line in payload.split("\n"):
        m = _PAGE_RE.match(line)
        if m:
            current = []
            pages.append((int(m.group(1)), current))
            continue
        m = _RUN_RE.match(line)
        if m and current is not None:
            current.append((float(m.group(1)), float(m.group(2)), m.group(3)))

    return _assemble_layout(pages)


def _assemble_layout(pages: list[tuple[int, list[tuple[float, float, str]]]]) -> tuple[str, bool]:
    """Shared layout assembly (spec reading order) for BOTH the pseudo-PDF
    grammar and real-PDF positioned runs: y-desc/x-asc sort, y-cluster
    lines (PDF_Y_TOL), single-space run join, paragraph blank line at
    PDF_PARA_GAP, page markers; needs_ocr from total stripped run chars."""
    total_chars = 0
    out_pages: list[str] = []
    for page_no, runs in pages:
        total_chars += sum(len(t.strip()) for _, _, t in runs)
        # sort by y desc, then x asc
        runs_sorted = sorted(runs, key=lambda r: (-r[1], r[0]))
        lines: list[list[tuple[float, float, str]]] = []
        prev_y: float | None = None
        for run in runs_sorted:
            if prev_y is None or (prev_y - run[1]) > spec.PDF_Y_TOL:
                lines.append([run])
            else:
                lines[-1].append(run)
            prev_y = run[1]
        rendered: list[str] = []
        prev_line_y: float | None = None
        for line_runs in lines:
            line_y = line_runs[0][1]  # max y in cluster (sorted desc)
            if prev_line_y is not None and (prev_line_y - line_y) >= spec.PDF_PARA_GAP:
                rendered.append("")
            rendered.append(" ".join(t for _, _, t in sorted(line_runs, key=lambda r: r[0])))
            prev_line_y = line_y
        body = "\n".join(rendered).strip()
        out_pages.append(spec.PAGE_MARKER_FMT.format(n=page_no) + "\n" + body)
    text = "\n".join(out_pages).strip()
    needs_ocr = total_chars < spec.OCR_MIN_CHARS
    return text, needs_ocr


# ---------------------------------------------------------------------------
# Spans + field parsing (regex_extractor.py / parse_fields.py semantics)
# ---------------------------------------------------------------------------

_CLAIM_NO = re.compile(spec.CLAIM_NO_PAT)
_AMOUNT = re.compile(spec.AMOUNT_PAT)
_REASON = re.compile(spec.REASON_PAT)
_NAME = re.compile(spec.NAME_PATTERNS[0])
_DATES = [re.compile(p) for p in spec.DATE_PATTERNS]
_RECORD_SPLIT = re.compile(spec.RECORD_SPLIT_PAT)

# Known date formats emitted by the fixture generator; normalization is a
# strict strptime ladder reproducing dateutil(fuzzy=True) results on them
# (parse_fields.py:33-38). Anything else → None.
_DATE_FORMATS = ["%m/%d/%Y", "%m-%d-%Y", "%d/%m/%Y", "%d-%m-%Y", "%m/%d/%y", "%m-%d-%y",
                 "%B %d, %Y", "%b %d, %Y", "%Y-%m-%d", "%Y/%m/%d"]


def normalize_date_oracle(raw: str | None) -> str | None:
    if not raw:
        return None
    from datetime import datetime

    s = raw.strip()
    for fmt in _DATE_FORMATS:
        try:
            return datetime.strptime(s, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    try:  # residue: dateutil fuzzy, exactly as parse_fields.py:35
        from dateutil import parser as date_parser

        return date_parser.parse(s, dayfirst=False, yearfirst=False, fuzzy=True).strftime("%Y-%m-%d")
    except Exception:
        return None


def find_spans(extracted_text: str) -> list[dict]:
    """Per-record field spans with ABSOLUTE offsets into extracted_text.

    Records are blank-line chunks (X1); within each record the first match
    of each field is emitted in SPAN_FIELD_ORDER. The date span is the first
    DATE_PATTERN whose match normalizes (regex_extractor.py:40-46)."""
    spans: list[dict] = []
    text = extracted_text
    pos = 0
    # re.split with offsets: iterate separators manually
    boundaries: list[tuple[int, int]] = []
    start = 0
    stripped = text.strip()
    lead = len(text) - len(text.lstrip())
    body = stripped
    for m in _RECORD_SPLIT.finditer(body):
        boundaries.append((start, m.start()))
        start = m.end()
    boundaries.append((start, len(body)))
    for b_start, b_end in boundaries:
        chunk = body[b_start:b_end]
        if not chunk:
            continue
        abs_off = lead + b_start
        for field in spec.SPAN_FIELD_ORDER:
            if field == "claim_number":
                m = _CLAIM_NO.search(chunk)
            elif field == "name":
                m = _NAME.search(chunk)
            elif field == "amount":
                m = _AMOUNT.search(chunk)
            elif field == "reason":
                m = _REASON.search(chunk)
            else:  # date — first pattern that normalizes
                m = None
                for pat in _DATES:
                    cand = pat.search(chunk)
                    if cand and normalize_date_oracle(cand.group(1)):
                        m = cand
                        break
            if m:
                val = m.group(1)
                # offsets of group(1), trailing-strip like the reference's
                # .strip() on captured values (values here never have lead ws)
                spans.append(
                    {
                        "field": field,
                        "start": abs_off + m.start(1),
                        "end": abs_off + m.end(1),
                        "value": val.strip(),
                    }
                )
    _ = pos
    return spans


def split_records_oracle(extracted_text: str) -> list[dict]:
    """regex_extractor.extract_with_regex_unstructured semantics (:12-55)."""
    results = []
    for chunk in _RECORD_SPLIT.split(extracted_text.strip()):
        claim_no = amount = reason = date = None
        m = _CLAIM_NO.search(chunk)
        if m:
            claim_no = m.group(1).strip()
        m = _AMOUNT.search(chunk)
        if m:
            amount = f"${m.group(1)}"
        m = _REASON.search(chunk)
        if m:
            reason = m.group(1).strip()
        for pat in _DATES:
            d = pat.search(chunk)
            if d:
                normalized = normalize_date_oracle(d.group(1))
                if normalized:
                    date = normalized
                    break
        if any([claim_no, amount, reason, date]):
            results.append(
                {"claim_number": claim_no, "amount": amount, "reason": reason, "date": date}
            )
    return results


def parse_fields_oracle(text: str) -> dict:
    """parse_fields.py:52-67 semantics (first-match ladders + confidence)."""
    text = text or ""
    claim_number = None
    for pat in spec.CLAIM_PATTERNS:
        m = re.search(pat, text)
        if m:
            claim_number = m.group(1).strip()
            break
    name_m = _NAME.search(text)
    name = name_m.group(1).strip() if name_m else None
    raw_date = None
    for pat in _DATES:
        m = pat.search(text)
        if m:
            raw_date = m.group(1).strip()
            break
    date = normalize_date_oracle(raw_date) if raw_date else None
    confidence = round(
        (spec.CONFIDENCE_WEIGHTS["claim_number"] if claim_number else 0.0)
        + (spec.CONFIDENCE_WEIGHTS["name"] if name else 0.0)
        + (spec.CONFIDENCE_WEIGHTS["date"] if date else 0.0),
        2,
    )
    return {"claim_number": claim_number, "name": name, "date": date, "confidence": confidence}


# ---------------------------------------------------------------------------
# LOB classification (C1 single-label, C2 multi-label)
# ---------------------------------------------------------------------------


def classify_lob_oracle(text: str | None) -> str:
    """claude_pdf_extractor.py:92-132: per LOB, the summed occurrence
    counts of its keywords in the uppercased text (re.findall —
    non-overlapping, each keyword counted on its own even when nested in
    a longer one); the highest score wins, first LOB in dict order on a
    tie; 'UNKNOWN' when every score is zero."""
    text_upper = (text or "").upper()
    scores = {}
    for lob in spec.LOB_C1_ORDER:
        score = 0
        for keyword in spec.LOB_PATTERNS_C1[lob]:
            score += len(re.findall(re.escape(keyword), text_upper))
        scores[lob] = score
    if max(scores.values()) == 0:
        return "UNKNOWN"
    return max(scores, key=scores.get)  # max() keeps the first maximum


def classify_lobs_oracle(text: str | None) -> list[str]:
    """text_lob_llm_extractor.py:231-244 heuristic branch (use_llm=False):
    a LOB is present when any of its padded tokens occurs in the
    uppercased text; labels in the table's order; ['AUTO'] when nothing
    matches."""
    text_upper = (text or "").upper()
    found = []
    for lob, tokens in spec.LOB_HITS_C2.items():
        for token in tokens:
            if text_upper.find(token) != -1:
                found.append(lob)
                break
    if not found:
        found = ["AUTO"]
    return found


# ---------------------------------------------------------------------------
# Per-turn dispatch (payload sniff → extract)
# ---------------------------------------------------------------------------

# PDF standard-security-handler twin (V1/R2 RC4, empty user password) —
# ORACLE-SIDE independent implementation (the engine's lives in
# operators/pdftext.py; per-turn equality forbids sharing). Public spec
# constants; structured as straight-line helpers over the raw byte string.

_ORACLE_PDF_PAD = bytes.fromhex(
    "28bf4e5e4e758a4164004e56fffa01082e2e00b6d0683e802f0ca9fe6453697a"
)


def _oracle_rc4(key: bytes, data: bytes) -> bytes:
    S = bytearray(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) % 256
        S[i], S[j] = S[j], S[i]
    res = bytearray()
    a = b = 0
    for c in data:
        a = (a + 1) % 256
        b = (b + S[a]) % 256
        S[a], S[b] = S[b], S[a]
        res.append(c ^ S[(S[a] + S[b]) % 256])
    return bytes(res)


def _oracle_aes_decrypt(key: bytes, payload: bytes) -> bytes:
    """Spec-style AES-128-CBC decrypt of an AESV2 stream payload (16-byte
    IV prefix, PKCS#7 padding) — GF(2^8) multiplies computed on the fly,
    deliberately unlike the engine's table-based inverse cipher. Raises on
    malformed geometry (the engine bails there)."""
    sbox = bytes.fromhex(
        "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
        "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
        "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
        "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
        "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
        "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
        "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
        "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
    )
    inv = {v: i for i, v in enumerate(sbox)}

    def gmul(a: int, b: int) -> int:
        r = 0
        while b:
            if b & 1:
                r ^= a
            a = ((a << 1) ^ 0x11B) if a & 0x80 else (a << 1)
            b >>= 1
        return r

    # key schedule (words of 4 bytes; AES-128 or AES-256 by key length)
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, 4 * nk, 4)]
    rc = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[-1])
        if i % nk == 0:
            t = [sbox[t[1]] ^ rc, sbox[t[2]], sbox[t[3]], sbox[t[0]]]
            rc = gmul(rc, 2)
        elif nk > 6 and i % nk == 4:
            t = [sbox[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])

    def dec_block(ct: bytes) -> bytes:
        st = [[ct[r + 4 * c] for c in range(4)] for r in range(4)]  # rows
        def ark(rnd):
            for c in range(4):
                for r in range(4):
                    st[r][c] ^= w[4 * rnd + c][r]
        ark(nr)
        for rnd in range(nr - 1, -1, -1):
            # InvShiftRows: row r rotates RIGHT by r
            for r in range(1, 4):
                st[r] = st[r][-r:] + st[r][:-r]
            for r in range(4):
                for c in range(4):
                    st[r][c] = inv[st[r][c]]
            ark(rnd)
            if rnd:
                for c in range(4):
                    col = [st[r][c] for r in range(4)]
                    for r in range(4):
                        st[r][c] = (
                            gmul(col[r], 14) ^ gmul(col[(r + 1) % 4], 11)
                            ^ gmul(col[(r + 2) % 4], 13) ^ gmul(col[(r + 3) % 4], 9)
                        )
        return bytes(st[r % 4][r // 4] for r in range(16))

    if len(payload) < 32 or len(payload) % 16:
        raise RuntimeError("malformed AESV2 payload — out of twin scope")
    prev = payload[:16]
    out = bytearray()
    for at in range(16, len(payload), 16):
        blk = payload[at : at + 16]
        out += bytes(a ^ b for a, b in zip(dec_block(blk), prev))
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16 or pad > len(out):
        raise RuntimeError("bad AESV2 padding — out of twin scope")
    return bytes(out[:-pad])


def _oracle_aes_forward_cbc(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Unpadded forward AES-CBC (128/256 by key length) — only needed by
    the R6 Algorithm 2.B hash; spec-style like _oracle_aes_decrypt."""
    sbox = bytes.fromhex(
        "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
        "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
        "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
        "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
        "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
        "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
        "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
        "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
    )

    def gmul(a: int, b: int) -> int:
        r = 0
        while b:
            if b & 1:
                r ^= a
            a = ((a << 1) ^ 0x11B) if a & 0x80 else (a << 1)
            b >>= 1
        return r

    t2 = [gmul(a, 2) for a in range(256)]
    t3 = [gmul(a, 3) for a in range(256)]
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, 4 * nk, 4)]
    rc = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[-1])
        if i % nk == 0:
            t = [sbox[t[1]] ^ rc, sbox[t[2]], sbox[t[3]], sbox[t[0]]]
            rc = gmul(rc, 2)
        elif nk > 6 and i % nk == 4:
            t = [sbox[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])

    def enc_block(pt: bytes) -> bytes:
        st = [[pt[r + 4 * c] for c in range(4)] for r in range(4)]

        def ark(rnd):
            for c in range(4):
                for r in range(4):
                    st[r][c] ^= w[4 * rnd + c][r]

        ark(0)
        for rnd in range(1, nr + 1):
            for r in range(4):
                for c in range(4):
                    st[r][c] = sbox[st[r][c]]
            for r in range(1, 4):  # ShiftRows: row r rotates LEFT by r
                st[r] = st[r][r:] + st[r][:r]
            if rnd < nr:
                for c in range(4):
                    col = [st[r][c] for r in range(4)]
                    for r in range(4):
                        st[r][c] = (
                            t2[col[r]] ^ t3[col[(r + 1) % 4]]
                            ^ col[(r + 2) % 4] ^ col[(r + 3) % 4]
                        )
            ark(rnd)
        return bytes(st[r % 4][r // 4] for r in range(16))

    prev = iv
    out = bytearray()
    for at in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[at : at + 16], prev))
        prev = enc_block(blk)
        out += prev
    return bytes(out)


from functools import lru_cache


@lru_cache(maxsize=256)
def _oracle_hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B over the oracle's own AES primitives.
    Memoized: 2.B is deliberately expensive (its job is slowing brute
    force), and the twins re-derive the same (pwd, salt) pairs per file."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    rounds = 0
    while True:
        e = _oracle_aes_forward_cbc(
            k[:16], k[16:32], (password + k + udata) * 64
        )
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        rounds += 1
        if rounds >= 64 and e[-1] <= rounds - 32:
            break
    return k[:32]


def _oracle_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Unpadded CBC decrypt built on the block machinery inside
    _oracle_aes_decrypt — used only for the 32-byte /UE key unwrap, so a
    synthetic padded payload round-trips through the padded API."""
    # wrap: encrypt-side helper gives us block-level access indirectly —
    # decrypt data+pad by appending a full pad block we construct
    fake_pad = _oracle_aes_forward_cbc(
        key, data[-16:], bytes([16]) * 16
    )
    out = _oracle_aes_decrypt(key, iv + data + fake_pad)
    return out


def _oracle_object_key(base: bytes, num: int) -> bytes:
    import hashlib
    import struct as _struct

    packed = _struct.pack("<I", num)[:3] + b"\x00\x00"  # gen 0
    return hashlib.md5(base + packed).digest()[: min(len(base) + 5, 16)]


def _oracle_object_aes_key(base: bytes, num: int) -> bytes:
    import hashlib
    import struct as _struct

    packed = _struct.pack("<I", num)[:3] + b"\x00\x00" + b"sAlT"  # gen 0
    return hashlib.md5(base + packed).digest()[: min(len(base) + 5, 16)]


def _oracle_encryption_key(data: bytes) -> bytes | None:
    """None when the trailer has no /Encrypt; (base_key, 'rc4'|'aes') for
    the standard-handler empty-user-password shapes (V1/R2 + V2/R3 RC4,
    V4/R4 AESV2); RuntimeError otherwise (the engine rung bails to the
    library chain there — error channel in-sandbox)."""
    import hashlib
    import struct as _struct

    t = data.rfind(b"trailer")
    # bound the slice at the following startxref so /Encrypt detection
    # sees only the trailer region, not appended objects / document text
    t_end = data.find(b"startxref", t) if t >= 0 else -1
    tseg = data[t : t_end if t_end >= 0 else len(data)] if t >= 0 else b""
    trailer = tseg if b"/Encrypt" in tseg else b""
    if not trailer and t < 0:
        # modern layout: the trailer fields live in an xref STREAM's dict
        # (never itself encrypted). The /XRef and /Encrypt tokens must
        # co-occur within a SINGLE object body — the two merely appearing
        # somewhere in document text must not trigger the branch; the
        # LAST such object in file order is the newest revision. Only
        # consulted when NO classic trailer exists at all (ISO 32000
        # precedence: the newest trailer governs — a stale xref stream
        # must not re-encrypt a file whose trailer dropped /Encrypt).
        for om in re.finditer(rb"\d+\s+0\s+obj(.*?)endobj", data, re.S):
            if b"/XRef" in om.group(1) and b"/Encrypt" in om.group(1):
                trailer = om.group(1)
    if not trailer:
        return None
    em = re.search(rb"/Encrypt\s+(\d+)\s+0\s+R", trailer)
    im = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]+)>", trailer)
    if not em or not im:
        raise RuntimeError("malformed /Encrypt trailer")
    om = re.search(
        rb"%d\s+0\s+obj(.*?)endobj" % int(em.group(1)), data, re.S
    )
    if not om:
        raise RuntimeError("unresolvable /Encrypt object")
    ed = om.group(1)
    vq = re.search(rb"/V\s+(\d+)", ed)
    rq = re.search(rb"/R\s+(\d+)", ed)
    pair = (int(vq.group(1)) if vq else 0, int(rq.group(1)) if rq else 0)
    if b"/Standard" not in ed or pair not in ((1, 2), (2, 3), (4, 4), (5, 6)):
        raise RuntimeError(
            "only Standard V1/R2, V2/R3 RC4, V4/R4 AESV2 and V5/R6 AESV3 are modeled"
        )
    rev = pair[1]
    if pair == (5, 6):
        if (not re.search(rb"/CFM\s*/AESV3(?![A-Za-z0-9])", ed)
                or not re.search(rb"/StmF\s*/StdCF(?![A-Za-z0-9])", ed)):
            raise RuntimeError("V5 configuration beyond /StdCF AESV3 — out of twin scope")
        um = re.search(rb"/U\s*<([0-9A-Fa-f\s]+)>", ed)
        uem = re.search(rb"/UE\s*<([0-9A-Fa-f\s]+)>", ed)
        if not um or not uem:
            raise RuntimeError("non-hex /U //UE — out of twin scope")
        u48 = bytes.fromhex(re.sub(rb"\s", b"", um.group(1)).decode())
        ue32 = bytes.fromhex(re.sub(rb"\s", b"", uem.group(1)).decode())
        if len(u48) < 48 or len(ue32) != 32:
            raise RuntimeError("malformed /U //UE — out of twin scope")
        for pwd in (b"",) + tuple(spec.KNOWN_USER_PASSWORDS):
            if _oracle_hash_2b(pwd[:127], u48[32:40]) == u48[:32]:
                inter = _oracle_hash_2b(pwd[:127], u48[40:48])
                return _oracle_cbc_decrypt_nopad(inter, bytes(16), ue32), "aesv3"
        raise RuntimeError("user password outside the book — out of twin scope")
    method = "rc4"
    if pair == (4, 4):
        if (not re.search(rb"/CFM\s*/AESV2(?![A-Za-z0-9])", ed)
                or not re.search(rb"/StmF\s*/StdCF(?![A-Za-z0-9])", ed)
                or re.search(rb"/EncryptMetadata\s+false", ed)):
            raise RuntimeError("V4 configuration beyond /StdCF AESV2 — out of twin scope")
        method = "aes"
        nk = 16
    else:
        lq = re.search(rb"/Length\s+(\d+)", ed)
        nk = 5 if rev == 2 else (int(lq.group(1)) // 8 if lq else 5)
    if not (5 <= nk <= 16):
        raise RuntimeError("key length out of range")
    ov = re.search(rb"/O\s*<([0-9A-Fa-f\s]+)>", ed)
    pv = re.search(rb"/P\s+(-?\d+)", ed)
    uv = re.search(rb"/U\s*<([0-9A-Fa-f\s]+)>", ed)
    if not ov or not pv or not uv:
        raise RuntimeError("non-hex /O //U or missing /P")
    o_val = bytes.fromhex(re.sub(rb"\s", b"", ov.group(1)).decode())
    file_id = bytes.fromhex(re.sub(rb"\s", b"", im.group(1)).decode())
    u_val = bytes.fromhex(re.sub(rb"\s", b"", uv.group(1)).decode())
    for pwd in (b"",) + tuple(spec.KNOWN_USER_PASSWORDS):
        digest = hashlib.md5(
            (pwd + _ORACLE_PDF_PAD)[:32] + o_val
            + _struct.pack("<i", int(pv.group(1))) + file_id
        ).digest()
        if rev >= 3:
            for _ in range(50):
                digest = hashlib.md5(digest[:nk]).digest()
        key = digest[:nk]
        if rev == 2:
            ok = _oracle_rc4(key, _ORACLE_PDF_PAD) == u_val
        else:
            u = hashlib.md5(_ORACLE_PDF_PAD + file_id).digest()
            for i in range(20):
                u = _oracle_rc4(bytes(x ^ i for x in key), u)
            ok = u == u_val[:16]
        if ok:
            return key, method
    raise RuntimeError("user password outside the book — out of twin scope")


def _oracle_parse_cmap(cm: bytes) -> dict[int, str]:
    """ToUnicode CMap → CID-to-unicode map, token-cursor style (the engine
    parses the same constructs with section regexes — independent code on
    purpose). Raises on anything malformed: a partial map would extract
    silently wrong text."""

    def dec(h: bytes) -> str:
        h = re.sub(rb"\s", b"", h)
        if len(h) % 4:
            raise RuntimeError("CMap destination is not UTF-16BE units")
        try:
            return bytes.fromhex(h.decode("ascii")).decode("utf-16-be")
        except (ValueError, UnicodeDecodeError):
            raise RuntimeError("undecodable CMap destination")

    tok_re = re.compile(rb"<([0-9A-Fa-f\s]*)>|\[|\]")
    out: dict[int, str] = {}
    pos = 0
    while True:
        c1 = cm.find(b"beginbfchar", pos)
        c2 = cm.find(b"beginbfrange", pos)
        starts = [s for s in (c1, c2) if s >= 0]
        if not starts:
            return out
        s = min(starts)
        kind = b"bfchar" if s == c1 else b"bfrange"
        end = cm.find(b"end" + kind, s)
        if end < 0:
            raise RuntimeError("unterminated CMap section")
        toks = [
            (m.group(0)[:1], m.group(1))
            for m in tok_re.finditer(cm, s + len(b"begin" + kind), end)
        ]
        if kind == b"bfchar":
            if len(toks) % 2 or any(t != b"<" for t, _ in toks):
                raise RuntimeError("malformed bfchar section")
            for k in range(0, len(toks), 2):
                src = int(re.sub(rb"\s", b"", toks[k][1]), 16)
                out[src] = dec(toks[k + 1][1])
        else:
            t = 0
            while t < len(toks):
                if toks[t][0] != b"<" or t + 2 >= len(toks) or toks[t + 1][0] != b"<":
                    raise RuntimeError("malformed bfrange entry")
                lo = int(re.sub(rb"\s", b"", toks[t][1]), 16)
                hi = int(re.sub(rb"\s", b"", toks[t + 1][1]), 16)
                if hi < lo or hi - lo > 0xFFFF:
                    raise RuntimeError("inverted/oversized bfrange")
                t += 2
                if toks[t][0] == b"[":
                    t += 1
                    dsts = []
                    while t < len(toks) and toks[t][0] == b"<":
                        dsts.append(toks[t][1])
                        t += 1
                    if t >= len(toks) or toks[t][0] != b"]" or len(dsts) != hi - lo + 1:
                        raise RuntimeError("bfrange array arity mismatch")
                    t += 1
                    for k, dh in enumerate(dsts):
                        out[lo + k] = dec(dh)
                else:
                    base = dec(toks[t][1])
                    if not base or ord(base[-1]) + (hi - lo) > 0xFFFF:
                        raise RuntimeError("bfrange increment overflow")
                    for k in range(hi - lo + 1):
                        out[lo + k] = base[:-1] + chr(ord(base[-1]) + k)
                    t += 1
        pos = end


def _oracle_obj_body(data: bytes, num: int) -> bytes | None:
    m = re.search(rb"(?<![0-9])%d\s+0\s+obj(.*?)endobj" % num, data, re.S)
    return m.group(1) if m else None


def _oracle_glyph_char(name: str):
    """Glyph name → char via the shared AGL-subset spec table, plus the
    AGL uniXXXX / uXXXX[XX] forms (own parse — the engine has its own)."""
    ch = spec.GLYPH_TO_UNICODE.get(name)
    if ch is not None:
        return ch
    if name.startswith("uni") and len(name) == 7:
        body = name[3:]
    elif name.startswith("u") and 5 <= len(name) <= 7:
        body = name[1:]
    else:
        return None
    try:
        cp = int(body, 16)
    except ValueError:
        return None
    if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
        return chr(cp)
    return None


def _oracle_parse_differences(seg: bytes) -> dict[int, str]:
    """/Differences array → byte remap, token-split style (the engine uses
    a single regex walk — independent code). Raises on unknown glyphs."""
    toks = seg.replace(b"[", b" ").replace(b"]", b" ").split()
    out: dict[int, str] = {}
    code = -1
    for tok in toks:
        if tok.startswith(b"/"):
            ch = _oracle_glyph_char(tok[1:].decode("latin-1"))
            if ch is None or not 0 <= code <= 255:
                raise RuntimeError("unmodeled /Differences entry — out of twin scope")
            out[code] = ch
            code += 1
        else:
            try:
                code = int(tok)
            except ValueError:
                raise RuntimeError("malformed /Differences array — out of twin scope")
    return out


def _oracle_base_table(name: bytes | None) -> dict[int, str]:
    """Base byte→char table: latin-1 identity when unnamed, else the
    shared Annex D data table (spec.BASE_ENCODING_TABLES — pure data,
    like the AGL glyph list; the lookup/bail logic stays per-twin).
    Raises on unmodeled names — reading e.g. WinAnsi as latin-1 would
    emit wrong 0x80–0x9F text."""
    if name is None:
        return {b: chr(b) for b in range(256)}
    tbl = spec.BASE_ENCODING_TABLES.get(name.decode("latin-1"))
    if tbl is None:
        raise RuntimeError("unmodeled base encoding — out of twin scope")
    return dict(tbl)


def _oracle_tounicode_map(data: bytes, num: int) -> dict[int, str]:
    """Resolve + decode a /ToUnicode CMap stream object by number."""
    cbody = _oracle_obj_body(data, num)
    if cbody is None:
        raise RuntimeError("unresolvable ToUnicode object — out of twin scope")
    s_at = cbody.find(b"stream")
    if s_at < 0:
        raise RuntimeError("ToUnicode without a stream")
    at = s_at + 6
    if cbody[at : at + 2] == b"\r\n":
        at += 2
    elif cbody[at : at + 1] == b"\n":
        at += 1
    lm = re.search(rb"/Length\s+(\d+)", cbody[:s_at])
    if lm:
        raw = cbody[at : at + int(lm.group(1))]
    else:
        e = cbody.find(b"endstream", at)
        raw = cbody[at : e if e >= 0 else len(cbody)].rstrip(b"\r\n")
    if b"/FlateDecode" in cbody[:s_at]:
        import zlib

        try:
            raw = zlib.decompress(raw)
        except zlib.error:
            raise RuntimeError("undecodable ToUnicode stream")
    return _oracle_parse_cmap(raw)


def _oracle_font_maps(data: bytes, enc_key: bytes | None):
    """(resource-name → font handle, strict) for the whole file: handles
    are None (simple latin-1), ('cid', map) (Type0 + ToUnicode) or
    ('diff', map) (a byte→char map: a simple font's own 1-byte ToUnicode
    CMap, a named Annex D base encoding, and/or an /Encoding
    /Differences overlay). The oracle scanner has no page model, so
    /Font resource names resolve GLOBALLY; a name bound to two different
    font objects, an encrypted CID/Differences file, or any unmodeled
    configuration raises (out of twin scope — the fixtures never produce
    those shapes; the engine resolves fonts per page and also covers
    encrypted CID files)."""
    if (
        b"/Type0" not in data
        and b"/Differences" not in data
        and b"/ToUnicode" not in data
        and b"/Encoding" not in data
    ):
        return {}, False
    if enc_key is not None:
        raise RuntimeError("encrypted CID/Differences file — out of twin scope")
    name_obj: dict[bytes, int] = {}
    for fm in re.finditer(rb"/Font\s*<<", data):
        end = data.find(b">>", fm.end())
        if end < 0:
            continue
        for pm in re.finditer(
            rb"/([^\s/<>()\[\]{}%]+)\s+(\d+)\s+0\s+R", data[fm.end(): end]
        ):
            name, num = pm.group(1), int(pm.group(2))
            if name_obj.setdefault(name, num) != num:
                raise RuntimeError("ambiguous font resource name — out of twin scope")
    maps: dict[bytes, dict[int, str] | None] = {}
    for name, num in name_obj.items():
        body = _oracle_obj_body(data, num)
        if body is None:
            raise RuntimeError("unresolvable font object — out of twin scope")
        if b"/Type0" not in body:
            tm = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R", body)
            if tm:
                # subset-font path: the font's OWN 1-byte CMap is
                # authoritative (its /Differences names g3, g7, … carry
                # no unicode meaning)
                cmap = _oracle_tounicode_map(data, int(tm.group(1)))
                if any(k > 0xFF for k in cmap):
                    raise RuntimeError(
                        "wide simple-font ToUnicode — out of twin scope"
                    )
                maps[name] = ("diff", cmap)
                continue
            enc_seg = body
            em = re.search(rb"/Encoding\s+(\d+)\s+0\s+R", body)
            dm = re.search(rb"(?<![A-Za-z])/Encoding\s*<<", body)
            if em:
                enc_seg = _oracle_obj_body(data, int(em.group(1))) or b""
            elif dm:
                # inline encoding DICT: limit the scan to it, so a
                # spec-recommended `/Type /Encoding` inside the dict can't
                # read as a named base encoding (`/Encoding /Differences`)
                enc_seg = body[dm.start():]
            nm = (
                None
                if (em or dm)
                else re.search(rb"/Encoding\s*/([A-Za-z][A-Za-z0-9]*)", body)
            )
            bm = re.search(rb"/BaseEncoding\s*/([A-Za-z][A-Za-z0-9]*)", enc_seg)
            # an indirect /Encoding object may be a BARE name
            nm2 = (
                re.fullmatch(rb"/([A-Za-z][A-Za-z0-9]*)", enc_seg.strip())
                if em
                else None
            )
            base_name = (
                nm.group(1)
                if nm
                else nm2.group(1)
                if nm2
                else bm.group(1)
                if bm
                else None
            )
            if b"/Differences" in enc_seg:
                at = enc_seg.find(b"/Differences")
                lb = enc_seg.find(b"[", at)
                rb_ = enc_seg.find(b"]", lb)
                if lb < 0 or rb_ < 0:
                    raise RuntimeError("malformed /Differences array — out of twin scope")
                table = _oracle_base_table(base_name)
                table.update(_oracle_parse_differences(enc_seg[lb:rb_ + 1]))
                maps[name] = ("diff", table)
            elif base_name is not None:
                maps[name] = ("diff", _oracle_base_table(base_name))
            else:
                maps[name] = None
            continue
        if not re.search(rb"/Encoding\s*/Identity-H(?![A-Za-z0-9])", body):
            raise RuntimeError("non-Identity-H Type0 font — out of twin scope")
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R", body)
        if not tm:
            raise RuntimeError("Type0 font without ToUnicode — out of twin scope")
        maps[name] = ("cid", _oracle_tounicode_map(data, int(tm.group(1))))
    return maps, True


def _oracle_decode_shown(bs: bytes, handle) -> str:
    """Shown bytes under the active font handle (None / 'cid' / 'diff').
    A byte the 'diff' map leaves undefined raises — undefined codes are
    refused, never guessed (the engine rung bails there)."""
    if handle is None:
        return bs.decode("latin-1")
    kind, m = handle
    if kind == "diff":
        out = []
        for b in bs:
            ch = m.get(b)
            if ch is None:
                raise RuntimeError("undefined byte code — out of twin scope")
            out.append(ch)
        return "".join(out)
    return _oracle_cid_decode(bs, m)


def _oracle_cid_decode(bs: bytes, cmap: dict[int, str]) -> str:
    """Big-endian 2-byte codes through the ToUnicode map; raises on odd
    length or an unmapped code (the engine rung bails there)."""
    if len(bs) % 2:
        raise RuntimeError("odd-length CID string — out of twin scope")
    out = []
    for k in range(0, len(bs), 2):
        s = cmap.get((bs[k] << 8) | bs[k + 1])
        if s is None:
            raise RuntimeError("CID code missing from ToUnicode — out of twin scope")
        out.append(s)
    return "".join(out)


def _oracle_defilter(head: bytes, raw: bytes) -> bytes | None:
    """Decode a stream's /Filter chain with the oracle's OWN decoders
    (LZW / ASCIIHex / ASCII85 / Flate — structurally independent of the
    engine's). None = skip this stream (no filter text, or a Flate error,
    today's behavior); RuntimeError on a MALFORMED payload under a
    modeled classic filter (wrong text must never beat no text). A
    filter name outside the modeled set leaves the bytes as-is — image
    streams (DCTDecode etc.) legitimately carry them and never show
    text."""
    import zlib

    fm = re.search(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", head)
    if not fm:
        return raw
    for name in re.findall(rb"/([A-Za-z0-9]+)", fm.group(1)):
        if name in (b"FlateDecode", b"Fl"):
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                return None
        elif name in (b"ASCIIHexDecode", b"AHx"):
            raw = _oracle_asciihex(raw)
        elif name in (b"ASCII85Decode", b"A85"):
            raw = _oracle_ascii85(raw)
        elif name in (b"LZWDecode", b"LZW"):
            em = re.search(rb"/EarlyChange\s+(\d+)", head)
            raw = _oracle_lzw(raw, int(em.group(1)) if em else 1)
        else:
            return raw
    return raw


def _oracle_asciihex(raw: bytes) -> bytes:
    """ASCIIHex, nibble-cursor style: walk chars, build bytes two nibbles
    at a time, '>' ends, trailing nibble padded with zero."""
    out = bytearray()
    hi = -1
    for c in raw:
        if c == 0x3E:  # '>'
            break
        ch = chr(c)
        if ch.isspace():
            continue
        if ch not in "0123456789abcdefABCDEF":
            raise RuntimeError("non-hex byte in ASCIIHex stream")
        v = int(ch, 16)
        if hi < 0:
            hi = v
        else:
            out.append(hi * 16 + v)
            hi = -1
    if hi >= 0:
        out.append(hi * 16)
    return bytes(out)


def _oracle_ascii85(raw: bytes) -> bytes:
    """ASCII85 via whitespace-strip + index walk with struct packing —
    'z' zero-group shorthand, '~>' EOD, partial tail n chars → n-1
    bytes."""
    import struct as _struct

    eod = raw.find(b"~>")
    body = re.sub(rb"\s", b"", raw[: eod if eod >= 0 else len(raw)])
    out = bytearray()
    i = 0
    while i < len(body):
        if body[i] == 0x7A:  # 'z'
            out += bytes(4)
            i += 1
            continue
        grp = body[i : i + 5]
        if b"z" in grp:
            raise RuntimeError("'z' inside an ASCII85 group")
        pad = 5 - len(grp)
        if pad == 4:
            raise RuntimeError("1-char final ASCII85 group")
        val = 0
        for c in grp + b"u" * pad:
            if not (0x21 <= c <= 0x75):
                raise RuntimeError("byte outside the ASCII85 alphabet")
            val = val * 85 + (c - 0x21)
        if val >> 32:
            raise RuntimeError("ASCII85 group overflow")
        quad = _struct.pack(">I", val)
        out += quad[: 4 - pad] if pad else quad
        i += 5
    return bytes(out)


def _oracle_lzw(raw: bytes, early: int = 1) -> bytes:
    """LZW with a LIST-backed table and a big-int bit cursor (the engine
    keeps a dict table and a rolling accumulator — independent walks).
    Raises on truncation or out-of-range codes."""
    bits = int.from_bytes(raw, "big")
    total = len(raw) * 8
    at = 0
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev = b""
    out = bytearray()
    while at + width <= total:
        code = (bits >> (total - at - width)) & ((1 << width) - 1)
        at += width
        if code == 257:
            return bytes(out)
        if code == 256:
            del table[258:]
            width, prev = 9, b""
            continue
        if prev == b"":
            if code > 255:
                raise RuntimeError("LZW first code after clear is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if entry == b"":
                raise RuntimeError("LZW code references a reserved slot")
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise RuntimeError("LZW code beyond the table")
        out += entry
        prev = entry
        if len(table) + early >= (1 << width) and width < 12:
            width += 1
    raise RuntimeError("LZW stream truncated before EOD")



_ORACLE_WS = frozenset(b"\x00\t\n\x0c\r ")
_ORACLE_DELIM = frozenset(b"\x00\t\n\x0c\r /<>[]()")


def _oracle_strip_inline(raw: bytes) -> bytes:
    """Blank BI…ID…EI inline-image extents to spaces, char-cursor style
    (the engine's _strip_inline_images jumps between C-level find()s —
    independent walks, same semantics): a literal/hex string is copied
    through with escape/nesting tracking, a top-level BI token starts an
    image whose data ends at the first whitespace+EI+delimiter run.
    Raises on a BI with no ID/EI terminator (truncated image — wrong
    text must never beat no text)."""
    if b"BI" not in raw:
        return raw
    out = bytearray(raw)
    i, n = 0, len(raw)
    while i < n:
        c = raw[i]
        if c == 0x28:  # ( literal — skip with escape/nesting tracking
            depth, i = 1, i + 1
            while i < n and depth:
                if raw[i] == 0x5C:
                    i += 2
                    continue
                if raw[i] == 0x28:
                    depth += 1
                elif raw[i] == 0x29:
                    depth -= 1
                i += 1
            continue
        if c == 0x3C:  # <hex> or << dict
            if raw[i : i + 2] == b"<<":
                i += 2
                continue
            gt = raw.find(b">", i)
            i = n if gt < 0 else gt + 1
            continue
        if (
            c == 0x42  # 'B'
            and raw[i : i + 2] == b"BI"
            and (i == 0 or raw[i - 1] in _ORACLE_WS or raw[i - 1] in b">)]")
            and (i + 2 >= n or raw[i + 2] in _ORACLE_DELIM)
        ):
            j = i + 2
            while j < n:  # the ID token: delimited before, whitespace after
                if (
                    raw[j : j + 2] == b"ID"
                    and raw[j - 1] in _ORACLE_WS | frozenset(b">]")
                    and j + 2 < n
                    and raw[j + 2] in _ORACLE_WS
                ):
                    break
                j += 1
            else:
                raise RuntimeError("inline image with no ID token")
            j += 3  # past ID and the single data-start whitespace byte
            while j < n:
                if (
                    raw[j] in _ORACLE_WS
                    and raw[j + 1 : j + 3] == b"EI"
                    and (j + 3 >= n or raw[j + 3] in _ORACLE_DELIM)
                ):
                    break
                j += 1
            else:
                raise RuntimeError("inline image data with no EI terminator")
            end = j + 3
            out[i:end] = b" " * (end - i)
            i = end
            continue
        i += 1
    return bytes(out)


def _oracle_xobject_names(data: bytes) -> dict[bytes, int]:
    """Resource-name → object number for every `/XObject <<…>>` dict in
    the file — GLOBAL, like _oracle_font_maps (the oracle has no page
    model); a name bound to two different objects raises (out of twin
    scope — the engine resolves /XObject per page/form)."""
    names: dict[bytes, int] = {}
    for xm in re.finditer(rb"/XObject\s*<<", data):
        end = data.find(b">>", xm.end())
        if end < 0:
            continue
        for pm in re.finditer(
            rb"/([^\s/<>()\[\]{}%]+)\s+(\d+)\s+0\s+R", data[xm.end(): end]
        ):
            name, num = pm.group(1), int(pm.group(2))
            if names.setdefault(name, num) != num:
                raise RuntimeError(
                    "ambiguous XObject resource name — out of twin scope"
                )
    return names


def _oracle_form_matrix(head: bytes) -> tuple[float, ...]:
    """The 6-tuple of an absent/identity (→ identity), translate-only,
    scale, or rotation form /Matrix — the linear part must have
    ORTHOGONAL columns and a nonzero determinant; true shear or a
    singular matrix raises (out of the splice's model)."""
    mm = re.search(rb"/Matrix\s*\[([^\]]*)\]", head)
    if not mm:
        return (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    try:
        vals = [float(v) for v in mm.group(1).decode("latin-1").split()]
    except ValueError:
        raise RuntimeError("unparsable form /Matrix — out of twin scope")
    if len(vals) != 6:
        raise RuntimeError("unparsable form /Matrix — out of twin scope")
    a, b, c, d = vals[:4]
    if abs(a * c + b * d) > 1e-9 or abs(a * d - b * c) < 1e-12:
        raise RuntimeError(
            "sheared or singular form /Matrix — out of twin scope"
        )
    return tuple(vals)


def _oracle_fmt_coord(v: float) -> bytes:
    s = f"{v:.4f}".rstrip("0").rstrip(".")
    return (s or "0").encode("ascii")


_ORACLE_NAME_RE = re.compile(rb"/([^\s/<>()\[\]{}%]*)")
_ORACLE_OP2_RE = re.compile(rb"(?:BT|ET|cm|Do)(?![A-Za-z0-9])")


def _oracle_splice_forms(
    raw: bytes,
    names: dict[bytes, int],
    forms: dict[int, bytes],
    images: set[int],
    form_heads: dict[int, bytes],
    depth: int = 0,
) -> bytes:
    """Splice `/Name Do` form invocations into ``raw`` at the call site —
    the oracle's own char-cursor scan (the engine expands via its chunked
    regex walk; independent algorithms, same modeled subset). Each splice
    is isolated in a synthetic `q … Q` (ISO 32000 §8.10.2 — Do saves and
    restores graphics state; r7), so a page CTM around the Do or a cm
    inside an identity-matrix form composes through the walk's state
    tracking instead of bailing. Raises on: nesting > 8, Do inside a
    BT…ET block, an unresolvable name, a non-form/-image target, or an
    unmodeled form /Matrix. Image Do ops are dropped (no text)."""
    if depth > 8:
        raise RuntimeError("form nesting too deep — out of twin scope")
    if b"Do" not in raw:
        return raw
    splices: list[tuple[int, int, bytes]] = []  # (start, end, name)
    i, n = 0, len(raw)
    bt = 0
    while i < n:
        c = raw[i]
        if c == 0x28:  # ( literal — skip with escape/nesting tracking
            depth_s, i = 1, i + 1
            while i < n and depth_s:
                if raw[i] == 0x5C:
                    i += 2
                    continue
                if raw[i] == 0x28:
                    depth_s += 1
                elif raw[i] == 0x29:
                    depth_s -= 1
                i += 1
            continue
        if c == 0x3C:  # <hex> or << dict
            if raw[i : i + 2] == b"<<":
                i += 2
                continue
            gt = raw.find(b">", i)
            i = n if gt < 0 else gt + 1
            continue
        if c == 0x2F:  # /Name — a Do immediately after it is a splice site
            nm = _ORACLE_NAME_RE.match(raw, i)
            dm = re.match(rb"\s+Do(?![A-Za-z0-9])", raw[nm.end():])
            if dm:
                if bt:
                    raise RuntimeError(
                        "Do inside a BT block — out of twin scope"
                    )
                splices.append((i, nm.end() + dm.end(), nm.group(1)))
                i = nm.end() + dm.end()
            else:
                i = nm.end()
            continue
        if (i == 0 or raw[i - 1] in _ORACLE_WS or raw[i - 1] in b">)]"):
            m2 = _ORACLE_OP2_RE.match(raw, i)
            if m2:
                op = raw[i : i + 2]
                if op == b"BT":
                    bt += 1
                elif op == b"ET":
                    bt = max(0, bt - 1)
                # a bare Do with no adjacent /Name is ignored (both twins)
                i = m2.end()
                continue
        i += 1
    if not splices:
        return raw
    out = bytearray()
    last = 0
    for start, end, name in splices:
        out += raw[last:start]
        last = end
        num = names.get(name)
        if num in images:
            continue  # image XObject: pixels carry no text
        if num is None or num not in forms:
            raise RuntimeError("unresolvable Do target — out of twin scope")
        mat = _oracle_form_matrix(form_heads[num])
        sub = _oracle_splice_forms(
            forms[num], names, forms, images, form_heads, depth + 1
        )
        if mat != (1.0, 0.0, 0.0, 1.0, 0.0, 0.0):
            # the form /Matrix IS a cm inside the isolation wrapper —
            # the walk's state tracking composes it (r7 late; replaced
            # the operand-rewrite path and its bails)
            sub = b" ".join(
                _oracle_fmt_coord(v) for v in mat
            ) + b" cm\n" + sub
        # synthetic §8.10.2 state isolation — mirrors the engine splice
        out += b"\nq\n" + sub + b"\nQ\n"
    out += raw[last:]
    return bytes(out)


def extract_real_pdf(payload: str) -> tuple[str, bool]:
    """Independent row-at-a-time real-PDF layout parse (the oracle twin of
    operators/pdftext.py — different algorithm on purpose: a sequential
    char-level scan over streams in FILE order, no object map / page-tree
    walk; operand numbers buffered inline rather than regex-matched).
    Covers the same subset: raw or FlateDecode content streams, Tj/'/"/TJ
    shows with line-origin tracking (BT/Td/TD/Tm/T*), literal-string
    escapes, hex strings, and CID-keyed Type0 fonts (Identity-H +
    ToUnicode, resolved by _oracle_font_maps with its own cursor-style
    CMap parser) — then the SAME spec reading-order assembly as the
    pseudo-PDF path (_assemble_layout: y-cluster lines, x sort, paragraph
    gaps, page markers, <OCR_MIN_CHARS trigger)."""
    import zlib

    data = payload.encode("latin-1", errors="ignore")
    enc_key = _oracle_encryption_key(data)  # None = plaintext; raises on
    # any encryption the twins don't model (mirrors the engine rung's bail)
    # Owning-object tracking: headers are only valid OUTSIDE
    # stream…endstream extents — a digit+' 0 obj' byte run occurring
    # inside an earlier stream's ciphertext must not re-key or re-own the
    # next stream (the engine parses real object boundaries). The scan
    # advances gap-by-gap as the inventory loop walks the file. The owner
    # serves twice: per-object RC4/AES keys, and INCREMENTAL-UPDATE
    # supersession — an append-save (ISO 32000 §7.5.6) re-emits a replaced
    # object at the file tail, and only its NEWEST version may show, at
    # the FIRST-SEEN position (the engine gets both from its last-wins
    # object map + page-tree walk; this walk stays map-free on purpose).
    obj_head_re = re.compile(rb"(\d+)\s+0\s+obj\b")
    cur_onum: int | None = None
    cur_head_at = 0  # end offset of the last owner header seen
    gap_from = 0
    font_maps, strict_fonts = _oracle_font_maps(data, enc_key)
    pages: list[list[tuple[float, float, str]]] = []
    # pass 1 — stream inventory in file order, last version per owner wins
    inventory: dict[object, list] = {}  # owner -> [first_seen, onum, head, raw]
    body_spans: list[tuple[int, int]] = []  # stream-body extents (r7 /Rotate)
    seq = 0
    pos = 0
    while True:
        s = data.find(b"stream", pos)
        if s < 0:
            break
        if data[max(0, s - 3):s] == b"end":  # the 'stream' inside 'endstream'
            pos = s + 6
            continue
        # owner scan FIRST so the head can start at the owner header —
        # rfind('<<') alone stops at a NESTED dict opener (e.g. the
        # /Resources << /Font … >> inside a form XObject's stream dict)
        # and would hide /Subtype /Form from the head
        for m in obj_head_re.finditer(data, gap_from, s):
            cur_onum = int(m.group(1))
            cur_head_at = m.end()
        if cur_head_at > pos:
            head = data[cur_head_at:s]
        else:
            dict_start = data.rfind(b"<<", pos, s)
            head = data[dict_start:s] if dict_start >= 0 else b""
        body_at = s + 6
        if data[body_at : body_at + 2] == b"\r\n":
            body_at += 2
        elif data[body_at : body_at + 1] == b"\n":
            body_at += 1
        mlen = re.search(rb"/Length\s+(\d+)", head)
        if mlen:
            raw = data[body_at : body_at + int(mlen.group(1))]
            pos = body_at + int(mlen.group(1))
        else:
            end = data.find(b"endstream", body_at)
            if end < 0:
                break
            raw = data[body_at:end].rstrip(b"\r\n")
            pos = end
        body_spans.append((body_at, pos))
        gap_from = pos
        key: object = cur_onum if cur_onum is not None else ("anon", seq)
        slot = inventory.get(key)
        if slot is not None:
            slot[2:] = [head, raw]  # replaced object: newest body wins
        else:
            inventory[key] = [seq, cur_onum, head, raw]
        seq += 1

    def _decrypt(onum: int | None, raw: bytes) -> bytes | None:
        if enc_key is None:
            return raw
        # per-object RC4/AES keys need the owner (decryption wraps
        # compression); an ownerless stream can't be keyed — skip it
        if onum is None:
            return None
        base_key, enc_method = enc_key
        if enc_method == "aesv3":
            return _oracle_aes_decrypt(base_key, raw)  # FILE key (V5)
        if enc_method == "aes":
            return _oracle_aes_decrypt(
                _oracle_object_aes_key(base_key, onum), raw
            )
        return _oracle_rc4(_oracle_object_key(base_key, onum), raw)

    # /Rotate (r7, §7.7.3.3): this map-free walk cannot associate streams
    # with page dicts, so display rotation is modeled for the UNIFORM case
    # only — one distinct /Rotate (and /MediaBox) across the file's
    # NON-stream bytes (stream bodies blanked: compressed bytes could fake
    # a "/Rotate n"). Mixed per-page rotations are out of twin scope (the
    # engine's page-tree walk handles them; raise here). The rotation
    # becomes the initial CTM of every page walk — the same displayed
    # orientation the engine's synthetic leading `cm` produces.
    hole_parts = []
    prev_end = 0
    for s0, s1 in body_spans:
        hole_parts.append(data[prev_end:s0])
        prev_end = max(prev_end, s1)
    hole_parts.append(data[prev_end:])
    holes = b"\n".join(hole_parts)
    init_ctm: tuple | None = None
    rot_matches = re.findall(rb"/Rotate\s+(-?\d+)", holes)
    rot_vals = {int(v) for v in rot_matches}
    if rot_vals:
        if len(rot_vals) > 1:
            raise RuntimeError(
                "mixed per-page /Rotate — out of twin scope"
            )
        rot = rot_vals.pop() % 360
        if rot % 90:
            raise RuntimeError(
                "non-quarter /Rotate — out of twin scope"
            )
        # uniformity guard: this walk cannot tell WHICH page a /Rotate
        # belongs to, so a nonzero rotation on a multi-page file is in
        # twin scope only when every page carries it explicitly — a
        # partial (or tree-node) rotation over several pages raises,
        # while the engine's page-tree walk handles it per page.
        n_pages = len(re.findall(rb"/Type\s*/Page(?![A-Za-z0-9])", holes))
        if rot and n_pages > 1 and len(rot_matches) < n_pages:
            raise RuntimeError(
                "partial /Rotate coverage on a multi-page file — "
                "out of twin scope"
            )
        if rot:
            boxes = {
                re.sub(rb"\s+", b" ", m.group(1)).strip()
                for m in re.finditer(rb"/MediaBox\s*\[([^\]]*)\]", holes)
            }
            if len(boxes) != 1:
                raise RuntimeError(
                    "missing or mixed /MediaBox under /Rotate — "
                    "out of twin scope"
                )
            parts = boxes.pop().split()
            if len(parts) != 4:
                raise RuntimeError("unparsable /MediaBox — out of twin scope")
            x0, y0, x1, y1 = (float(p) for p in parts)
            if rot == 90:
                init_ctm = (0.0, -1.0, 1.0, 0.0, -y0, x1)
            elif rot == 180:
                init_ctm = (-1.0, 0.0, 0.0, -1.0, x1, y1)
            else:
                init_ctm = (0.0, 1.0, -1.0, 0.0, y1, -x0)

    # pass 2a — XObject streams leave the page walk: a /Subtype /Form
    # stream is decoded (+ inline-blanked) into the splice map — a Do may
    # invoke a form defined LATER in the file — and a /Subtype /Image
    # stream's pixels are droppable at its Do site
    xobj_names = _oracle_xobject_names(data)
    forms: dict[int, bytes] = {}
    images: set[int] = set()
    form_heads: dict[int, bytes] = {}
    page_streams: list[tuple[int, int | None, bytes, bytes]] = []
    for first_seen, onum, head, raw in sorted(inventory.values()):
        sm = re.search(rb"/Subtype\s*/(Form|Image)(?![A-Za-z0-9])", head)
        if sm and onum is not None:
            if sm.group(1) == b"Image":
                images.add(onum)
                continue
            fraw = _decrypt(onum, raw)
            fraw = _oracle_defilter(head, fraw) if fraw is not None else None
            if fraw is None:
                raise RuntimeError(
                    "undecodable form XObject — out of twin scope"
                )
            forms[onum] = _oracle_strip_inline(fraw)
            form_heads[onum] = head
            continue
        page_streams.append((first_seen, onum, head, raw))

    # pass 2b — decrypt/defilter/splice/walk each page stream, first-seen
    # order
    for _first_seen, onum, head, raw in page_streams:
        if re.search(rb"/Type\s*/XRef(?![A-Za-z0-9])", head):
            # xref streams are NEVER encrypted (ISO 32000 §7.5.8.2) and
            # carry no content — decrypting one under AES would raise on
            # its (plaintext) padding instead of skipping
            continue
        raw = _decrypt(onum, raw)
        if raw is None:
            continue
        raw = _oracle_defilter(head, raw)
        if raw is None:
            continue
        if b"BT" not in raw and b"Do" not in raw:
            continue
        raw = _oracle_strip_inline(raw)  # raises on a truncated image
        had_do = re.search(rb"/[^\s/<>()\[\]{}%]+\s+Do(?![A-Za-z0-9])", raw)
        raw = _oracle_splice_forms(raw, xobj_names, forms, images, form_heads)
        if b"BT" not in raw:
            # a content stream whose only invocations were IMAGE XObjects
            # (the scanned-page shape, r7): an EMPTY page on both twins —
            # the engine's page walk emits the marker and the no-text page
            # trips the <OCR_MIN_CHARS needs_ocr trigger. Streams that
            # never invoked anything stay skipped (CMaps, metadata).
            if had_do:
                pages.append([])
            continue
        # char-level token walk with text-line-origin tracking: numbers are
        # buffered so Td/TD (relative) and Tm (absolute e, f) can consume
        # their operands; consecutive shows with no position op in between
        # merge into one run (TJ halves reassemble — pdfminer's box model)
        runs: list[tuple[float, float, str]] = []
        strings: list[str] = []  # strings pending a show operator
        nums: list[float] = []
        x = y = 0.0
        leading = 0.0  # text STATE (set by TL / TD) — survives BT
        # top-level graphics state (r7, mirrors the engine walk): `cm`
        # composes (row-vector §8.3.4: new matrix applies first), q/Q
        # push/pop; device position = text-space origin through the CTM
        # at show time. Orthogonal-column invertible linear parts only —
        # shear/singular/operand-less cm and unbalanced Q raise.
        ctm: tuple | None = init_ctm  # /Rotate display matrix, if any
        ctm_stack: list[tuple | None] = []
        lin: tuple | None = None  # Tm linear part (r7; None = identity)
        # mirror the engine's C-substring prefilter exactly: with no `cm`
        # bytes in the stream the engine's fast path never looks at q/Q
        # (they are geometric no-ops while the CTM is identity), so the
        # oracle must not either — an unbalanced Q on a cm-free page must
        # not raise here when the engine walk ignores it. A /Rotate page
        # carries the engine's synthetic leading `cm`, so both sides
        # track state there.
        track_ctm = b"cm" in raw or init_ctm is not None
        moved = True
        in_tj_array = False
        # TJ word-break synthesis (r7, spec.TJ_SPACE_KERN): a displacement
        # <= -threshold inside a TJ array prefixes ONE space to the next
        # show in that array; never crosses array boundaries
        pending_space = False
        # /ActualText marked-content replacement (r7, §14.9.4 — mirrors
        # the engine walk): inside such a sequence the FIRST show shows
        # the replacement and later shows are swallowed; a sequence that
        # closes without showing emits the replacement at the EMC origin.
        in_actual = False
        actual_pending: str | None = None
        mc_depth = 0  # BDC/BMC nested inside the open sequence
        cur_map = None  # active font handle (None / ('cid', m) / ('diff', m))
        # Tf operand tracking mirrors the engine's `/Name NUM Tf` regex
        # adjacency (round-6 advice finding): the name is live only until
        # any non-number token intervenes, and Tf consumes it only when
        # EXACTLY one number (the font size) separates them — a stale name
        # (e.g. /GS1 from a gs op) never feeds a later operand-less Tf.
        last_name: bytes | None = None  # most recent /Name token (Tf operand)
        name_nums = 0  # numbers scanned since that /Name
        i, n = 0, len(raw)

        def show():
            nonlocal moved, actual_pending
            if not strings:
                return
            if in_actual:
                strings.clear()  # enclosed bytes never show (§14.9.4)
                if actual_pending is None:
                    return  # later show inside the sequence — swallowed
                txt = actual_pending
                actual_pending = None
            else:
                txt = "".join(strings)
                strings.clear()
            if runs and not moved:
                px, py, pt = runs[-1]
                runs[-1] = (px, py, pt + txt)
            elif ctm is None:
                runs.append((x, y, txt))
            else:
                a, b, c, d, e, f = ctm
                runs.append((a * x + c * y + e, b * x + d * y + f, txt))
            moved = False

        while i < n:
            ch = raw[i]
            if ch == 0x28:  # (
                buf = []
                depth = 1
                i += 1
                while i < n and depth:
                    c = raw[i]
                    if c == 0x5C and i + 1 < n:
                        nx = raw[i + 1]
                        table = {0x6E: "\n", 0x72: "\r", 0x74: "\t", 0x62: "\b",
                                 0x66: "\f", 0x28: "(", 0x29: ")", 0x5C: "\\"}
                        if nx in table:
                            buf.append(table[nx]); i += 2
                        elif 0x30 <= nx <= 0x37:
                            j, o = i + 1, ""
                            while j < n and len(o) < 3 and 0x30 <= raw[j] <= 0x37:
                                o += chr(raw[j]); j += 1
                            buf.append(chr(int(o, 8) & 0xFF)); i = j
                        elif nx in (0x0A, 0x0D):
                            i += 2
                            if nx == 0x0D and i < n and raw[i] == 0x0A:
                                i += 1
                        else:
                            buf.append(chr(nx)); i += 2
                        continue
                    if c == 0x28:
                        depth += 1
                    elif c == 0x29:
                        depth -= 1
                        if not depth:
                            i += 1
                            break
                    buf.append(chr(c)); i += 1
                txt = "".join(buf)
                if cur_map is not None:
                    txt = _oracle_decode_shown(txt.encode("latin-1"), cur_map)
                if pending_space:
                    txt = " " + txt
                    pending_space = False
                strings.append(txt)
                last_name = None
                continue
            if ch == 0x3C and raw[i : i + 2] == b"<<":
                # dict operand (a BDC property list like `<</MCID 0>>`):
                # hop it balanced so its second `<` never misreads as a
                # hex opener — mirrors the engine walk's dict skip. An
                # /ActualText property list followed by BDC opens a
                # replacement sequence instead (r7, §14.9.4).
                d = _oracle_dict_at(raw, i)
                if d is None:
                    raise RuntimeError(
                        "unbalanced << in content — out of twin scope"
                    )
                j = i + len(d)
                bm = re.match(rb"\s*BDC(?![A-Za-z0-9])", raw[j:])
                if bm and b"/ActualText" in d:
                    if in_actual:
                        raise RuntimeError(
                            "nested /ActualText — out of twin scope"
                        )
                    in_actual = True
                    actual_pending = _oracle_actualtext(d)
                    last_name = None
                    nums.clear()
                    i = j + bm.end()
                    continue
                if bm and in_actual:
                    mc_depth += 1  # nested dict-props sequence — opaque
                    last_name = None
                    nums.clear()
                    i = j + bm.end()
                    continue
                i = j
                continue
            if ch == 0x3C:  # <hex>
                end = raw.find(b">", i)
                if end < 0:
                    break
                hx = re.sub(rb"\s", b"", raw[i + 1 : end])
                if len(hx) % 2:
                    hx += b"0"
                try:
                    bs = bytes.fromhex(hx.decode("ascii"))
                except ValueError:
                    i = end + 1
                    continue
                htxt = _oracle_decode_shown(bs, cur_map)
                if pending_space:
                    htxt = " " + htxt
                    pending_space = False
                strings.append(htxt)
                last_name = None
                i = end + 1
                continue
            if ch == 0x2F:  # /Name token — the Tf operand when one follows
                nm = re.match(rb"/([^\s/<>()\[\]{}%]+)", raw[i:])
                if nm:
                    last_name = nm.group(1)
                    name_nums = 0
                    i += nm.end()
                    continue
            m_num = re.match(rb"-?[0-9]+(?:\.[0-9]+)?", raw[i:])
            if m_num and (ch == 0x2D or 0x30 <= ch <= 0x39):
                nums.append(float(m_num.group(0)))
                if in_tj_array and nums[-1] <= -spec.TJ_SPACE_KERN:
                    pending_space = True  # word-gap kern → one space
                if len(nums) > 6:
                    nums.pop(0)
                if last_name is not None:
                    name_nums += 1
                i += m_num.end()
                continue
            if in_actual and raw[i : i + 3] in (b"EMC", b"BDC", b"BMC") and (
                i + 3 == n or not (
                    0x30 <= raw[i + 3] <= 0x39
                    or 0x41 <= raw[i + 3] <= 0x5A
                    or 0x61 <= raw[i + 3] <= 0x7A
                )
            ):
                # marked-content ops only matter WHILE a replacement
                # sequence is open (outside one they stay transparent,
                # as before — mirrors the engine walk's prefilter)
                if raw[i] == 0x45:  # EMC
                    if mc_depth:
                        mc_depth -= 1
                    else:
                        in_actual = False
                        strings.clear()  # enclosed bytes never show
                        if actual_pending is not None:
                            # sequence closed with no show operator: the
                            # replacement still represents content — it
                            # shows at the sequence-end origin
                            strings.append(actual_pending)
                            actual_pending = None
                            show()
                else:  # nested BDC with named props / BMC — opaque
                    mc_depth += 1
                nums.clear()
                last_name = None
                i += 3
                continue
            if raw[i : i + 2] in (b"Tj", b"TJ"):
                show(); last_name = None; i += 2
            elif raw[i : i + 2] == b"Tf":
                # font selection: a Tf only fires when a live /Name plus
                # exactly one number (the size) immediately precede it —
                # the engine's `/Name NUM Tf` regex shape; any other Tf is
                # ignored on both sides. Under a strict-font file a FIRING
                # Tf must resolve (the engine bails there too).
                if last_name is not None and name_nums == 1:
                    if strict_fonts:
                        if last_name not in font_maps:
                            raise RuntimeError(
                                "unresolvable Tf in a Type0/Differences file — out of twin scope"
                            )
                        cur_map = font_maps[last_name]
                last_name = None
                nums.clear()
                i += 2
            elif ch == 0x5B:
                in_tj_array = True; pending_space = False
                nums.clear(); last_name = None; i += 1
            elif ch == 0x5D:
                in_tj_array = False; pending_space = False  # trailing kern
                nums.clear(); last_name = None; i += 1
            elif ch in (0x27, 0x22) and in_tj_array:
                i += 1  # stray quote between array strings — engine skips too
            elif ch in (0x27, 0x22):
                # ' / " quote-shows: advance by the leading (T* semantics),
                # then show the OPERAND string as a NEW run at the advanced
                # origin; the " spacing operands (aw, ac) are ignored —
                # round 5, modeled symmetrically with the engine walk.
                # Only the quote-adjacent string moves: on malformed content
                # with several pending strings ("(a) (b) '"), the earlier
                # ones flush at the CURRENT origin first, exactly as the
                # engine records each string when it is scanned (round-6
                # advice finding).
                operand = strings.pop() if strings else None
                show()
                if lin is None:
                    y -= leading
                else:  # T(0, -leading) through the Tm linear part
                    x -= leading * lin[2]
                    y -= leading * lin[3]
                moved = True
                if operand is not None:
                    strings.append(operand)
                show()
                nums.clear()
                last_name = None
                i += 1
            elif raw[i : i + 2] == b"TL":
                # set leading — text state, NOT a position op: it must not
                # split a merged run, so `moved` stays untouched
                if nums:
                    leading = nums[-1]
                nums.clear()
                last_name = None
                i += 2
            elif raw[i : i + 2] in (b"Td", b"TD"):
                strings.clear()
                if len(nums) >= 2:
                    tx, ty = nums[-2], nums[-1]
                    if lin is None:
                        x += tx
                        y += ty
                    else:  # deltas live in text space (r7 Tm model)
                        x += tx * lin[0] + ty * lin[2]
                        y += tx * lin[1] + ty * lin[3]
                    if raw[i : i + 2] == b"TD":
                        leading = -ty
                last_name = None
                moved = True
                nums.clear()
                i += 2
            elif raw[i : i + 2] == b"Tm":
                strings.clear()
                if len(nums) >= 6:
                    # orthogonal-column invertible linear parts modeled
                    # (r7) — mirror of the engine's Tm branch
                    la, lb, lc, ld = nums[-6:-2]
                    if (la, lb, lc, ld) == (1.0, 0.0, 0.0, 1.0):
                        lin = None
                    elif abs(la * lc + lb * ld) <= 1e-9 and abs(
                        la * ld - lb * lc
                    ) >= 1e-12:
                        lin = (la, lb, lc, ld)
                    else:
                        raise RuntimeError(
                            "sheared or singular Tm — out of twin scope"
                        )
                if len(nums) >= 2:
                    x, y = nums[-2], nums[-1]
                moved = True
                nums.clear()
                last_name = None
                i += 2
            elif raw[i : i + 2] == b"T*":
                strings.clear()
                if lin is None:
                    y -= leading
                else:
                    x -= leading * lin[2]
                    y -= leading * lin[3]
                moved = True
                last_name = None
                i += 2
            elif raw[i : i + 2] == b"BT":
                x = y = 0.0
                lin = None  # text matrix resets to identity at BT
                moved = True
                nums.clear()
                last_name = None
                i += 2
            elif track_ctm and raw[i : i + 2] == b"cm" and (
                i + 2 == n or not (
                    0x30 <= raw[i + 2] <= 0x39
                    or 0x41 <= raw[i + 2] <= 0x5A
                    or 0x61 <= raw[i + 2] <= 0x7A
                )
            ):
                # top-level CTM concatenation (r7). The engine's regex
                # demands six whitespace-adjacent operands; this cursor
                # walk keeps the last six buffered numbers — identical on
                # well-formed content, and an operand-less cm raises on
                # both sides.
                if len(nums) < 6:
                    raise RuntimeError(
                        "cm without six operands — out of twin scope"
                    )
                a2, b2, c2, d2, e2, f2 = nums[-6:]
                if abs(a2 * c2 + b2 * d2) > 1e-9 or abs(
                    a2 * d2 - b2 * c2
                ) < 1e-12:
                    raise RuntimeError(
                        "sheared or singular top-level cm — out of twin scope"
                    )
                if ctm is None:
                    ctm = (a2, b2, c2, d2, e2, f2)
                else:
                    ca, cb, cc, cd, ce, cf = ctm
                    ctm = (
                        a2 * ca + b2 * cc, a2 * cb + b2 * cd,
                        c2 * ca + d2 * cc, c2 * cb + d2 * cd,
                        e2 * ca + f2 * cc + ce, e2 * cb + f2 * cd + cf,
                    )
                nums.clear()
                last_name = None
                i += 2
            elif track_ctm and ch in (0x71, 0x51) and (
                i == 0 or not (
                    0x30 <= raw[i - 1] <= 0x39
                    or 0x41 <= raw[i - 1] <= 0x5A
                    or 0x61 <= raw[i - 1] <= 0x7A
                    or raw[i - 1] == 0x2F
                )
            ) and (
                i + 1 == n or not (
                    0x30 <= raw[i + 1] <= 0x39
                    or 0x41 <= raw[i + 1] <= 0x5A
                    or 0x61 <= raw[i + 1] <= 0x7A
                    or raw[i + 1] in (0x2A, 0x27, 0x22)
                )
            ):
                # standalone q / Q — the boundary classes mirror the
                # engine regex's lookarounds (name tails like /freq and
                # ops like /Quality never misread as state ops)
                if ch == 0x71:
                    ctm_stack.append(ctm)
                else:
                    if not ctm_stack:
                        raise RuntimeError(
                            "unbalanced Q — out of twin scope"
                        )
                    ctm = ctm_stack.pop()
                nums.clear()
                last_name = None
                i += 1
            elif ch in (0x20, 0x0A, 0x0D, 0x09, 0x0C):
                i += 1  # whitespace separates operands — keep them
            else:
                nums.clear()  # any other operator consumes its operands
                last_name = None
                i += 1
        if in_actual:
            raise RuntimeError(
                "/ActualText sequence unbalanced at stream end — out of twin scope"
            )
        pages.append(runs)
    if not pages:
        raise RuntimeError("no parseable content streams in real-PDF payload")
    return _assemble_layout([(i + 1, runs) for i, runs in enumerate(pages)])


def _oracle_actualtext(d: bytes) -> str:
    """/ActualText value of a BDC property list → its replacement text
    (ISO 32000 §14.9.4 / §7.9.2.2 text string: UTF-16BE under a FE FF
    BOM, else byte text). Oracle's own cursor parse — raises on a
    missing/indirect/undecodable value (out of twin scope; the engine
    rung bails there too)."""
    m = re.search(rb"/ActualText(?![A-Za-z0-9])", d)
    if not m:
        raise RuntimeError("/ActualText key vanished from property list")
    j = m.end()
    n = len(d)
    while j < n and d[j] in b"\x00\t\n\x0c\r ":
        j += 1
    bs: bytearray | bytes
    if j < n and d[j] == 0x28:  # (literal) — escape-aware cursor scan
        buf = bytearray()
        depth = 1
        j += 1
        while j < n and depth:
            c = d[j]
            if c == 0x5C and j + 1 < n:
                nx = d[j + 1]
                table = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
                         0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
                if nx in table:
                    buf.append(table[nx]); j += 2
                elif 0x30 <= nx <= 0x37:
                    k, o = j + 1, ""
                    while k < n and len(o) < 3 and 0x30 <= d[k] <= 0x37:
                        o += chr(d[k]); k += 1
                    buf.append(int(o, 8) & 0xFF); j = k
                elif nx in (0x0A, 0x0D):
                    j += 2
                    if nx == 0x0D and j < n and d[j] == 0x0A:
                        j += 1
                else:
                    buf.append(nx); j += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if not depth:
                    break
            buf.append(c); j += 1
        bs = bytes(buf)
    elif j < n and d[j] == 0x3C and d[j : j + 2] != b"<<":  # <hex>
        e = d.find(b">", j + 1)
        if e < 0:
            raise RuntimeError("unterminated /ActualText hex string")
        hx = re.sub(rb"\s", b"", d[j + 1 : e])
        if len(hx) % 2:
            hx += b"0"
        try:
            bs = bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            raise RuntimeError("malformed /ActualText hex string") from None
    else:
        raise RuntimeError(
            "indirect or non-string /ActualText — out of twin scope"
        )
    if bs.startswith(b"\xfe\xff"):
        try:
            return bs[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            raise RuntimeError(
                "undecodable UTF-16 /ActualText — out of twin scope"
            ) from None
    return bs.decode("latin-1")


def _oracle_dict_at(buf: bytes, start: int) -> bytes | None:
    """Balanced `<< … >>` starting at ``start`` (oracle's own cursor scan;
    the engine has its own brace walk). STRING-AWARE (r7 /ActualText:
    property-list values are text strings whose bytes may contain `>>` or
    `<<` — they must not move the brace balance). None when unterminated."""
    if buf[start : start + 2] != b"<<":
        return None
    depth = 0
    i = start
    n = len(buf)
    while i < n:
        c = buf[i]
        if c == 0x28:  # ( literal — escape/nesting-aware opaque skip
            pd = 1
            i += 1
            while i < n and pd:
                if buf[i] == 0x5C:
                    i += 2
                    continue
                if buf[i] == 0x28:
                    pd += 1
                elif buf[i] == 0x29:
                    pd -= 1
                i += 1
            continue
        two = buf[i : i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return buf[start:i]
        elif c == 0x3C:  # <hex> — opaque
            e = buf.find(b">", i + 1)
            if e < 0:
                return None
            i = e + 1
        else:
            i += 1
    return None


def _oracle_fetch_obj(data: bytes, num: int) -> bytes | None:
    """_oracle_obj_body with a corrupt-boundary guard: a body that spans
    ANOTHER object header means this object's `endobj` was damaged and
    the lazy regex read past it — treat as unresolvable so the tagged
    path falls back to geometric exactly like the engine's object map
    (which drops the object at the broken boundary)."""
    body = _oracle_obj_body(data, num)
    if body is None or re.search(rb"\d+\s+0\s+obj\b", body):
        return None
    return body


def _oracle_struct_order(data: bytes) -> dict[int, list[int]] | None:
    """Page-object-number → MCID sequence in STRUCTURE-TREE order (the
    oracle's own depth-first walk over /StructTreeRoot, element bodies
    fetched by _oracle_fetch_obj). None when the document isn't usably
    tagged: /MarkInfo <</Marked true>> absent, root missing, an /OBJR
    content item, unknown /K item shapes, a damaged object boundary, or
    recursion past 32 levels."""
    cat = None
    for m in re.finditer(rb"\d+\s+0\s+obj(.*?)endobj", data, re.S):
        if re.search(rb"/Type\s*/Catalog(?![A-Za-z0-9])", m.group(1)):
            cat = m.group(1)  # last wins (append-save newest revision)
    if cat is None:
        return None
    mi = re.search(rb"/MarkInfo\s*(<<|(\d+)\s+0\s+R)", cat)
    if not mi:
        return None
    if mi.group(2) is not None:
        mark = _oracle_fetch_obj(data, int(mi.group(2))) or b""
    else:
        mark = _oracle_dict_at(cat, mi.start(1)) or b""
    if not re.search(rb"/Marked\s+true(?![A-Za-z0-9])", mark):
        return None
    rootm = re.search(rb"/StructTreeRoot\s+(\d+)\s+0\s+R", cat)
    if not rootm:
        return None
    root = _oracle_fetch_obj(data, int(rootm.group(1)))
    if root is None:
        return None
    order: dict[int, list[int]] = {}

    def add(pg: int | None, mcid: int) -> bool:
        if pg is None:
            return False
        order.setdefault(pg, []).append(mcid)
        return True

    def elem(body: bytes, pg: int | None, depth: int) -> bool:
        if depth > 32:
            return False
        pm = re.search(rb"/Pg\s+(\d+)\s+0\s+R", body)
        if pm:
            pg = int(pm.group(1))
        km = re.search(rb"/K(?![A-Za-z0-9])\s*", body)
        if not km:
            return True  # childless element
        rest = body[km.end():]
        items: list[bytes] = []
        if rest.lstrip().startswith(b"["):
            arr = rest[rest.find(b"[") + 1:]
            close = arr.find(b"]")
            if close < 0:
                return False
            seg, cursor = arr[:close], 0
            while cursor < len(seg):
                chunk = seg[cursor:].lstrip()
                off = len(seg) - cursor - len(chunk) + cursor
                if not chunk:
                    break
                if chunk.startswith(b"<<"):
                    d = _oracle_dict_at(seg, off)
                    if d is None:
                        return False
                    items.append(d)
                    cursor = off + len(d)
                else:
                    tm = re.match(rb"(\d+)(?:\s+0\s+R)?", chunk)
                    if not tm:
                        return False
                    items.append(tm.group(0))
                    cursor = off + tm.end()
            # an array containing an inline dict would shift `]` — the
            # fixtures reference elements indirectly; inline-dict arrays
            # with a `]` inside a dict are out of the modeled corpus
        else:
            one = rest.lstrip()
            if one.startswith(b"<<"):
                d = _oracle_dict_at(rest, len(rest) - len(one))
                if d is None:
                    return False
                items.append(d)
            else:
                tm = re.match(rb"(\d+)(?:\s+0\s+R)?", one)
                if not tm:
                    return False
                items.append(tm.group(0))
        for it in items:
            if it.startswith(b"<<"):
                if not handle_dict(it, pg, depth):
                    return False
            elif b"R" in it:
                child = _oracle_fetch_obj(data, int(it.split()[0]))
                if child is None or not handle_dict(child, pg, depth):
                    return False
            else:
                if not add(pg, int(it)):
                    return False
        return True

    def handle_dict(body: bytes, pg: int | None, depth: int) -> bool:
        if re.search(rb"/OBJR(?![A-Za-z0-9])", body):
            return False  # object reference — not a text content item
        if re.search(rb"/Type\s*/MCR(?![A-Za-z0-9])", body):
            pm = re.search(rb"/Pg\s+(\d+)\s+0\s+R", body)
            mm = re.search(rb"/MCID\s+(\d+)", body)
            if not mm:
                return False
            return add(int(pm.group(1)) if pm else pg, int(mm.group(1)))
        return elem(body, pg, depth + 1)

    return order if elem(root, None, 0) else None


def extract_tagged_pdf(payload: str) -> tuple[str, bool]:
    """Oracle twin of operators/extract.extract_tagged_pdf_text: LOGICAL
    reading order for tagged PDFs (ISO 32000 §14.8) — marked-content text
    grouped per MCID in stream order, groups emitted in structure-tree
    order, /Artifact content dropped (§14.8.2.2), geometric fallback
    (extract_real_pdf) when the document isn't usably tagged. Independent
    implementation: pages found by a file-order /Type /Page scan, content
    fetched per object via _oracle_obj_body, structure walked by
    _oracle_struct_order, and a cursor-style content scan — never the
    engine's object-map/page-tree walk."""
    data = payload.encode("latin-1", errors="ignore")
    order = _oracle_struct_order(data)
    if order is None:
        return extract_real_pdf(payload)
    enc_key = _oracle_encryption_key(data)
    font_maps, strict_fonts = _oracle_font_maps(data, enc_key)

    # last-wins by object number (matches the engine's object-map
    # semantics): an append-save that re-emits a page object must yield
    # that page ONCE, at its first-seen position, with the newest body
    # governing content lookups (_oracle_obj_body already reads the last
    # definition) — not twice in the reading order.
    page_nums = []
    for m in re.finditer(rb"(\d+)\s+0\s+obj(.*?)endobj", data, re.S):
        body = m.group(2)
        if re.search(rb"/Type\s*/Page(?![A-Za-z0-9])", body):
            n = int(m.group(1))
            if n not in page_nums:
                page_nums.append(n)
    if not page_nums:
        return extract_real_pdf(payload)

    def one_stream(onum: int) -> bytes | None:
        cbody = _oracle_obj_body(data, onum)
        if cbody is None:
            return None
        s = cbody.find(b"stream")
        if s < 0:
            return None
        head = cbody[:s]
        at = s + 6
        if cbody[at : at + 2] == b"\r\n":
            at += 2
        elif cbody[at : at + 1] == b"\n":
            at += 1
        lm = re.search(rb"/Length\s+(\d+)", head)
        raw = (
            cbody[at : at + int(lm.group(1))]
            if lm
            else cbody[at:].rstrip(b"\r\n")
        )
        if enc_key is not None:
            base_key, enc_method = enc_key
            if enc_method == "aesv3":
                raw = _oracle_aes_decrypt(base_key, raw)
            elif enc_method == "aes":
                raw = _oracle_aes_decrypt(
                    _oracle_object_aes_key(base_key, onum), raw
                )
            else:
                raw = _oracle_rc4(_oracle_object_key(base_key, onum), raw)
        return _oracle_defilter(head, raw)

    def page_content(pnum: int) -> bytes | None:
        body = _oracle_obj_body(data, pnum)
        if body is None:
            return None
        cm = re.search(rb"/Contents\s*(\[[^\]]*\]|\d+\s+0\s+R)", body)
        if not cm:
            return None
        raw = b""
        for rm2 in re.finditer(rb"(\d+)\s+0\s+R", cm.group(1)):
            part = one_stream(int(rm2.group(1)))
            if part is None:
                return None
            raw += part + b"\n"  # same joint the engine's page walk emits
        return raw

    bodies: list[str] = []
    all_text: list[str] = []
    for pnum in page_nums:
        raw = page_content(pnum)
        if raw is None:
            return extract_real_pdf(payload)
        raw = _oracle_strip_inline(raw)
        if b"/ActualText" in raw:
            # replaced text (§14.9.4) is a geometric-walk capability on
            # both twins — the logical walk must not emit the replaced
            # bytes (wrong text never beats no text), so fall back.
            # Post-inline-strip, like the engine's page contents.
            return extract_real_pdf(payload)
        # cursor scan: marked-content stack + per-MCID text accumulation
        texts: dict[int, list[str]] = {}
        stack: list[object] = []  # int MCID | 'artifact' | None per open BDC/BMC
        pending_nl = False
        cur_map = None
        i, n = 0, len(raw)

        def active() -> object:
            for e in reversed(stack):
                if isinstance(e, int):
                    return e
            return "artifact" if "artifact" in stack else None

        def show(txt: str, quote: bool) -> bool:
            nonlocal pending_nl
            tag = active()
            if quote:
                pending_nl = True
            if tag is None:
                if txt.strip():
                    return False  # untagged shown text — not orderable
                pending_nl = False
                return True
            if isinstance(tag, int):
                bucket = texts.setdefault(tag, [])
                if pending_nl and bucket:
                    bucket.append("\n")
                bucket.append(txt)
            pending_nl = False
            return True

        ok = True
        while i < n and ok:
            ch = raw[i]
            if ch == 0x28:  # literal string
                buf = []
                depth = 0
                j = i
                while j < n:
                    c = raw[j]
                    if c == 0x5C and j + 1 < n:
                        nxt = raw[j + 1]
                        esc = {0x6E: "\n", 0x72: "\r", 0x74: "\t",
                               0x62: "\b", 0x66: "\f", 0x28: "(",
                               0x29: ")", 0x5C: "\\"}.get(nxt)
                        if esc is not None:
                            buf.append(esc)
                            j += 2
                            continue
                        om = re.match(rb"[0-7]{1,3}", raw[j + 1 : j + 4])
                        if om:
                            buf.append(chr(int(om.group(0), 8) & 0xFF))
                            j += 1 + om.end()
                            continue
                        j += 1
                        continue
                    if c == 0x28:
                        depth += 1
                        if depth > 1:
                            buf.append("(")
                        j += 1
                        continue
                    if c == 0x29:
                        depth -= 1
                        if depth == 0:
                            j += 1
                            break
                        buf.append(")")
                        j += 1
                        continue
                    buf.append(chr(c))
                    j += 1
                txt = "".join(buf)
                if cur_map is not None:
                    txt = _oracle_decode_shown(txt.encode("latin-1"), cur_map)
                qm = re.match(rb"\s*(Tj|'|\")", raw[j:])
                quote = bool(qm) and qm.group(1) in (b"'", b'"')
                ok = show(txt, quote)
                i = j + (qm.end() if qm else 0)
                continue
            if ch == 0x3C and raw[i : i + 2] != b"<<":  # <hex>
                end = raw.find(b">", i)
                if end < 0:
                    break
                hx = re.sub(rb"\s", b"", raw[i + 1 : end])
                if len(hx) % 2:
                    hx += b"0"
                try:
                    bs = bytes.fromhex(hx.decode("ascii"))
                except ValueError:
                    i = end + 1
                    continue
                txt = _oracle_decode_shown(bs, cur_map)
                qm = re.match(rb"\s*(Tj|'|\")", raw[end + 1:])
                quote = bool(qm) and qm.group(1) in (b"'", b'"')
                ok = show(txt, quote)
                i = end + 1 + (qm.end() if qm else 0)
                continue
            if ch == 0x2F:  # /Name: Tf selection or marked-content open
                fm = re.match(
                    rb"/([^\s/<>()\[\]{}%]+)\s+-?[0-9.]+\s+Tf(?![A-Za-z0-9])",
                    raw[i:],
                )
                if fm:
                    name = fm.group(1)
                    if name in font_maps:
                        cur_map = font_maps[name]
                    elif strict_fonts:
                        raise RuntimeError(
                            "unresolvable Tf in a strict-font tagged file"
                        )
                    else:
                        cur_map = None
                    i += fm.end()
                    continue
                nmm = re.match(rb"/([^\s/<>()\[\]{}%]+)\s*", raw[i:])
                if nmm:
                    j = i + nmm.end()
                    props = None
                    if raw[j : j + 2] == b"<<":
                        props = _oracle_dict_at(raw, j)
                        if props is None:
                            ok = False
                            break
                        j += len(props)
                    om = re.match(rb"\s*(BDC|BMC)(?![A-Za-z0-9])", raw[j:])
                    if om:
                        if om.group(1) == b"BDC" and props is None:
                            ok = False  # indirect property list
                            break
                        if nmm.group(1) == b"Artifact":
                            entry: object = "artifact"
                        else:
                            mm = (
                                re.search(rb"/MCID\s+(\d+)", props)
                                if props
                                else None
                            )
                            if mm:
                                if any(isinstance(e, int) for e in stack):
                                    ok = False  # nested MCIDs
                                    break
                                entry = int(mm.group(1))
                            else:
                                entry = None
                        stack.append(entry)
                        i = j + om.end()
                        continue
            mm2 = re.match(rb"(?:Td|TD|Tm)\b|T\*", raw[i:])
            if mm2:
                pending_nl = True
                i += mm2.end()
                continue
            if raw[i : i + 3] == b"EMC" and not re.match(
                rb"[A-Za-z0-9]", raw[i + 3 : i + 4]
            ):
                if not stack:
                    ok = False
                    break
                stack.pop()
                i += 3
                continue
            i += 1
        if not ok or stack:
            return extract_real_pdf(payload)
        page_order = order.get(pnum, [])
        if set(texts) - set(page_order):
            return extract_real_pdf(payload)  # shown MCID not in the tree
        seen: set[int] = set()
        parts: list[str] = []
        for mcid in page_order:
            if mcid in seen or mcid not in texts:
                continue
            seen.add(mcid)
            parts.append("".join(texts[mcid]))
        bodies.append("\n".join(parts))
        all_text.append(bodies[-1])
    text = "\n".join(
        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + body.strip()
        for i, body in enumerate(bodies)
    ).strip()
    needs_ocr = len("".join(all_text).strip()) < spec.OCR_MIN_CHARS
    return text, needs_ocr


def sniff_payload_kind(text: str, tool: str | None = None) -> str:
    if text.startswith(spec.PDF_HEADER):
        return "pdf"
    if text.startswith("%PDF-"):
        return "pdf_real"
    lstripped = text.lstrip()
    if lstripped.startswith("<html") or lstripped.startswith("<!DOCTYPE") or tool == "html_paste":
        return "html"
    return "plain"


def extract_turn(text: str, tool: str | None = None) -> dict:
    """Full per-turn extraction: (extracted_text, spans, needs_ocr, kind)."""
    kind = sniff_payload_kind(text or "", tool)
    needs_ocr = False
    if kind == "pdf":
        extracted, needs_ocr = extract_pdf_stream(text)
    elif kind == "pdf_real":
        extracted, needs_ocr = extract_real_pdf(text)
    elif kind == "html":
        extracted = extract_html_main_content(text)
    else:
        extracted = (text or "").strip()
    return {
        "extracted_text": extracted,
        "spans": find_spans(extracted),
        "needs_ocr": needs_ocr,
        "payload_kind": kind,
    }


def extract_turn_frame(pdf):
    """Apply extract_turn over a pandas transcripts frame → golden frame."""
    import pandas as pd

    out = []
    for row in pdf.itertuples(index=False):
        res = extract_turn(row.text, row.tool)
        out.append(
            {
                "conv_id": row.conv_id,
                "turn_idx": row.turn_idx,
                "ts": row.ts,
                "extracted_text": res["extracted_text"],
                "spans": res["spans"],
                "needs_ocr": res["needs_ocr"],
                "payload_kind": res["payload_kind"],
            }
        )
    return pd.DataFrame(out)
