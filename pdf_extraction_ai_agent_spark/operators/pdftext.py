"""Dependency-free real-PDF text tokenizer — the first rung of the S2/S3
extraction chain (reference extract_text.py:9-66 uses pdfplumber→fitz; this
rung handles well-formed uncompressed/Flate PDFs with ZERO optional
libraries, so the golden suite covers real PDF bytes in-sandbox and a
cluster without the libs still extracts simple PDFs).

Scope (returns None → caller falls through to the library chain):
- object parse: `N 0 obj … endobj` bodies, page tree walked from the
  catalog (/Pages → /Kids recursively → /Type /Page in tree order); the
  catalog ref prefers the newest xref STREAM's trailer /Root when present;
- PDF 1.5 object streams: `/Type /ObjStm` containers are unpacked (N
  `objnum offset` header pairs relative to /First) so catalogs/page dicts
  packed the modern way resolve; xref streams themselves need no table
  decode — objects are located by the linear scan;
- content streams: raw or /Filter /FlateDecode (zlib is stdlib), incl.
  /DecodeParms PNG predictors 10–15 (Up=12 is the xref/objstm standard);
  any other filter or predictor, or a malformed tree, aborts the rung;
- text operators: Tj, TJ arrays (kerning numbers ignored), and the
  ' / " quote-shows (round 5: leading-based advance before the show;
  " spacing operands ignored); literal strings with escapes
  (\\( \\) \\\\ \\n \\r \\t \\b \\f, octal \\ddd, line continuations)
  and <hex> strings;
- line structure: BOTH mainstream line-advance idioms — relative Td/TD
  (TD also sets the leading) and `NUM TL` + T*/quote-show (TL is text
  state: non-splitting, survives BT);
- CID-keyed (Type0) fonts with /Encoding /Identity-H and an embedded
  /ToUnicode CMap — the shape every modern office suite emits: the
  current font is tracked through `/Name size Tf`, shown strings under a
  Type0 font are decoded as big-endian 2-byte codes through the CMap's
  bfchar/bfrange entries (UTF-16BE destinations). A Type0 font with any
  other encoding, a missing/undecodable ToUnicode, an unmapped code, an
  odd-length CID string — or ANY unresolvable Tf name while the file
  declares a Type0 font — aborts the rung (wrong text must never beat no
  text);
- standard-security-handler encryption with the EMPTY user password or
  a password from the caller-supplied candidate book: RC4 V1/R2
  (40-bit) and V2/R3 (128-bit), V4/R4 with the /StdCF /CFM /AESV2
  crypt filter (AES-128-CBC, per-object keys), and V5/R6 AES-256
  (/CFM /AESV3 — Algorithm 2.B password hash, file key unwrapped from
  /UE, streams under the file key) — /U-verified per candidate; any
  other configuration (a password outside the book, non-StdCF filters,
  encrypted ObjStm/xref-stream layouts) aborts the rung;
- simple-font /Encoding /Differences byte remaps (legacy generators,
  scanner output): remapped codes resolve through the shared AGL-subset
  glyph table (spec.GLYPH_TO_UNICODE, incl. uniXXXX/uXXXX names),
  unmapped codes keep latin-1; an unknown glyph name — or an
  unresolvable Tf while the file declares /Differences — aborts the rung.

NOT a general PDF renderer: no layout-program CMaps (only ToUnicode), no
full layout reconstruction — exactly the subset a trustworthy fallback
can promise, with everything else handed to the real libraries.
"""

from __future__ import annotations

import re
import zlib

from .. import spec

_OBJ_START_RE = re.compile(rb"(\d+)\s+0\s+obj\b")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
# direct /Length only — an indirect length (`/Length 7 0 R`) is out of this
# rung's scope and must NOT be misread as a 1-digit literal length
_LEN_RE = re.compile(rb"/Length\s+(\d+)(?!\s+0\s+R)\b")


def _objects(data: bytes) -> dict[int, bytes]:
    """N 0 obj bodies, stream-extent-aware: an object whose body carries a
    content stream ends at the `endobj` AFTER the stream data — a naive
    non-greedy `obj(.*?)endobj` regex would truncate at the literal word
    'endobj' occurring INSIDE an uncompressed stream (e.g. a PDF about
    PDFs), returning silently wrong text. Matches that start inside a
    previous object's stream are skipped via the cursor."""
    objs: dict[int, bytes] = {}
    cursor = 0
    for m in _OBJ_START_RE.finditer(data):
        if m.start() < cursor:
            continue  # spurious 'N 0 obj' inside a previous stream
        start = m.end()
        s_at = data.find(b"stream", start)
        e_at = data.find(b"endobj", start)
        if s_at != -1 and (e_at == -1 or s_at < e_at) and data[s_at - 3 : s_at] != b"end":
            body_at = s_at + 6
            if data[body_at : body_at + 2] == b"\r\n":
                body_at += 2
            elif data[body_at : body_at + 1] == b"\n":
                body_at += 1
            lm = _LEN_RE.search(data[start:s_at])
            if lm:
                stream_end = body_at + int(lm.group(1))
            else:
                stream_end = data.find(b"endstream", body_at)
                if stream_end < 0:
                    stream_end = body_at
            e_at = data.find(b"endobj", stream_end)
        if e_at < 0:
            e_at = len(data)
        objs[int(m.group(1))] = data[start:e_at]
        cursor = e_at
    _expand_object_streams(objs)
    return objs


def _expand_object_streams(objs: dict[int, bytes], enc_key=None) -> None:
    """Unpack every `/Type /ObjStm` container (PDF 1.5 object streams — the
    dominant modern-PDF shape) into the object map: the decoded stream
    opens with N `objnum offset` integer pairs, offsets relative to /First;
    member bodies are plain dicts (the spec forbids nested streams).
    Top-level definitions win on collision (``setdefault``): a member never
    silently shadows a directly-scanned object. A malformed container is
    skipped — its members simply stay unresolved and the page-tree walk
    falls through to the library chain."""
    for num in list(objs):
        body = objs[num]
        # fast C substring pre-filter — _dict_of is a Python char walk over
        # the whole body and must never run on ordinary (content) objects
        # (doing so cost ~1.8× on the lattice queries, caught by the A/B
        # bench arm)
        if b"/ObjStm" not in body:
            continue
        d = _dict_of(body)
        if b"/ObjStm" not in d or b"/Type" not in d:
            continue
        raw = _stream_data(body, num=num, enc_key=enc_key)
        if raw is None:
            continue
        n_m = re.search(rb"/N\s+(\d+)", d)
        f_m = re.search(rb"/First\s+(\d+)", d)
        if not n_m or not f_m:
            continue
        n_objs, first = int(n_m.group(1)), int(f_m.group(1))
        header = raw[:first].split()
        if len(header) < 2 * n_objs:
            continue
        try:
            pairs = [
                (int(header[2 * i]), int(header[2 * i + 1]))
                for i in range(n_objs)
            ]
        except ValueError:
            continue
        for idx, (onum, off) in enumerate(pairs):
            end = first + pairs[idx + 1][1] if idx + 1 < n_objs else len(raw)
            member = raw[first + off : end].strip()
            if member:
                objs.setdefault(onum, member)


def _dict_of(body: bytes) -> bytes:
    """The (first) dictionary of an object body, brace-balanced."""
    start = body.find(b"<<")
    if start < 0:
        return b""
    depth, i = 0, start
    while i < len(body) - 1:
        pair = body[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start:i]
        else:
            i += 1
    return body[start:]


def _value_of(d: bytes, key: bytes) -> bytes:
    """Raw token(s) following /key in a dict (up to the next /name at the
    same nesting or the dict end) — enough for refs, arrays and names."""
    # name-boundary lookahead: /Contents must not match /ContentsFoo
    m = re.search(re.escape(key) + rb"(?![A-Za-z0-9])\s*", d)
    if not m:
        return b""
    rest = d[m.end():]
    if rest.startswith(b"["):
        depth = 0
        for i, ch in enumerate(rest):
            if ch == 0x5B:
                depth += 1
            elif ch == 0x5D:
                depth -= 1
                if depth == 0:
                    return rest[: i + 1]
        return rest
    nxt = re.search(rb"/[A-Za-z]+|>>", rest)
    return rest[: nxt.start()] if nxt else rest


# --- CID-keyed (Type0) fonts / ToUnicode CMaps ----------------------------

_TF_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)\s+-?[0-9.]+\s+Tf(?![A-Za-z0-9])")
_FONT_PAIR_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)\s+(\d+)\s+0\s+R")
_BFHEX_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


class _UnsupportedFont(Exception):
    """A Type0 font configuration this rung does not model → caller
    returns None and the library chain takes over."""


def _nested_dict_of(d: bytes, key: bytes, objs: dict[int, bytes]) -> bytes:
    """The dictionary VALUE of /key inside dict ``d`` — either an inline
    `<< … >>` (brace-balanced) or an indirect reference resolved through
    the object map. b'' when absent/unresolvable."""
    m = re.search(re.escape(key) + rb"(?![A-Za-z0-9])\s*", d)
    if not m:
        return b""
    rest = d[m.end():]
    if rest.startswith(b"<<"):
        return _dict_of(rest)
    rm = _REF_RE.match(rest)
    if rm:
        body = objs.get(int(rm.group(1)))
        return _dict_of(body) if body is not None else b""
    return b""


def _utf16be_hex(hx: bytes) -> str | None:
    """UTF-16BE code units from a CMap hex destination; None on malformed
    input (odd nibbles, non-unit length, unpaired surrogates)."""
    h = re.sub(rb"\s", b"", hx)
    if len(h) % 4:
        return None
    try:
        return bytes.fromhex(h.decode("ascii")).decode("utf-16-be")
    except (ValueError, UnicodeDecodeError):
        return None


def _parse_tounicode(cm: bytes) -> dict[int, str] | None:
    """CID → unicode map from a ToUnicode CMap stream: beginbfchar pairs
    and beginbfrange triples, both the `<lo> <hi> <dstStart>` increment
    form and the `<lo> <hi> [<d0> <d1> …]` array form. None on anything
    malformed — a partial map would extract silently wrong text."""
    out: dict[int, str] = {}
    for sec in re.finditer(rb"beginbfchar(.*?)endbfchar", cm, re.S):
        for pm in re.finditer(rb"<([0-9A-Fa-f\s]+)>\s*<([0-9A-Fa-f\s]*)>", sec.group(1)):
            dst = _utf16be_hex(pm.group(2))
            if dst is None:
                return None
            out[int(re.sub(rb"\s", b"", pm.group(1)), 16)] = dst
    for sec in re.finditer(rb"beginbfrange(.*?)endbfrange", cm, re.S):
        body = sec.group(1)
        pos = 0
        while True:
            rm = re.compile(
                rb"<([0-9A-Fa-f\s]+)>\s*<([0-9A-Fa-f\s]+)>\s*(\[|<)"
            ).search(body, pos)
            if not rm:
                # leftover non-whitespace would mean an entry we failed to
                # parse — refuse rather than drop mappings
                if re.search(rb"<", body[pos:]):
                    return None
                break
            lo = int(re.sub(rb"\s", b"", rm.group(1)), 16)
            hi = int(re.sub(rb"\s", b"", rm.group(2)), 16)
            if hi < lo or hi - lo > 0xFFFF:
                return None
            if rm.group(3) == b"[":
                close = body.find(b"]", rm.end())
                if close < 0:
                    return None
                dsts = _BFHEX_RE.findall(body, rm.end(), close)
                if len(dsts) != hi - lo + 1:
                    return None
                for k, dh in enumerate(dsts):
                    s = _utf16be_hex(dh)
                    if s is None:
                        return None
                    out[lo + k] = s
                pos = close + 1
            else:
                gm = _BFHEX_RE.match(body, rm.end() - 1)
                if not gm:
                    return None
                s = _utf16be_hex(gm.group(1))
                if s is None or not s:
                    return None
                # the increment applies to the LAST UTF-16 code unit
                prefix, last = s[:-1], ord(s[-1])
                if last + (hi - lo) > 0xFFFF:
                    return None
                for k in range(hi - lo + 1):
                    out[lo + k] = prefix + chr(last + k)
                pos = gm.end()
    return out


_DIFF_TOK_RE = re.compile(rb"(\d+)|/([^\s/<>()\[\]{}%]+)")


def _glyph_char(name: bytes) -> str | None:
    """Glyph name → unicode char: the shared AGL-subset table
    (spec.GLYPH_TO_UNICODE) plus the AGL uniXXXX / uXXXX[XX] forms.
    None = unknown (symbol/subset glyph) → the rung bails."""
    from .. import spec

    s = name.decode("latin-1")
    ch = spec.GLYPH_TO_UNICODE.get(s)
    if ch is not None:
        return ch
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})|u([0-9A-Fa-f]{4,6})", s)
    if m:
        cp = int(m.group(1) or m.group(2), 16)
        if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
    return None


def _parse_differences(enc_d: bytes) -> dict[int, str] | None:
    """/Differences array → byte-code → char map (codes not in the map
    keep the latin-1 reading, matching the simple-font default). None on
    an unknown glyph name or an out-of-range code — a partial remap would
    extract silently wrong text."""
    arr = _value_of(enc_d, b"/Differences")
    if not arr.strip().startswith(b"["):
        return None
    out: dict[int, str] = {}
    code = -1
    for tok in _DIFF_TOK_RE.finditer(arr):
        if tok.group(1) is not None:
            code = int(tok.group(1))
        else:
            ch = _glyph_char(tok.group(2))
            if ch is None or not 0 <= code <= 255:
                return None
            out[code] = ch
            code += 1
    return out


_NAMED_ENC_RE = re.compile(rb"/Encoding\s*/([A-Za-z][A-Za-z0-9]*)")
_BASE_ENC_RE = re.compile(rb"/BaseEncoding\s*/([A-Za-z][A-Za-z0-9]*)")
_LATIN1_TABLE = {b: chr(b) for b in range(256)}


def _base_table(enc_name: bytes | None) -> dict[int, str]:
    """Byte→char base table for a simple font: the latin-1 identity when
    no base encoding is named (the fixture/simple-font default), else the
    Annex D table from spec.BASE_ENCODING_TABLES. Raises _UnsupportedFont
    on a name outside the modeled set — an unmodeled encoding read as
    latin-1 would emit WRONG text (WinAnsi differs at 0x80–0x9F), and
    wrong text must never beat no text."""
    from .. import spec

    if enc_name is None:
        return _LATIN1_TABLE
    tbl = spec.BASE_ENCODING_TABLES.get(enc_name.decode("latin-1"))
    if tbl is None:
        raise _UnsupportedFont("unmodeled base encoding name")
    return tbl


def _simple_font_handle(
    objs: dict[int, bytes], fd: bytes, enc_key: tuple[bytes, str] | None
) -> tuple[str, dict[int, str]] | None:
    """Handle for a non-Type0 font dict. Precedence: an embedded
    /ToUnicode CMap is authoritative (subset fonts name glyphs g3, g7, …
    — only the CMap carries their meaning), then /Encoding (a named base
    encoding, or a dict with /BaseEncoding + /Differences overlay), else
    the latin-1 default. All byte-map handles bail (not guess) on a code
    the map leaves undefined."""
    if b"/ToUnicode" in fd:
        tm = _REF_RE.search(_value_of(fd, b"/ToUnicode"))
        if not tm or int(tm.group(1)) not in objs:
            raise _UnsupportedFont("unresolvable simple-font ToUnicode")
        tnum = int(tm.group(1))
        raw = _stream_data(objs[tnum], num=tnum, enc_key=enc_key)
        cmap = _parse_tounicode(raw) if raw is not None else None
        if cmap is None or any(k > 0xFF for k in cmap):
            raise _UnsupportedFont("undecodable simple-font ToUnicode CMap")
        return ("diff", cmap)
    if b"/Encoding" not in fd and b"/Differences" not in fd:
        return None
    enc_d = _nested_dict_of(fd, b"/Encoding", objs)
    if enc_d:
        bm = _BASE_ENC_RE.search(enc_d)
        table = dict(_base_table(bm.group(1) if bm else None))
        if b"/Differences" in enc_d:
            dmap = _parse_differences(enc_d)
            if dmap is None:
                raise _UnsupportedFont("unmodeled /Differences entry")
            table.update(dmap)
        elif bm is None:
            return None  # encoding dict with nothing modeled → default
        return ("diff", table)
    nm = _NAMED_ENC_RE.search(fd)
    if nm is not None:
        return ("diff", _base_table(nm.group(1)))
    rm = _REF_RE.search(_value_of(fd, b"/Encoding"))
    if rm and int(rm.group(1)) in objs:
        # indirect /Encoding whose object is a BARE name
        nm2 = re.fullmatch(
            rb"/([A-Za-z][A-Za-z0-9]*)", objs[int(rm.group(1))].strip()
        )
        if nm2:
            return ("diff", _base_table(nm2.group(1)))
    raise _UnsupportedFont("unresolvable /Encoding")


def _resources_dict(objs: dict[int, bytes], holder_d: bytes) -> bytes:
    """The holder's effective /Resources dict, climbing the /Parent chain
    when the holder carries none (ISO 32000 §7.7.3.4 — /Resources is an
    inheritable page attribute; real generators routinely hoist the
    shared dict onto a /Pages node). Form XObject dicts carry no /Parent,
    so for them this is exactly the old own-dict lookup (their legacy
    inheritance goes through the invoking context instead)."""
    d = holder_d
    for _ in range(32):
        res = _nested_dict_of(d, b"/Resources", objs)
        if res:
            return res
        pm = _REF_RE.search(_value_of(d, b"/Parent"))
        if not pm:
            return b""
        body = objs.get(int(pm.group(1)))
        if body is None:
            return b""
        d = _dict_of(body)
    return b""


def _inherited_value(objs: dict[int, bytes], holder_d: bytes, key: bytes) -> bytes:
    """Raw value slice for an inheritable page attribute (§7.7.3.4 —
    /Rotate, /MediaBox, …), climbing the /Parent chain like
    _resources_dict. Empty bytes when absent everywhere."""
    d = holder_d
    for _ in range(32):
        v = _value_of(d, key)
        if v.strip():
            return v
        pm = _REF_RE.search(_value_of(d, b"/Parent"))
        if not pm:
            return b""
        body = objs.get(int(pm.group(1)))
        if body is None:
            return b""
        d = _dict_of(body)
    return b""


def _rotate_ctm(rot: int, box: tuple[float, float, float, float]) -> tuple:
    """Initial CTM mapping user space into the DISPLAYED page for a
    /Rotate of 90/180/270 (clockwise display rotation, §7.7.3.3) — the
    orientation pdfplumber/fitz extract in (reference extract_text.py
    reads rotated pages upright via the libraries). Row-vector §8.3.4."""
    x0, y0, x1, y1 = box
    if rot == 90:   # displayed (x', y') = (y - y0, x1 - x)
        return (0.0, -1.0, 1.0, 0.0, -y0, x1)
    if rot == 180:  # (x1 - x, y1 - y)
        return (-1.0, 0.0, 0.0, -1.0, x1, y1)
    return (0.0, 1.0, -1.0, 0.0, y1, -x0)  # 270: (y1 - y, x - x0)


def _page_fonts(
    objs: dict[int, bytes], page_d: bytes, enc_key: tuple[bytes, str] | None
) -> dict[bytes, tuple[str, dict[int, str]] | None]:
    """Resource name → font handle for one page: None = simple latin-1,
    ('cid', map) = Type0 with a ToUnicode CMap, ('diff', map) = simple
    font read through a byte→char map (an embedded 1-byte ToUnicode CMap,
    a named Annex D base encoding, and/or an /Encoding /Differences
    remap). Raises _UnsupportedFont on a Type0 font whose encoding is not
    /Identity-H, a missing/undecodable ToUnicode, a base-encoding name
    outside the modeled Annex D set, or a /Differences array with glyph
    names outside the shared AGL subset."""
    fonts: dict[bytes, tuple[str, dict[int, str]] | None] = {}
    res_d = _resources_dict(objs, page_d)
    if not res_d:
        return fonts
    font_d = _nested_dict_of(res_d, b"/Font", objs)
    for pm in _FONT_PAIR_RE.finditer(font_d):
        name, num = pm.group(1), int(pm.group(2))
        body = objs.get(num)
        if body is None:
            continue  # unresolved name → Tf bails under strict fonts
        fd = _dict_of(body)
        if b"/Type0" not in fd:
            fonts[name] = _simple_font_handle(objs, fd, enc_key)
            continue
        # the value of /Encoding is itself a name — match it directly
        # (_value_of stops at the next /name, so it can't return one)
        if not re.search(rb"/Encoding\s*/Identity-H(?![A-Za-z0-9])", fd):
            raise _UnsupportedFont("Type0 encoding other than Identity-H")
        tm = _REF_RE.search(_value_of(fd, b"/ToUnicode"))
        if not tm or int(tm.group(1)) not in objs:
            raise _UnsupportedFont("Type0 font without a ToUnicode CMap")
        tnum = int(tm.group(1))
        raw = _stream_data(objs[tnum], num=tnum, enc_key=enc_key)
        cmap = _parse_tounicode(raw) if raw is not None else None
        if cmap is None:
            raise _UnsupportedFont("undecodable ToUnicode CMap")
        fonts[name] = ("cid", cmap)
    return fonts


def _decode_shown(raw: bytes, handle: tuple[str, dict[int, str]] | None) -> str | None:
    """Shown-string bytes → text under the active font handle: latin-1
    (None), big-endian 2-byte codes through a ToUnicode map ('cid'), or a
    byte→char map ('diff'). None (→ rung bail) on odd-length CID strings,
    unmapped CID codes, or a byte the map leaves undefined (e.g. cp1252's
    holes) — undefined codes bail, never guess."""
    if handle is None:
        return raw.decode("latin-1")
    kind, m = handle
    if kind == "diff":
        out_d: list[str] = []
        for b in raw:
            ch = m.get(b)
            if ch is None:
                return None
            out_d.append(ch)
        return "".join(out_d)
    if len(raw) % 2:
        return None
    out: list[str] = []
    for k in range(0, len(raw), 2):
        s = m.get((raw[k] << 8) | raw[k + 1])
        if s is None:
            return None
        out.append(s)
    return "".join(out)


# --- PDF standard security handler (RC4 V1/R2 + V2/R3, AESV2 V4/R4) -------
# Engine-side implementation; the oracle char-scanner and the fixture
# writer each carry their OWN copy (the per-turn-equality invariant forbids
# shared logic between the twins). Constants are the public PDF spec's.

_PDF_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


class _UnsupportedEncryption(Exception):
    """Encrypted with settings this rung does not model → caller returns
    None and the library chain / error channel takes over."""


_OPENSSL = None  # (AES_cipher_factory, ARC4_factory) | False


def _openssl():
    """OpenSSL-backed cipher primitives when the public `cryptography`
    wheel is importable (the reference's own PDF stack depends on it;
    cluster images carry it). Only the standardized BLOCK PRIMITIVES are
    delegated — every PDF-layer derivation (KDF structure, key wrapping,
    object-key mixing, padding) stays this module's own code, and the
    pure-Python ciphers below remain the in-tree reference: FIPS-197
    vectors plus tests/test_openssl_cipher_parity.py pin both paths
    equal, and an image without the wheel falls back transparently."""
    global _OPENSSL
    if _OPENSSL is None:
        try:
            from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
            from cryptography.hazmat.primitives.ciphers import (
                Cipher, algorithms, modes,
            )

            def aes_cbc(key, iv, data, encrypt):
                c = Cipher(algorithms.AES(key), modes.CBC(iv))
                op = c.encryptor() if encrypt else c.decryptor()
                return op.update(data) + op.finalize()

            def arc4(key, data):
                return Cipher(ARC4(key), mode=None).encryptor().update(data)

            _OPENSSL = (aes_cbc, arc4)
        except Exception:
            _OPENSSL = False
    return _OPENSSL


def _rc4(key: bytes, data: bytes) -> bytes:
    fast = _openssl()
    if fast:
        return fast[1](key, data)
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for idx, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[idx] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _object_rc4_key(base_key: bytes, num: int, gen: int = 0) -> bytes:
    import hashlib

    h = hashlib.md5()
    h.update(base_key)
    h.update(bytes([num & 0xFF, (num >> 8) & 0xFF, (num >> 16) & 0xFF]))
    h.update(bytes([gen & 0xFF, (gen >> 8) & 0xFF]))
    return h.digest()[: min(len(base_key) + 5, 16)]


def _object_aes_key(base_key: bytes, num: int, gen: int = 0) -> bytes:
    """Per-object AES key (Algorithm 1 with the AESV2 'sAlT' suffix)."""
    import hashlib

    h = hashlib.md5()
    h.update(base_key)
    h.update(bytes([num & 0xFF, (num >> 8) & 0xFF, (num >> 16) & 0xFF]))
    h.update(bytes([gen & 0xFF, (gen >> 8) & 0xFF]))
    h.update(b"sAlT")
    return h.digest()[: min(len(base_key) + 5, 16)]


# --- pure-Python AES-128/256: S-boxes, key schedule, GF(2^8) tables -------
# The tables the T-table cipher below is built from; the oracle char-scanner
# carries its own spec-style (on-the-fly GF multiply) copy, and the fixture
# writer its own forward cipher — three independent codebases per the twin
# invariant.

_AES_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_AES_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_AES_SBOX):
    _AES_INV_SBOX[_v] = _i
_AES_INV_SBOX = bytes(_AES_INV_SBOX)
_AES_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)


def _aes_expand_key(key: bytes) -> list[bytes]:
    """Key schedule for AES-128 (Nk=4, 44 words) or AES-256 (Nk=8, 60
    words — the extra SubWord at i % 8 == 4 per FIPS-197), returned as
    FLAT 16-byte round keys so AddRoundKey is a plain zip (the per-byte
    `w[i // 4][i % 4]` indexing showed up in the q56/q58 profiles)."""
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_AES_SBOX[b] for b in t]
            t[0] ^= _AES_RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_AES_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [
        bytes(w[4 * r] + w[4 * r + 1] + w[4 * r + 2] + w[4 * r + 3])
        for r in range(nr + 1)
    ]


def _gmul_tab(c: int) -> bytes:
    out = bytearray(256)
    for a in range(256):
        p, x, y = 0, a, c
        while y:
            if y & 1:
                p ^= x
            x = (x << 1) ^ (0x1B if x & 0x80 else 0)
            x &= 0xFF
            y >>= 1
        out[a] = p
    return bytes(out)


_M9, _M11, _M13, _M14 = _gmul_tab(9), _gmul_tab(11), _gmul_tab(13), _gmul_tab(14)
_M2, _M3 = _gmul_tab(2), _gmul_tab(3)


# --- 32-bit T-table AES (r8 fast path) --------------------------------------
# FIPS-197 expressed as the classic four-table formulation: per round each
# state COLUMN is one big-endian u32 and SubBytes+ShiftRows+MixColumns
# collapse into 4 table lookups + 4 xors per column.  Profiled ~8-10x a
# per-byte table walk on Algorithm 2.B (64+ rounds x ~128 CBC blocks per
# KDF call) and on the AESV2/AESV3 stream paths.  This is the engine's
# pure-Python fallback when OpenSSL is absent (``_openssl``); the FIPS-197
# vectors and the writer's per-byte cipher pin it in
# tests/test_aes_ttable.py, which runs with OpenSSL disabled.

_TE0 = tuple(
    (_M2[s] << 24) | (s << 16) | (s << 8) | _M3[s] for s in _AES_SBOX
)
_TE1 = tuple(((t >> 8) | ((t & 0xFF) << 24)) for t in _TE0)
_TE2 = tuple(((t >> 16) | ((t & 0xFFFF) << 16)) for t in _TE0)
_TE3 = tuple(((t >> 24) | ((t & 0xFFFFFF) << 8)) for t in _TE0)
_TD0 = tuple(
    (_M14[s] << 24) | (_M9[s] << 16) | (_M13[s] << 8) | _M11[s]
    for s in _AES_INV_SBOX
)
_TD1 = tuple(((t >> 8) | ((t & 0xFF) << 24)) for t in _TD0)
_TD2 = tuple(((t >> 16) | ((t & 0xFFFF) << 16)) for t in _TD0)
_TD3 = tuple(((t >> 24) | ((t & 0xFFFFFF) << 8)) for t in _TD0)


def _aes_enc_words(key: bytes) -> tuple[int, ...]:
    """Flat big-endian u32 round-key words from the byte schedule.
    Memoized (r8): the schedule is a pure function of the key and was
    re-derived on every per-stream decrypt call (~13% of the q58
    per-doc extract); tuples keep the shared value immutable."""
    cached = _RK_CACHE.get(key)
    if cached is None:
        cached = tuple(
            int.from_bytes(w[4 * j : 4 * j + 4], "big")
            for w in _aes_expand_key(key)
            for j in range(4)
        )
        if len(_RK_CACHE) > 256:
            _RK_CACHE.clear()
        _RK_CACHE[key] = cached
    return cached


_RK_CACHE: dict[bytes, tuple[int, ...]] = {}
_DK_CACHE: dict[bytes, tuple[int, ...]] = {}


def _inv_mix_word(w: int) -> int:
    a0, a1, a2, a3 = w >> 24, (w >> 16) & 255, (w >> 8) & 255, w & 255
    return (
        (_M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]) << 24
        | (_M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]) << 16
        | (_M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]) << 8
        | (_M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3])
    )


def _aes_dec_words(key: bytes) -> tuple[int, ...]:
    """Round keys for the equivalent inverse cipher: reversed round order,
    InvMixColumns applied to every middle round key. Memoized like
    ``_aes_enc_words``."""
    cached = _DK_CACHE.get(key)
    if cached is None:
        enc = _aes_enc_words(key)
        nr = len(enc) // 4 - 1
        dk = list(enc[4 * nr : 4 * nr + 4])
        for r in range(1, nr):
            dk.extend(
                _inv_mix_word(w) for w in enc[4 * (nr - r) : 4 * (nr - r) + 4]
            )
        dk.extend(enc[0:4])
        cached = tuple(dk)
        if len(_DK_CACHE) > 256:
            _DK_CACHE.clear()
        _DK_CACHE[key] = cached
    return cached


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    fast = _openssl()
    if fast:
        return fast[0](key, iv, data, True)
    rk = _aes_enc_words(key)
    nr = len(rk) // 4 - 1
    te0, te1, te2, te3, sb = _TE0, _TE1, _TE2, _TE3, _AES_SBOX
    p0 = int.from_bytes(iv[0:4], "big")
    p1 = int.from_bytes(iv[4:8], "big")
    p2 = int.from_bytes(iv[8:12], "big")
    p3 = int.from_bytes(iv[12:16], "big")
    out = bytearray()
    for at in range(0, len(data), 16):
        s0 = (int.from_bytes(data[at : at + 4], "big") ^ p0) ^ rk[0]
        s1 = (int.from_bytes(data[at + 4 : at + 8], "big") ^ p1) ^ rk[1]
        s2 = (int.from_bytes(data[at + 8 : at + 12], "big") ^ p2) ^ rk[2]
        s3 = (int.from_bytes(data[at + 12 : at + 16], "big") ^ p3) ^ rk[3]
        i = 4
        for _ in range(nr - 1):
            t0 = te0[s0 >> 24] ^ te1[(s1 >> 16) & 255] ^ te2[(s2 >> 8) & 255] ^ te3[s3 & 255] ^ rk[i]
            t1 = te0[s1 >> 24] ^ te1[(s2 >> 16) & 255] ^ te2[(s3 >> 8) & 255] ^ te3[s0 & 255] ^ rk[i + 1]
            t2 = te0[s2 >> 24] ^ te1[(s3 >> 16) & 255] ^ te2[(s0 >> 8) & 255] ^ te3[s1 & 255] ^ rk[i + 2]
            t3 = te0[s3 >> 24] ^ te1[(s0 >> 16) & 255] ^ te2[(s1 >> 8) & 255] ^ te3[s2 & 255] ^ rk[i + 3]
            s0, s1, s2, s3 = t0, t1, t2, t3
            i += 4
        p0 = (sb[s0 >> 24] << 24 | sb[(s1 >> 16) & 255] << 16 | sb[(s2 >> 8) & 255] << 8 | sb[s3 & 255]) ^ rk[i]
        p1 = (sb[s1 >> 24] << 24 | sb[(s2 >> 16) & 255] << 16 | sb[(s3 >> 8) & 255] << 8 | sb[s0 & 255]) ^ rk[i + 1]
        p2 = (sb[s2 >> 24] << 24 | sb[(s3 >> 16) & 255] << 16 | sb[(s0 >> 8) & 255] << 8 | sb[s1 & 255]) ^ rk[i + 2]
        p3 = (sb[s3 >> 24] << 24 | sb[(s0 >> 16) & 255] << 16 | sb[(s1 >> 8) & 255] << 8 | sb[s2 & 255]) ^ rk[i + 3]
        out += p0.to_bytes(4, "big") + p1.to_bytes(4, "big") \
            + p2.to_bytes(4, "big") + p3.to_bytes(4, "big")
    return bytes(out)


def _aes_decrypt_block_words(dk: list[int], nr: int, block: bytes) -> tuple[int, int, int, int]:
    td0, td1, td2, td3, isb = _TD0, _TD1, _TD2, _TD3, _AES_INV_SBOX
    s0 = int.from_bytes(block[0:4], "big") ^ dk[0]
    s1 = int.from_bytes(block[4:8], "big") ^ dk[1]
    s2 = int.from_bytes(block[8:12], "big") ^ dk[2]
    s3 = int.from_bytes(block[12:16], "big") ^ dk[3]
    i = 4
    for _ in range(nr - 1):
        t0 = td0[s0 >> 24] ^ td1[(s3 >> 16) & 255] ^ td2[(s2 >> 8) & 255] ^ td3[s1 & 255] ^ dk[i]
        t1 = td0[s1 >> 24] ^ td1[(s0 >> 16) & 255] ^ td2[(s3 >> 8) & 255] ^ td3[s2 & 255] ^ dk[i + 1]
        t2 = td0[s2 >> 24] ^ td1[(s1 >> 16) & 255] ^ td2[(s0 >> 8) & 255] ^ td3[s3 & 255] ^ dk[i + 2]
        t3 = td0[s3 >> 24] ^ td1[(s2 >> 16) & 255] ^ td2[(s1 >> 8) & 255] ^ td3[s0 & 255] ^ dk[i + 3]
        s0, s1, s2, s3 = t0, t1, t2, t3
        i += 4
    o0 = (isb[s0 >> 24] << 24 | isb[(s3 >> 16) & 255] << 16 | isb[(s2 >> 8) & 255] << 8 | isb[s1 & 255]) ^ dk[i]
    o1 = (isb[s1 >> 24] << 24 | isb[(s0 >> 16) & 255] << 16 | isb[(s3 >> 8) & 255] << 8 | isb[s2 & 255]) ^ dk[i + 1]
    o2 = (isb[s2 >> 24] << 24 | isb[(s1 >> 16) & 255] << 16 | isb[(s0 >> 8) & 255] << 8 | isb[s3 & 255]) ^ dk[i + 2]
    o3 = (isb[s3 >> 24] << 24 | isb[(s2 >> 16) & 255] << 16 | isb[(s1 >> 8) & 255] << 8 | isb[s0 & 255]) ^ dk[i + 3]
    return o0, o1, o2, o3


def _aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    fast = _openssl()
    if fast:
        return fast[0](key, iv, data, False)
    dk = _aes_dec_words(key)
    nr = len(dk) // 4 - 1
    p0 = int.from_bytes(iv[0:4], "big")
    p1 = int.from_bytes(iv[4:8], "big")
    p2 = int.from_bytes(iv[8:12], "big")
    p3 = int.from_bytes(iv[12:16], "big")
    out = bytearray()
    for at in range(0, len(data), 16):
        blk = data[at : at + 16]
        o0, o1, o2, o3 = _aes_decrypt_block_words(dk, nr, blk)
        out += (o0 ^ p0).to_bytes(4, "big") + (o1 ^ p1).to_bytes(4, "big") \
            + (o2 ^ p2).to_bytes(4, "big") + (o3 ^ p3).to_bytes(4, "big")
        p0 = int.from_bytes(blk[0:4], "big")
        p1 = int.from_bytes(blk[4:8], "big")
        p2 = int.from_bytes(blk[8:12], "big")
        p3 = int.from_bytes(blk[12:16], "big")
    return bytes(out)


from functools import lru_cache

# Pre-derived Algorithm 2.B results seeded from the DRIVER (see
# plans.pipeline.precompute_kdf_seed): the lru_cache below is per python
# WORKER process, so without seeding every worker re-pays the ~1s/call KDF
# for every distinct encrypt dict — (distinct dicts × workers) seconds at
# cluster scale. The seed is a pure cache: a miss falls through to the
# engine's own computation, so correctness never depends on it.
_KDF_SEED: dict[tuple[bytes, bytes, bytes], bytes] = {}


def seed_kdf(entries: dict[tuple[bytes, bytes, bytes], bytes]) -> None:
    """Install driver-precomputed (password, salt, udata) → hash entries
    into this process's KDF cache (idempotent; called per UDF batch)."""
    _KDF_SEED.update(entries)


def _hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    hit = _KDF_SEED.get((password, salt, udata))
    if hit is not None:
        return hit
    return _hash_2b_compute(password, salt, udata)


@lru_cache(maxsize=256)
def _hash_2b_compute(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6): iterated SHA-256/384/512 selected by
    an AES-128-CBC encryption of the rolling state — the password hash
    behind AES-256 /U //O validation and key derivation. Memoized: 2.B is
    deliberately expensive (its job is slowing brute force) and a corpus
    re-derives the same (pwd, salt) pairs constantly."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes | None:
    """AESV2/AESV3 stream payload: 16-byte IV prefix + CBC ciphertext with
    PKCS#7-style padding (1–16 bytes). None on malformed geometry — the
    caller bails to the library chain."""
    if len(data) < 32 or len(data) % 16:
        return None
    out = bytearray(_aes_cbc_decrypt_nopad(key, data[:16], data[16:]))
    pad = out[-1]
    if not 1 <= pad <= 16 or pad > len(out):
        return None
    return bytes(out[:-pad])


def _hex_or_literal(v: bytes) -> bytes | None:
    """A string value from a dict: <hex> or (literal, escape-light)."""
    v = v.strip()
    if v.startswith(b"<"):
        end = v.find(b">")
        if end < 0:
            return None
        hx = re.sub(rb"\s", b"", v[1:end])
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return None
    if v.startswith(b"("):
        end = _string_end(v, 0)
        body = v[1 : end - 1]
        # escapes beyond \( \) \\ are out of scope for O/U values
        return body.replace(b"\\(", b"(").replace(b"\\)", b")").replace(b"\\\\", b"\\")
    return None


def _encryption_key(
    data: bytes, objs: dict[int, bytes], passwords: tuple[bytes, ...] = ()
) -> tuple[bytes, str] | None:
    """None = not encrypted. (base_key, 'rc4'|'aes') for a file encrypted
    with the STANDARD handler — V1/R2 (40-bit RC4), V2/R3 (/Length up to
    128-bit RC4, the Acrobat 5+ shape), V4/R4 with the /StdCF AESV2
    crypt filter (AES-128-CBC, the Acrobat 7+ default), or V5/R6 AES-256
    (AESV3: Algorithm 2.B hash validates the user password against /U
    and unwraps the file key from /UE) — returned methods 'rc4', 'aes'
    (per-object keys) and 'aesv3' (file key). ``passwords`` is the
    pipeline's candidate USER-password book (config-supplied, the way
    batch jobs carry a department password list); the empty password is
    always tried first, then each candidate in order — Algorithm 4/5
    (R≤4) / 2.B /U validation (R6) picks the first that opens the file.
    The trailer fields (/Encrypt, /ID) come from the last classic
    trailer or, when NO classic trailer exists at all, the last xref
    STREAM dict (the modern trailer-less layout; the caller re-expands
    ObjStm containers once the key exists) — a classic trailer without
    /Encrypt means NOT encrypted even if a stale xref stream carries one. Raises _UnsupportedEncryption for every other
    configuration (non-StdCF crypt filters, /EncryptMetadata false on
    V4, a user password outside the book, owner-password-only
    knowledge, malformed /Encrypt).
    Document-level strings (/Info etc.) are /StrF-encrypted too but
    never feed extraction, so only stream decryption is wired."""
    import hashlib
    import struct as _struct

    t_at = data.rfind(b"trailer")
    td = _dict_of(data[t_at:]) if t_at >= 0 else b""
    if t_at < 0:
        # modern layout (PDF 1.6+, today's Acrobat default): the xref
        # STREAM dict carries the trailer fields — take the LAST /XRef
        # in file order (newest incremental revision); the xref stream
        # itself is never encrypted (ISO 32000 §7.5.8.2). Only consulted
        # when NO classic trailer exists at all: ISO 32000 precedence says
        # the newest trailer governs, so a stale xref stream still naming
        # /Encrypt must not re-encrypt a file whose current trailer
        # dropped it (RC4 'decrypting' plaintext streams would emit
        # garbage — wrong text must never beat no text).
        for body in objs.values():
            if b"/XRef" not in body or b"/Encrypt" not in body:
                continue
            d = _dict_of(body)
            if b"/XRef" in d and b"/Type" in d and b"/Encrypt" in d:
                td = d
    if b"/Encrypt" not in td:
        return None
    m = _REF_RE.search(_value_of(td, b"/Encrypt"))
    if not m or int(m.group(1)) not in objs:
        raise _UnsupportedEncryption("unresolvable /Encrypt ref")
    idv = re.findall(rb"<([0-9A-Fa-f \r\n]+)>", _value_of(td, b"/ID"))
    if not idv:
        raise _UnsupportedEncryption("missing /ID")
    file_id = bytes.fromhex(re.sub(rb"\s", b"", idv[0]).decode("ascii"))
    d = _dict_of(objs[int(m.group(1))])
    if b"/Standard" not in d:
        raise _UnsupportedEncryption("non-standard security handler")
    vm = re.search(rb"/V\s+(\d+)", d)
    rm = re.search(rb"/R\s+(\d+)", d)
    ver = int(vm.group(1)) if vm else 0
    rev = int(rm.group(1)) if rm else 0
    if (ver, rev) not in ((1, 2), (2, 3), (4, 4), (5, 6)):
        raise _UnsupportedEncryption(
            "only V1/R2, V2/R3 RC4, V4/R4 AESV2 and V5/R6 AESV3 are modeled"
        )
    if (ver, rev) == (5, 6):
        # AES-256: /StdCF AESV3 crypt filter; empty user password verified
        # by Algorithm 2.B against /U, file key unwrapped from /UE — the
        # FILE key encrypts streams directly (no per-object salting in V5)
        if not re.search(rb"/CFM\s*/AESV3(?![A-Za-z0-9])", d):
            raise _UnsupportedEncryption("V5 crypt filter other than AESV3")
        if not re.search(rb"/StmF\s*/StdCF(?![A-Za-z0-9])", d):
            raise _UnsupportedEncryption("V5 /StmF other than /StdCF")
        u_val = _hex_or_literal(_value_of(d, b"/U"))
        ue_val = _hex_or_literal(_value_of(d, b"/UE"))
        if u_val is None or ue_val is None or len(u_val) < 48 or len(ue_val) != 32:
            raise _UnsupportedEncryption("malformed /U //UE")
        for pwd in (b"",) + tuple(passwords):
            # ISO 32000-2 truncates the UTF-8 password to 127 bytes
            # (SASLprep is out of scope — the password book is ASCII)
            pwd = pwd[:127]
            if _hash_2b(pwd, u_val[32:40]) == u_val[:32]:
                inter = _hash_2b(pwd, u_val[40:48])
                return _aes_cbc_decrypt_nopad(inter, bytes(16), ue_val), "aesv3"
        raise _UnsupportedEncryption("user password outside the book")
    method = "rc4"
    if (ver, rev) == (4, 4):
        # V4 delegates to crypt filters: only the ubiquitous
        # /StdCF /CFM /AESV2 + /StmF /StdCF combination is modeled
        if not re.search(rb"/CFM\s*/AESV2(?![A-Za-z0-9])", d):
            raise _UnsupportedEncryption("V4 crypt filter other than AESV2")
        if not re.search(rb"/StmF\s*/StdCF(?![A-Za-z0-9])", d):
            raise _UnsupportedEncryption("V4 /StmF other than /StdCF")
        if re.search(rb"/EncryptMetadata\s+false", d):
            raise _UnsupportedEncryption("/EncryptMetadata false alters the key")
        method = "aes"
    if method == "aes":
        n_key = 16  # AESV2 is 128-bit by definition (the /CF /Length is bytes)
    else:
        lm = re.search(rb"/Length\s+(\d+)", d)
        n_key = 5 if rev == 2 else (int(lm.group(1)) // 8 if lm else 5)
    if not (5 <= n_key <= 16):
        raise _UnsupportedEncryption("key length out of range")
    o_val = _hex_or_literal(_value_of(d, b"/O"))
    u_val = _hex_or_literal(_value_of(d, b"/U"))
    pm = re.search(rb"/P\s+(-?\d+)", d)
    if o_val is None or u_val is None or len(o_val) != 32 or not pm:
        raise _UnsupportedEncryption("malformed /O //U //P")
    for pwd in (b"",) + tuple(passwords):
        h = hashlib.md5()
        h.update((pwd + _PDF_PAD)[:32])  # Algorithm 2: padded user pwd
        h.update(o_val)
        h.update(_struct.pack("<i", int(pm.group(1))))
        h.update(file_id)
        digest = h.digest()
        if rev >= 3:  # Algorithm 2, R3: 50 re-hash rounds of the key prefix
            for _ in range(50):
                digest = hashlib.md5(digest[:n_key]).digest()
        key = digest[:n_key]
        if rev == 2:  # Algorithm 4: U = RC4(key, PAD)
            ok = _rc4(key, _PDF_PAD) == u_val
        else:  # Algorithm 5, R3: 20-round RC4 chain over md5(PAD ‖ ID),
            # compare the first 16 bytes (the stored tail is arbitrary)
            u = hashlib.md5(_PDF_PAD + file_id).digest()
            for i in range(20):
                u = _rc4(bytes(b ^ i for b in key), u)
            ok = u == u_val[:16]
        if ok:
            return key, method
    raise _UnsupportedEncryption("user password outside the book")


def aesv3_kdf_salts(data: bytes) -> bytes | None:
    """Validation ‖ key salts (``u[32:40] + u[40:48]``, 16 bytes) of a
    V5/R6 AES-256 standard-handler file, or None. A CHEAP single-purpose
    parse (trailer → /Encrypt object → /U) for the distributed KDF
    pre-pass — it never runs Algorithm 2.B itself, and a wrong/missing
    answer only costs a cache miss (the extract rung re-derives).
    Mirrors _encryption_key's trailer precedence: the last classic
    trailer when one exists, else the last xref STREAM dict (the modern
    trailer-less layout, q65 shape)."""
    if not data.startswith(b"%PDF-") or b"/Encrypt" not in data:
        return None
    t_at = data.rfind(b"trailer")
    td = _dict_of(data[t_at:]) if t_at >= 0 else b""
    if t_at < 0:
        # trailer-less layout: the LAST /XRef stream dict carrying
        # /Encrypt governs (C substring prefilter before the _dict_of
        # char walk — see the per-object-walk gotcha)
        for om in _OBJ_START_RE.finditer(data):
            end = data.find(b"endobj", om.end())
            body = data[om.end(): end if end >= 0 else len(data)]
            if b"/XRef" not in body or b"/Encrypt" not in body:
                continue
            d2 = _dict_of(body)
            if b"/XRef" in d2 and b"/Type" in d2 and b"/Encrypt" in d2:
                td = d2
    if b"/Encrypt" not in td:
        return None
    m = _REF_RE.search(_value_of(td, b"/Encrypt"))
    if not m:
        return None
    om = re.search(rb"(?<![0-9])%d\s+\d+\s+obj\b" % int(m.group(1)), data)
    if not om:
        return None
    end = data.find(b"endobj", om.end())
    d = _dict_of(data[om.end(): end if end >= 0 else len(data)])
    if not (re.search(rb"/V\s+5\b", d) and re.search(rb"/R\s+6\b", d)):
        return None
    u_val = _hex_or_literal(_value_of(d, b"/U"))
    if u_val is None or len(u_val) < 48:
        return None
    return u_val[32:48]


def kdf_seed_for_salts(
    salt16: bytes, passwords: tuple[bytes, ...] = ()
) -> dict[tuple[bytes, bytes, bytes], bytes]:
    """Algorithm 2.B entries for one 16-byte (validation ‖ key) salt pair
    under the empty user password AND every candidate in ``passwords``
    (the pipeline's password book, spec.KNOWN_USER_PASSWORDS) — the
    hashes _encryption_key's V5/R6 validation loop tries in order, so a
    book-locked file costs the workers zero KDF calls too. Computed with
    the engine's OWN _hash_2b_compute (twin independence holds: this only
    relocates where the engine's KDF runs)."""
    v, k = bytes(salt16[:8]), bytes(salt16[8:16])
    out: dict[tuple[bytes, bytes, bytes], bytes] = {}
    for pwd in (b"",) + tuple(passwords):
        pwd = pwd[:127]  # mirror _encryption_key's ISO 32000-2 truncation
        out[(pwd, v, b"")] = _hash_2b_compute(pwd, v)
        out[(pwd, k, b"")] = _hash_2b_compute(pwd, k)
    return out


def _asciihex_decode(raw: bytes) -> bytes | None:
    """/ASCIIHexDecode: hex pairs up to the '>' EOD, whitespace ignored,
    odd trailing digit padded with 0. None on a non-hex byte (wrong bytes
    must never beat no bytes)."""
    at = raw.find(b">")
    if at >= 0:
        raw = raw[:at]
    h = re.sub(rb"\s", b"", raw)
    if not re.fullmatch(rb"[0-9A-Fa-f]*", h):
        return None
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def _ascii85_decode(raw: bytes) -> bytes | None:
    """/ASCII85Decode: base-85 groups of 5 chars ('!'..'u') → 4 bytes,
    'z' = four zero bytes at a group boundary, '~>' EOD; a trailing
    partial group of n chars yields n-1 bytes. None on invalid chars,
    'z' inside a group, a 1-char final group, or group overflow."""
    at = raw.find(b"~>")
    if at >= 0:
        raw = raw[:at]
    out = bytearray()
    group: list[int] = []
    for b in raw:
        if b in b" \t\r\n\f\v":
            continue
        if b == 0x7A:  # 'z'
            if group:
                return None
            out += b"\x00\x00\x00\x00"
            continue
        if not (0x21 <= b <= 0x75):
            return None
        group.append(b - 0x21)
        if len(group) == 5:
            acc = 0
            for d in group:
                acc = acc * 85 + d
            if acc > 0xFFFFFFFF:
                return None
            out += acc.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            return None
        k = len(group)
        acc = 0
        for d in group + [84] * (5 - k):  # pad with 'u'
            acc = acc * 85 + d
        if acc > 0xFFFFFFFF:
            return None
        out += acc.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _lzw_decode(raw: bytes, early: int = 1) -> bytes | None:
    """/LZWDecode (TIFF-convention LZW): 9→12-bit codes, clear 256,
    EOD 257, /EarlyChange (default 1) widens the code one entry early.
    None on an out-of-range code or width overflow — the pre-1.5-era
    filter the tokenizer bailed on through round 5."""
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    size = 258
    width = 9
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = 0
    for byte in raw:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:
                table = {i: bytes([i]) for i in range(256)}
                size, width, prev = 258, 9, None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
            elif code < size:
                entry = table[code] if code in table else None
                if entry is None:
                    return None
                table[size] = prev + entry[:1]
                size += 1
            elif code == size:
                entry = prev + prev[:1]
                table[size] = entry
                size += 1
            else:
                return None
            out += entry
            prev = entry
            # the decoder's table lags the encoder's by one entry, so it
            # widens at 2^w - early (511/1023/2047 for the default
            # EarlyChange=1) while the encoder widens at 2^w - early + 1;
            # at width 12 the encoder must send a clear instead
            if size + early >= (1 << width) and width < 12:
                width += 1
    return None  # EOD never seen → truncated stream


_FILTER_VAL_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_PARMS_VAL_RE = re.compile(rb"/(?:DecodeParms|DP)\s*(?=(\[|<<|null))")


def _filter_chain(d: bytes) -> list[bytes] | None:
    """Ordered /Filter names (empty when absent); None = unparseable."""
    if b"/Filter" not in d:
        return []
    m = _FILTER_VAL_RE.search(d)
    if not m:
        return None
    v = m.group(1)
    names = re.findall(rb"/([A-Za-z0-9]+)", v)
    return names if names else None


def _parms_chain(d: bytes, count: int) -> list[bytes] | None:
    """Per-filter /DecodeParms dict bytes aligned to the filter chain
    (b'' = null/absent); None = a shape this rung does not model."""
    m = _PARMS_VAL_RE.search(d)
    if not m:
        return [b""] * count
    at = m.start(1)
    if d[at : at + 4] == b"null":
        return [b""] * count
    if d[at : at + 2] == b"<<":
        if count != 1:
            return None
        return [_dict_of(d[at:])]
    # array: top-level null / << >> entries in order
    out: list[bytes] = []
    i = at + 1
    end = d.find(b"]", at)
    while i < len(d) and (end < 0 or i < end):
        if d[i : i + 4] == b"null":
            out.append(b"")
            i += 4
        elif d[i : i + 2] == b"<<":
            depth = 0
            j = i
            while j < len(d):
                if d[j : j + 2] == b"<<":
                    depth += 1
                    j += 2
                elif d[j : j + 2] == b">>":
                    depth -= 1
                    j += 2
                    if depth == 0:
                        break
                else:
                    j += 1
            out.append(d[i:j])
            end = d.find(b"]", j)
            i = j
        elif d[i : i + 1] == b"]":
            break
        else:
            i += 1
    return out if len(out) == count else None


def _stream_data(body: bytes, num: int | None = None,
                 enc_key: tuple[bytes, str] | None = None) -> bytes | None:
    """Decoded stream content of an object body; None when absent or the
    filter is unsupported. With ``enc_key`` = (base_key, 'rc4'|'aes') and
    the object number, the raw bytes are decrypted under the per-object
    key BEFORE filter decode — decryption wraps compression in the PDF
    model (AESV2 payloads carry a 16-byte IV prefix + CBC padding)."""
    d = _dict_of(body)
    at = body.find(b"stream")
    if at < 0:
        return None
    at += len(b"stream")
    if body[at : at + 2] == b"\r\n":
        at += 2
    elif body[at : at + 1] == b"\n":
        at += 1
    lm = _LEN_RE.search(d)
    if lm:
        raw = body[at : at + int(lm.group(1))]
    else:
        end = body.rfind(b"endstream")
        if end < 0:
            return None
        raw = body[at:end].rstrip(b"\r\n")
    if enc_key is not None and num is not None:
        base_key, enc_method = enc_key
        if enc_method in ("aes", "aesv3"):
            key = _object_aes_key(base_key, num) if enc_method == "aes" else base_key
            dec = _aes_cbc_decrypt(key, raw)
            if dec is None:
                return None
            raw = dec
        else:
            raw = _rc4(_object_rc4_key(base_key, num), raw)
    filters = _filter_chain(d)
    if filters is None:
        return None
    parms = _parms_chain(d, len(filters))
    if parms is None:
        return None
    for name, parm in zip(filters, parms):
        if name == b"ASCIIHexDecode" or name == b"AHx":
            raw = _asciihex_decode(raw)
        elif name == b"ASCII85Decode" or name == b"A85":
            raw = _ascii85_decode(raw)
        elif name == b"FlateDecode" or name == b"Fl":
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                return None
            raw = _apply_predictor(raw, parm)
        elif name == b"LZWDecode" or name == b"LZW":
            em = re.search(rb"/EarlyChange\s+(\d+)", parm)
            raw = _lzw_decode(raw, int(em.group(1)) if em else 1)
            if raw is not None:
                raw = _apply_predictor(raw, parm)
        else:
            return None  # unsupported filter → let the libraries try
        if raw is None:
            return None
    return raw


def _apply_predictor(raw: bytes, parm: bytes) -> bytes | None:
    """Reverse the /Predictor declared in a Flate/LZW parms dict (PNG
    tags ≥ 10 — xref/objstm streams use Up=12); identity when absent."""
    pm = re.search(rb"/Predictor\s+(\d+)", parm)
    if not pm:
        return raw
    pred = int(pm.group(1))
    if pred >= 10:
        cm = re.search(rb"/Columns\s+(\d+)", parm)
        co = re.search(rb"/Colors\s+(\d+)", parm)
        bm = re.search(rb"/BitsPerComponent\s+(\d+)", parm)
        return _png_unpredict(
            raw,
            int(cm.group(1)) if cm else 1,
            int(co.group(1)) if co else 1,
            int(bm.group(1)) if bm else 8,
        )
    if pred != 1:
        return None  # TIFF predictor 2 — out of this rung's scope
    return raw


def _png_unpredict(raw: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes | None:
    """Reverse PNG row predictors (tags 0–4: None/Sub/Up/Average/Paeth) —
    /DecodeParms /Predictor ≥ 10, standard on xref streams. None on a
    malformed tag or truncated row."""
    bpp = max(1, (colors * bpc) // 8)
    stride = columns * bpp
    if stride <= 0:
        return None
    out = bytearray()
    prev = bytearray(stride)
    i, n = 0, len(raw)
    while i < n:
        tag = raw[i]
        row = bytearray(raw[i + 1 : i + 1 + stride])
        if len(row) < stride:
            return None
        i += 1 + stride
        if tag == 0:
            pass
        elif tag == 1:  # Sub
            for j in range(bpp, stride):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif tag == 2:  # Up
            for j in range(stride):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif tag == 3:  # Average
            for j in range(stride):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for j in range(stride):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        else:
            return None
        out += row
        prev = row
    return bytes(out)


def _catalog_from_xref_stream(objs: dict[int, bytes]) -> int | None:
    """Catalog object number per the LAST `/Type /XRef` stream's /Root —
    xref streams carry the trailer fields inline (PDF 1.5+); the last one
    in file order is the newest incremental revision."""
    root = None
    for body in objs.values():
        # fast substring pre-filter before the Python-loop _dict_of (see
        # _expand_object_streams note)
        if b"/XRef" not in body or b"/Root" not in body:
            continue
        d = _dict_of(body)
        if b"/XRef" in d and b"/Type" in d and b"/Root" in d:
            m = _REF_RE.search(_value_of(d, b"/Root"))
            if m:
                root = int(m.group(1))
    return root


def _page_objects(objs: dict[int, bytes]) -> list[int] | None:
    """Page object numbers in page-tree order. The catalog comes from the
    xref-stream trailer's /Root when one exists (authoritative under
    incremental updates), else from a /Type /Catalog scan."""
    cat = _catalog_from_xref_stream(objs)
    root = None
    if cat is not None and cat in objs:
        m = _REF_RE.search(_value_of(_dict_of(objs[cat]), b"/Pages"))
        if m:
            root = int(m.group(1))
    if root is None:
        for num, body in objs.items():
            if b"/Type" in body and b"/Catalog" in body:
                m = _REF_RE.search(_value_of(_dict_of(body), b"/Pages"))
                if m:
                    root = int(m.group(1))
                break
    if root is None or root not in objs:
        return None
    pages: list[int] = []

    def walk(num: int, depth: int = 0) -> bool:
        if depth > 32 or num not in objs:
            return False
        d = _dict_of(objs[num])
        if b"/Type" in d and b"/Page" in d and b"/Pages" not in d:
            pages.append(num)
            return True
        kids = _value_of(d, b"/Kids")
        for m in _REF_RE.finditer(kids):
            if not walk(int(m.group(1)), depth + 1):
                return False
        return True

    if not walk(root):
        return None
    return pages if pages else None


_ESCAPES = {
    0x6E: "\n", 0x72: "\r", 0x74: "\t", 0x62: "\b", 0x66: "\f",
    0x28: "(", 0x29: ")", 0x5C: "\\",
}


def _literal_bytes(content: bytes, i: int) -> tuple[bytes, int]:
    """Decode the literal string starting at ``content[i] == '('`` into its
    raw BYTES (escape/nesting/continuation aware); returns (bytes, index
    one past the closing paren). Shared by the positioned, tagged and
    /ActualText walks so a show's bytes decode identically before the font
    stage."""
    buf = bytearray()
    depth = 1
    i += 1
    n = len(content)
    while i < n and depth:
        ch = content[i]
        if ch == 0x5C and i + 1 < n:
            nxt = content[i + 1]
            if nxt in _ESCAPES:
                buf.append(ord(_ESCAPES[nxt]))
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal \ddd (1-3 digits)
                j = i + 1
                oct_s = ""
                while j < n and len(oct_s) < 3 and 0x30 <= content[j] <= 0x37:
                    oct_s += chr(content[j])
                    j += 1
                buf.append(int(oct_s, 8) & 0xFF)
                i = j
            elif nxt in (0x0A, 0x0D):  # line continuation
                i += 2
                if nxt == 0x0D and i < n and content[i] == 0x0A:
                    i += 1
            else:
                buf.append(nxt)
                i += 2
            continue
        if ch == 0x28:
            depth += 1
        elif ch == 0x29:
            depth -= 1
            if depth == 0:
                i += 1
                break
        buf.append(ch)
        i += 1
    return bytes(buf), i


_NUM = rb"-?[0-9]+(?:\.[0-9]+)?"
_NUM_RE = re.compile(_NUM)
_SEG_RE = re.compile(
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+m\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+l\s+S"
)
_MOVE_RE = re.compile(
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+(Td|TD)\b"
    rb"|(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+("
    + _NUM + rb")\s+(" + _NUM + rb")\s+Tm\b"
    rb"|BT\b"
    rb"|(" + _NUM + rb")\s+TL\b"       # group 10: set leading (text state)
    rb"|(T\*)"                         # group 11: leading-based line advance
    rb"|(?P<cmbail>cm\b)"              # cm in the NO-cm fast path: a 'cm'
    # substring slipped past the C prefilter mid-token — bail, never guess
)
# the CTM-aware walk (r7: top-level q/cm/Q graphics state — the common
# real-generator shape where the whole page body sits under a `q … cm … Q`
# wrapper). Same leading groups 1–11 as _MOVE_RE, plus: a fully-operanded
# `a b c d e f cm` (composes into the tracked CTM), bare `cm` whose
# operands the walk could not capture (→ bail), and standalone q/Q
# (push/pop; the lookarounds keep name tails like `/freq` and ops like
# `/Quality` from misreading as state ops).
_MOVE_CTM_RE = re.compile(
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+(Td|TD)\b"
    rb"|(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+("
    + _NUM + rb")\s+(" + _NUM + rb")\s+Tm\b"
    rb"|BT\b"
    rb"|(" + _NUM + rb")\s+TL\b"
    rb"|(T\*)"
    rb"|(?P<c1>" + _NUM + rb")\s+(?P<c2>" + _NUM + rb")\s+(?P<c3>" + _NUM
    + rb")\s+(?P<c4>" + _NUM + rb")\s+(?P<c5>" + _NUM + rb")\s+(?P<c6>"
    + _NUM + rb")\s+cm(?![A-Za-z0-9])"
    rb"|(?P<cmbail>cm(?![A-Za-z0-9]))"
    rb"|(?P<push>(?<![A-Za-z0-9/])q(?![A-Za-z0-9*'\"]))"
    rb"|(?P<pop>(?<![A-Za-z0-9/])Q(?![A-Za-z0-9*'\"]))"
)


def _ctm_compose(m: tuple, ctm: tuple | None) -> tuple:
    """Row-vector convention (PDF 8.3.4): p_device = p_user × M × CTM, so
    `cm` PREPENDS — the new matrix applies before the current CTM."""
    if ctm is None:
        return m
    a, b, c, d, e, f = m
    ca, cb, cc, cd, ce, cf = ctm
    return (
        a * ca + b * cc, a * cb + b * cd,
        c * ca + d * cc, c * cb + d * cd,
        e * ca + f * cc + ce, e * cb + f * cd + cf,
    )


def _ctm_ok(a: float, b: float, c: float, d: float) -> bool:
    """The modeled linear part — orthogonal columns (rotation × axis
    scale), invertible; true shear or singular matrices are out of scope
    (same rule as the form-/Matrix path)."""
    return abs(a * c + b * d) <= 1e-9 and abs(a * d - b * c) >= 1e-12


_BI_BOUND = b"\x00\t\n\x0c\r >)]"  # byte classes that may precede BI
_BI_NEXT = b"\x00\t\n\x0c\r /<>[]()"  # delimiter classes that may follow it
_ID_TOKEN_RE = re.compile(rb"[\x00\t\n\x0c\r >\]]ID[\x00\t\n\x0c\r ]")
_EI_END_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r /<>\[\]()]|$)")


def _strip_inline_images(content: bytes) -> bytes | None:
    """Blank every BI…ID…EI inline-image extent to spaces (length and
    therefore operand offsets preserved) so the text/ruling walks never
    scan image binary — a stray 0x28 in pixel data would otherwise open a
    phantom literal string and emit wrong text. String-aware: 'BI' inside
    (…) or <…> is shown text, not the operator. Image data runs from the
    single byte after the ID token to the first whitespace+EI+delimiter
    run — the classic-reader heuristic (pre-2.0 PDF has no /L length
    entry), shared with the oracle so the twins truncate pathological
    embedded-EI payloads identically. Returns None when BI has no
    ID/EI terminator (truncated image → rung bails, never wrong text)."""
    if b"BI" not in content:  # C prefilter: almost every stream skips here
        return content
    buf = None
    i = 0
    n = len(content)
    while True:
        p_lit = content.find(b"(", i)
        p_hex = content.find(b"<", i)
        p_bi = content.find(b"BI", i)
        cand = min((p for p in (p_lit, p_hex, p_bi) if p != -1), default=-1)
        if cand == -1:
            return content if buf is None else bytes(buf)
        if cand == p_bi and cand not in (p_lit, p_hex):
            prev_ok = cand == 0 or content[cand - 1] in _BI_BOUND
            nxt = content[cand + 2 : cand + 3]
            nxt_ok = nxt == b"" or nxt in _BI_NEXT
            if not (prev_ok and nxt_ok):
                i = cand + 2
                continue
            id_m = _ID_TOKEN_RE.search(content, cand + 2)
            if not id_m:
                return None
            ei_m = _EI_END_RE.search(content, id_m.end())
            if not ei_m:
                return None
            if buf is None:
                buf = bytearray(content)
            buf[cand : ei_m.end()] = b" " * (ei_m.end() - cand)
            i = ei_m.end()
            continue
        if content[cand] == 0x3C:
            if content[cand : cand + 2] == b"<<":
                i = cand + 2
                continue
            gt = content.find(b">", cand)
            i = n if gt < 0 else gt + 1
            continue
        i = _string_end(content, cand)


class _UnsupportedForm(Exception):
    """An XObject /Do configuration outside the modeled subset — the rung
    bails to the library chain rather than risk wrong/missing text."""


_DO_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)\s+Do(?![A-Za-z0-9])")
_BT_ET_DO_RE = re.compile(rb"(?<![A-Za-z0-9])(BT|ET|Do)(?![A-Za-z0-9])")
def _fmt_coord(v: float) -> bytes:
    """Plain-decimal coordinate (PDF numbers take no exponent syntax)."""
    s = f"{v:.4f}".rstrip("0").rstrip(".")
    return (s or "0").encode("ascii")


def _expand_forms(
    objs: dict[int, bytes],
    holder_d: bytes,
    content: bytes,
    enc_key,
    form_dicts: list[bytes],
    inherited_xo: dict[bytes, int] | None = None,
    depth: int = 0,
) -> bytes:
    """Splice every `/Name Do` form-XObject invocation's stream bytes into
    ``content`` at the call site (recursively — forms invoke forms), so
    the downstream walks see one flat token sequence per page. Modeled
    subset (anything else raises _UnsupportedForm → rung bail):

    - /Subtype /Form with an absent/identity /Matrix, or any matrix whose
      linear part has orthogonal columns and a nonzero determinant —
      the matrix is emitted as a `cm` INSIDE the splice's isolation
      wrapper (§8.10.1: form space maps through /Matrix then CTM), so the
      page walks' state tracking composes it exactly, including leading
      advance and nested Tm under rotation (the r7-early operand-rewrite
      path and its bails are gone); true SHEAR or singular matrices bail;
    - top-level `cm` alongside Do is MODELED (r7): each spliced form is
      isolated in a synthetic `q … Q` (ISO 32000 §8.10.2 — Do saves and
      restores graphics state around the form), and the page walks'
      CTM tracking then positions the spliced ops in device space; a
      form's own internal cm is contained by the same wrapper instead of
      leaking past the Do;
    - Do at nesting depth ≤ 8, outside BT…ET blocks, with the name
      resolvable through the holder's /Resources /XObject map (a form
      without its own /Resources inherits the invoking context's map —
      the ISO 32000 §8.10.1 legacy rule);
    - /Subtype /Image Do is dropped (pixels carry no text).

    Text STATE (Tf/TL) set inside a form is NOT restored at its end —
    both twins share this simplification; real generators re-issue Tf
    inside every BT block. ``form_dicts`` collects each spliced form's
    dict so the caller can merge its /Font resources."""
    if depth > 8:
        raise _UnsupportedForm("form nesting too deep")
    stripped = _strip_inline_images(content)
    if stripped is None:
        raise _UnsupportedForm("truncated inline image inside form content")
    content = stripped
    chunks = _content_chunks(content)
    if not any(_DO_RE.search(c) for is_str, c in chunks if not is_str):
        return content
    bt_depth = 0
    for is_str, c in chunks:
        if is_str:
            continue
        for m in _BT_ET_DO_RE.finditer(c):
            t = m.group(1)
            if t == b"BT":
                bt_depth += 1
            elif t == b"ET":
                bt_depth = max(0, bt_depth - 1)
            elif bt_depth:
                raise _UnsupportedForm("Do inside a BT…ET block")
    res_d = _resources_dict(objs, holder_d)  # climbs /Parent for pages
    xo_d = _nested_dict_of(res_d, b"/XObject", objs) if res_d else b""
    if xo_d:
        xo = {m.group(1): int(m.group(2)) for m in _FONT_PAIR_RE.finditer(xo_d)}
    elif not res_d and inherited_xo is not None:
        xo = inherited_xo
    else:
        xo = {}
    out = bytearray()
    for is_str, c in chunks:
        if is_str or b"Do" not in c:
            out += c
            continue
        last = 0
        for m in _DO_RE.finditer(c):
            out += c[last : m.start()]
            last = m.end()
            num = xo.get(m.group(1))
            body = objs.get(num) if num is not None else None
            if body is None:
                raise _UnsupportedForm("unresolvable XObject name in Do")
            bd = _dict_of(body)
            if re.search(rb"/Subtype\s*/Image(?![A-Za-z0-9])", bd):
                continue  # image XObject: no text, drop the op
            if not re.search(rb"/Subtype\s*/Form(?![A-Za-z0-9])", bd):
                raise _UnsupportedForm("Do of unmodeled XObject subtype")
            mm = re.search(rb"/Matrix\s*\[([^\]]*)\]", bd)
            mat = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
            if mm:
                try:
                    vals = [
                        float(v) for v in
                        mm.group(1).decode("latin-1").split()
                    ]
                except ValueError:
                    raise _UnsupportedForm("unparsable form /Matrix")
                if len(vals) != 6:
                    raise _UnsupportedForm("unparsable form /Matrix")
                # modeled form space: translate / scale / rotation — the
                # linear part must have ORTHOGONAL columns (rotation ×
                # axis scale) and be invertible; true shear or a singular
                # matrix bails (spliced positions would be wrong)
                ma, mb, mc, md = vals[:4]
                if (abs(ma * mc + mb * md) > 1e-9
                        or abs(ma * md - mb * mc) < 1e-12):
                    raise _UnsupportedForm("sheared or singular form /Matrix")
                mat = tuple(vals)
            fraw = _stream_data(body, num=num, enc_key=enc_key)
            if fraw is None:
                raise _UnsupportedForm("undecodable form stream")
            form_dicts.append(bd)
            sub = _expand_forms(
                objs, bd, fraw, enc_key, form_dicts,
                inherited_xo=xo, depth=depth + 1,
            )
            if mat != (1.0, 0.0, 0.0, 1.0, 0.0, 0.0):
                # the form /Matrix IS a cm inside the isolation wrapper
                # (§8.10.1: form space maps through /Matrix then CTM) —
                # the walks' state tracking composes it exactly, so the
                # old operand-rewrite path (and its leading/Tm-under-
                # rotation bails) is gone (r7 late).
                sub = b" ".join(_fmt_coord(v) for v in mat) + b" cm\n" + sub
            # synthetic state isolation (§8.10.2): Do saves/restores the
            # graphics state, so a cm inside the form (or a page CTM
            # around the Do) composes exactly as a real renderer would.
            # Text state (Tf/TL) still leaks by the twins' shared
            # simplification — the walks' q/Q tracking restores CTM only.
            out += b"\nq\n" + sub + b"\nQ\n"
        out += c[last:]
    return bytes(out)


def _page_contents_full(data: bytes, passwords: tuple[bytes, ...] = ()):
    """The one page walk behind every tokenizer (runs, rulings, tagged): a
    list of (content_bytes, fonts) per page plus the file-wide
    strict-fonts flag, the object map and the page object numbers —
    `(pages, strict_fonts, objs, page_nums)` — or None overall when the
    file is out of scope. Handles standard-handler encryption
    in-line (_encryption_key, with ``passwords`` as the candidate
    user-password book) and resolves each page's font resources (ToUnicode
    maps for Type0 fonts); any other encrypted or font configuration
    bails."""
    objs = _objects(data)
    try:
        enc_key = _encryption_key(data, objs, passwords)
    except _UnsupportedEncryption:
        return None
    if enc_key is not None:
        # encrypted object streams: _objects' plaintext expansion pass
        # skipped every container (ciphertext fails the zlib checksum);
        # re-expand now that streams can decrypt — the container
        # encrypts AS A WHOLE under its own object key, members inherit
        _expand_object_streams(objs, enc_key)
    page_nums = _page_objects(objs)
    if not page_nums:
        return None
    # C-substring pre-filter (see _expand_object_streams note): the font
    # resolution pass only runs on files that declare a Type0 font, a
    # /Differences encoding, a simple-font ToUnicode CMap, or a NAMED
    # /Encoding (e.g. /WinAnsiEncoding — reading those bytes as latin-1
    # would emit wrong 0x80–0x9F text) at all; such files also make every
    # Tf name STRICT (unresolvable → bail) since an unresolved font could
    # be the remapped one
    strict_fonts = any(
        b"/Type0" in body
        or b"/Differences" in body
        or b"/ToUnicode" in body
        or b"/Encoding" in body
        for body in objs.values()
    )
    out: list[tuple[bytes, dict[bytes, tuple[str, dict[int, str]] | None]]] = []
    for num in page_nums:
        page_d = _dict_of(objs[num])
        if strict_fonts:
            try:
                fonts = _page_fonts(objs, page_d, enc_key)
            except _UnsupportedFont:
                return None
        else:
            fonts = {}
        refs = _value_of(page_d, b"/Contents")
        content = b""
        for m in _REF_RE.finditer(refs):
            ref = int(m.group(1))
            if ref not in objs:
                return None
            part = _stream_data(objs[ref], num=ref, enc_key=enc_key)
            if part is None:
                return None
            content += part + b"\n"
        # one choke point for every walk (positioned runs, rulings,
        # tagged): inline-image extents are blanked before any scan
        content = _strip_inline_images(content)
        if content is None:
            return None
        if b"Do" in content:  # C prefilter — almost every page skips here
            form_dicts: list[bytes] = []
            try:
                content = _expand_forms(
                    objs, page_d, content, enc_key, form_dicts
                )
            except _UnsupportedForm:
                return None
            # a spliced form's own /Font resources join the page map; a
            # name bound to a DIFFERENT handle than the page's would make
            # the flat splice ambiguous — bail
            if strict_fonts:
                for fd in form_dicts:
                    try:
                        ffonts = _page_fonts(objs, fd, enc_key)
                    except _UnsupportedFont:
                        return None
                    for fname, handle in ffonts.items():
                        if fonts.setdefault(fname, handle) != handle:
                            return None
        # /Rotate (inheritable, §7.7.3.3): a 90/180/270 display rotation
        # becomes a synthetic initial `cm` so every walk (runs, rulings)
        # extracts in the DISPLAYED orientation — the library-chain
        # behavior. Junk /Rotate values bail; 0/absent costs nothing.
        rv = _inherited_value(objs, page_d, b"/Rotate").strip()
        if rv:
            try:
                rot = int(rv) % 360
            except ValueError:
                return None
            if rot % 90:
                return None  # spec: must be a multiple of 90
            if rot:
                mv = _inherited_value(objs, page_d, b"/MediaBox")
                bm = re.match(
                    rb"\s*\[\s*(" + _NUM + rb")\s+(" + _NUM + rb")\s+("
                    + _NUM + rb")\s+(" + _NUM + rb")\s*\]", mv,
                )
                if not bm:
                    return None  # rotation needs the page box
                box = tuple(float(bm.group(k)) for k in (1, 2, 3, 4))
                m6 = _rotate_ctm(rot, box)
                content = b" ".join(
                    _fmt_coord(v) for v in m6
                ) + b" cm\n" + content
        out.append((content, fonts))
    return out, strict_fonts, objs, page_nums


def tokenize_pdf_rulings(
    data: bytes, passwords: tuple[bytes, ...] = ()
) -> list[list[tuple[float, float, float, float]]] | None:
    """Per-page stroked straight segments `x1 y1 m x2 y2 l S` — the vector
    ruling geometry lattice-table extraction keys on (Camelot's line mask).
    Segment endpoints map through the same top-level q/cm/Q state the text
    walk tracks (r7) — text and rulings must live in ONE device space or
    lattice cell placement would mis-grid on cm-wrapped pages. None when
    the file is out of this rung's scope."""
    if not data.startswith(b"%PDF-"):
        return None
    res = _page_contents_full(data, passwords)
    if res is None:
        return None
    pages = res[0]
    out = []
    for content, _fonts in pages:
        segs = _top_level_segments_ctm(content)
        if segs is None:
            return None  # same bail contract as the text walk
        out.append(segs)
    return out


def _content_chunks(content: bytes) -> list[tuple[bool, bytes]]:
    """Split content into alternating (is_string, bytes) chunks: literal
    strings (escape/nesting aware) and <hex> strings verbatim, top-level
    operator gaps in between. The walk jumps between string delimiters with
    C-level ``find`` — cost scales with the NUMBER of strings, not bytes —
    so callers can run their regexes per gap at C speed while never
    touching shown-text bytes (a raw-bytes regex would fire on ruling-like
    text INSIDE a string: "(move 10 20 m 30 40 l S done)")."""
    chunks: list[tuple[bool, bytes]] = []
    i = gap_start = 0
    n = len(content)
    while True:
        p_lit = content.find(b"(", i)
        p_hex = content.find(b"<", i)
        cand = min((p for p in (p_lit, p_hex) if p != -1), default=-1)
        if cand == -1:
            chunks.append((False, content[gap_start:]))
            return chunks
        if content[cand] == 0x3C and content[cand : cand + 2] == b"<<":
            i = cand + 2  # dict open — not a hex string
            continue
        if content[cand] == 0x28:
            end = _string_end(content, cand)
        else:
            gt = content.find(b">", cand)
            end = n if gt < 0 else gt + 1
        chunks.append((False, content[gap_start:cand]))
        chunks.append((True, content[cand:end]))
        i = gap_start = end


def _top_level_segments(content: bytes) -> list[tuple[float, float, float, float]]:
    """_SEG_RE matches outside literal/hex strings only (phantom-geometry
    guard — see _content_chunks). A segment never spans a string (the
    regex's inter-token \\s+ can't cross string bytes), so per-gap finditer
    ≡ the top-level subset of a whole-content finditer."""
    return [
        tuple(float(g) for g in m.groups())
        for is_str, chunk in _content_chunks(content)
        if not is_str
        for m in _SEG_RE.finditer(chunk)
    ]


# ruling scan + graphics-state ops in ONE pass (r7): segments, fully-
# operanded cm, bare cm (bail), and standalone q/Q — finditer order within
# a gap preserves operator order, which the CTM state depends on
_SEG_CTM_RE = re.compile(
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+m\s+(" + _NUM + rb")\s+("
    + _NUM + rb")\s+l\s+S"
    rb"|(?P<c1>" + _NUM + rb")\s+(?P<c2>" + _NUM + rb")\s+(?P<c3>" + _NUM
    + rb")\s+(?P<c4>" + _NUM + rb")\s+(?P<c5>" + _NUM + rb")\s+(?P<c6>"
    + _NUM + rb")\s+cm(?![A-Za-z0-9])"
    rb"|(?P<cmbail>cm(?![A-Za-z0-9]))"
    rb"|(?P<push>(?<![A-Za-z0-9/])q(?![A-Za-z0-9*'\"]))"
    rb"|(?P<pop>(?<![A-Za-z0-9/])Q(?![A-Za-z0-9*'\"]))"
)


def _top_level_segments_ctm(
    content: bytes,
) -> list[tuple[float, float, float, float]] | None:
    """_top_level_segments with the r7 top-level CTM model: `x y m x y l S`
    endpoints map through the tracked q/cm/Q state so rulings land in the
    same device space as the text walk's runs. The `cm`-free common case
    takes the untouched single-regex fast path. None = out of scope
    (sheared/singular/operand-less cm, unbalanced Q) — the caller bails
    the whole document, mirroring tokenize_pdf_runs."""
    if b"cm" not in content:
        return _top_level_segments(content)
    segs: list[tuple[float, float, float, float]] = []
    ctm: tuple | None = None
    stack: list[tuple | None] = []
    for is_str, chunk in _content_chunks(content):
        if is_str:
            continue
        for m in _SEG_CTM_RE.finditer(chunk):
            if m.group("cmbail") is not None:
                return None
            if m.group("c1") is not None:
                m6 = tuple(
                    float(m.group(k))
                    for k in ("c1", "c2", "c3", "c4", "c5", "c6")
                )
                if not _ctm_ok(*m6[:4]):
                    return None
                ctm = _ctm_compose(m6, ctm)
            elif m.group("push"):
                stack.append(ctm)
            elif m.group("pop"):
                if not stack:
                    return None
                ctm = stack.pop()
            else:
                x1, y1, x2, y2 = (float(g) for g in m.groups()[:4])
                if ctm is not None:
                    a, b, c, d, e, f = ctm
                    x1, y1 = a * x1 + c * y1 + e, b * x1 + d * y1 + f
                    x2, y2 = a * x2 + c * y2 + e, b * x2 + d * y2 + f
                segs.append((x1, y1, x2, y2))
    return segs


def _dict_span(body: bytes, i: int) -> int:
    """Byte length of the inline dict at ``body[i:]`` (``<< … >>``),
    STRING-AWARE: literal and hex strings inside the dict are hopped
    opaque, so a value like ``(a >> b)`` cannot truncate the hop (the
    plain ``_dict_of`` brace walk stays on string-free paths). 0 →
    unbalanced. Needed by the /ActualText rung, whose property-list
    values are text strings."""
    depth = 0
    j, n = i, len(body)
    while j < n:
        c = body[j]
        if c == 0x28:  # literal string — escape/nesting-aware hop
            j = _string_end(body, j)
            continue
        if c == 0x3C:
            if body[j : j + 2] == b"<<":
                depth += 1
                j += 2
                continue
            e = body.find(b">", j + 1)  # <hex> — opaque
            if e < 0:
                return 0
            j = e + 1
            continue
        if c == 0x3E and body[j : j + 2] == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return j - i
            continue
        j += 1
    return 0


def _pdf_text_string(raw: bytes) -> str | None:
    """A PDF *text string* (ISO 32000 §7.9.2.2) → str: UTF-16BE when the
    bytes open with the FE FF BOM (None on a malformed payload — never
    guess), else treated as latin-1 (the twins' byte-string default;
    PDFDocEncoding's control-row remaps are out of modeled scope)."""
    if raw.startswith(b"\xfe\xff"):
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return None
    return raw.decode("latin-1")


_AT_KEY_RE = re.compile(rb"/ActualText(?![A-Za-z0-9])\s*")


def _actualtext_value(d: bytes) -> str | None:
    """The /ActualText value of an inline BDC property list: a literal or
    hex *text string* (§14.9.4). None when absent, indirect, a non-string
    value, or undecodable — callers bail rather than extract the shown
    (replaced) bytes."""
    m = _AT_KEY_RE.search(d)
    if not m:
        return None
    j = m.end()
    if j < len(d) and d[j] == 0x28:
        raw, _ = _literal_bytes(d, j)
        return _pdf_text_string(raw)
    if j < len(d) and d[j] == 0x3C and d[j : j + 2] != b"<<":
        e = d.find(b">", j + 1)
        if e < 0:
            return None
        hx = re.sub(rb"\s", b"", d[j + 1 : e])
        if len(hx) % 2:
            hx += b"0"
        try:
            raw = bytes.fromhex(hx.decode("ascii"))
        except ValueError:
            return None
        return _pdf_text_string(raw)
    return None


_BDC_AFTER_RE = re.compile(rb"\s*BDC(?![A-Za-z0-9])")
_MC_TOKEN_RE = re.compile(rb"(?:BDC|BMC)(?![A-Za-z0-9])")


def tokenize_pdf_runs(
    data: bytes, passwords: tuple[bytes, ...] = ()
) -> list[list[tuple[float, float, str]]] | None:
    """Per-page POSITIONED text runs (x, y, text): tracks the text-line
    origin through BT (reset), Td/TD (relative line move) and Tm with a
    pure-translation matrix (e/f); each shown string — literal or hex —
    is recorded at the current origin, and CONSECUTIVE shows with no
    intervening position op merge into one run (so a TJ array's kerned
    halves reassemble into their visual run — the pdfminer text-box model).

    Leading-based line advance is modeled (round 5): `NUM TL` sets the
    leading (text STATE — it survives BT per the spec and is NOT a
    position op, so it never splits a merged run), `T*` advances
    y -= leading, `TD` sets leading = -ty in addition to moving, and the
    ' / \" quote-shows advance by the leading BEFORE showing their
    string (\" additionally carries ignored aw/ac spacing operands).

    Top-level graphics state is modeled (round 7): `a b c d e f cm`
    composes into a tracked CTM (row-vector convention, §8.3.4) and
    `q`/`Q` push/pop it, so the common real-generator shape — the whole
    page body under a `q … cm … Q` wrapper, including nested states —
    extracts with correct device positions; runs record their text-space
    origin transformed through the CTM at show time (which keeps
    leading/T* exact even under rotation — the advance happens in text
    space). The modeled linear part matches the form-/Matrix rule:
    orthogonal columns, invertible.

    TJ word-break synthesis is modeled (round 7, §9.4.3): a displacement
    v <= -spec.TJ_SPACE_KERN inside a TJ array prefixes ONE space to the
    array's next show — generators that kern word gaps instead of showing
    space glyphs must not read as run-on words (the library chain derives
    the same break from glyph geometry). Intra-word kerning stays joined;
    a trailing displacement shows nothing.

    /ActualText replacement is modeled (round 7, ISO 32000 §14.9.4): a
    marked-content sequence whose inline BDC property list carries
    /ActualText shows the REPLACEMENT text instead of its enclosed
    shows — one run, recorded at the first enclosed show's origin (at
    the sequence end when it encloses no show); position/state ops
    inside the sequence still apply. The page pays only a C-substring
    prefilter when the byte pattern is absent. Out of scope → bail:
    nested /ActualText sequences, an unbalanced sequence at page end,
    and indirect/undecodable values. Named (indirect) property lists
    stay transparent as before — they cannot be resolved without the
    resource dict, and the libraries' plain-text walks skip them too.

    Non-translation Tm is modeled too (round 7): an orthogonal-column
    invertible linear part becomes the tracked text matrix — Td/TD
    deltas and the TL/T*/quote leading advance map through it (the
    rotated-watermark shape), with the position still recorded at the
    matrix origin (the run model never represents glyph-level rotation,
    matching the reference's library chain).

    Returns None (→ caller falls through to pdfplumber/fitz) on constructs
    this rung does NOT model rather than producing wrong positions:
    sheared/singular/operand-less cm, unbalanced Q, sheared/singular Tm —
    and as a safety net, any page whose content shows text (Tj/TJ
    present) that the walk failed to capture. Feeds both reading-order
    assembly (assemble_reading_order) and lattice_cells_from_docs' cell
    placement on REAL PDF bytes."""
    if not data.startswith(b"%PDF-"):
        return None
    res = _page_contents_full(data, passwords)
    if res is None:
        return None
    pages, strict_fonts, _objs, _page_nums = res
    out: list[list[tuple[float, float, str]]] = []
    for content, fonts in pages:
        runs: list[tuple[float, float, str]] = []
        x = y = 0.0
        leading = 0.0
        moved = True
        in_tj_array = False
        pending_space = False  # a word-gap TJ kern awaits the next show
        ctm: tuple | None = None  # None = identity (the overwhelming case)
        ctm_stack: list[tuple | None] = []
        lin: tuple | None = None  # text-matrix linear part (None=identity)
        in_actual = False  # inside a /ActualText marked-content sequence
        actual: str | None = None  # its replacement, until the first show
        mc_depth = 0  # BDC/BMC nested inside the open sequence
        cur_map: tuple[str, dict[int, str]] | None = None
        # strip geometry segments so their numbers can't confuse the walk —
        # but ONLY from top-level gaps: a raw-bytes `_SEG_RE.sub` would also
        # delete ruling-like substrings INSIDE literal strings ("(move 10 20
        # m 30 40 l S done)"), which must reach the '(' branch verbatim to
        # stay per-turn equal with the oracle char-scanner.
        body = b"".join(
            chunk if is_str else _SEG_RE.sub(b" ", chunk)
            for is_str, chunk in _content_chunks(content)
        )
        # C-substring prefilter (r7 top-level CTM): content with no `cm`
        # bytes keeps the lean move regex AND skips all graphics-state
        # tracking — q/Q are geometric no-ops while the CTM is identity,
        # so the common page pays nothing for the new capability. (A 'cm'
        # inside a shown string only costs the wider regex, never a
        # mis-parse — the walk hops strings before matching operators.)
        has_cm = b"cm" in body
        move_re = _MOVE_CTM_RE if has_cm else _MOVE_RE
        # same prefilter idiom for /ActualText (§14.9.4): absent the byte
        # pattern, the dict branch keeps the plain brace hop and the
        # in-sequence token checks never run
        has_at = b"/ActualText" in body
        i, n = 0, len(body)

        def record(txt: str):
            nonlocal moved
            if runs and not moved:
                px, py, pt = runs[-1]
                runs[-1] = (px, py, pt + txt)
            elif ctm is None:
                runs.append((x, y, txt))
            else:  # device position = text-space origin through the CTM
                a, b, c, d, e, f = ctm
                runs.append((a * x + c * y + e, b * x + d * y + f, txt))
            moved = False

        def quote_advance(at: int) -> int:
            """If the token after ``at`` is a top-level ' or \" quote-show
            operator, apply the leading advance BEFORE the pending record
            and return the index past the operator; else return ``at``."""
            nonlocal x, y, moved
            qm = re.match(rb"\s*('|\")", body[at:])
            if qm and not in_tj_array:
                if lin is None:
                    y -= leading
                else:  # T(0, -leading) through the text-matrix linear part
                    x -= leading * lin[2]
                    y -= leading * lin[3]
                moved = True
                return at + qm.end()
            return at

        while i < n:
            sm = move_re.match(body, i)
            if sm:
                if sm.group("cmbail") is not None:
                    # a `cm` whose operands the walk could not capture
                    # (exponent syntax, comments between operands, or the
                    # fast path's mid-token false positive) — out of scope
                    return None
                if has_cm:
                    if sm.group("c1") is not None:  # a b c d e f cm
                        m6 = tuple(
                            float(sm.group(k))
                            for k in ("c1", "c2", "c3", "c4", "c5", "c6")
                        )
                        if not _ctm_ok(*m6[:4]):
                            return None  # shear/singular — never guess
                        ctm = _ctm_compose(m6, ctm)
                        i = sm.end()
                        continue
                    if sm.group("push"):  # q — save graphics state
                        ctm_stack.append(ctm)
                        i = sm.end()
                        continue
                    if sm.group("pop"):  # Q — restore graphics state
                        if not ctm_stack:
                            return None  # unbalanced Q — malformed page
                        ctm = ctm_stack.pop()
                        i = sm.end()
                        continue
                if sm.group(0) == b"BT":
                    x = y = 0.0  # leading is text STATE — survives BT
                    lin = None  # the text matrix resets to identity too
                    moved = True
                elif sm.group(3):  # Td / TD — deltas live in TEXT space
                    tx, ty = float(sm.group(1)), float(sm.group(2))
                    if lin is None:
                        x += tx
                        y += ty
                    else:  # map through the text-matrix linear part
                        x += tx * lin[0] + ty * lin[2]
                        y += tx * lin[1] + ty * lin[3]
                    if sm.group(3) == b"TD":
                        leading = -ty
                    moved = True
                elif sm.group(10) is not None:  # NUM TL — not a move
                    leading = float(sm.group(10))
                elif sm.group(11):  # T* — advance by the leading
                    if lin is None:
                        y -= leading
                    else:
                        x -= leading * lin[2]
                        y -= leading * lin[3]
                    moved = True
                else:  # Tm — orthogonal-column linear parts modeled (r7)
                    a, b, c, d = (float(sm.group(k)) for k in (4, 5, 6, 7))
                    if (a, b, c, d) == (1.0, 0.0, 0.0, 1.0):
                        lin = None
                    elif _ctm_ok(a, b, c, d):
                        lin = (a, b, c, d)
                    else:
                        return None  # sheared/singular Tm — never guess
                    x = float(sm.group(8))
                    y = float(sm.group(9))
                    moved = True
                i = sm.end()
                continue
            ch = body[i]
            if in_actual and ch == 0x45 and (em := _EMC_RE.match(body, i)):
                if mc_depth:
                    mc_depth -= 1
                else:
                    in_actual = False
                    if actual is not None:  # sequence enclosed no show:
                        record(actual)  # the replacement still represents
                        actual = None  # content — emit at current origin
                i = em.end()
                continue
            if in_actual and ch == 0x42 and (mt := _MC_TOKEN_RE.match(body, i)):
                mc_depth += 1  # nested plain/named sequence — transparent
                i = mt.end()
                continue
            if in_tj_array and (ch == 0x2D or 0x30 <= ch <= 0x39):
                nm = _NUM_RE.match(body, i)
                if nm:  # TJ displacement — a word gap synthesizes a space
                    if float(nm.group(0)) <= -spec.TJ_SPACE_KERN:
                        pending_space = True
                    i = nm.end()
                    continue
            if ch == 0x28:  # literal string
                raw_s, end = _literal_bytes(body, i)
                txt = _decode_shown(raw_s, cur_map)
                if txt is None:
                    return None
                if pending_space:
                    txt = " " + txt
                    pending_space = False
                end = quote_advance(end)
                if not in_actual:
                    record(txt)
                elif actual is not None:  # first show inside the sequence
                    record(actual)
                    actual = None
                i = end
                continue
            if ch == 0x3C and body[i : i + 2] == b"<<":
                # dict operand (a BDC property list like `<</MCID 0>>`):
                # skip it balanced — its SECOND `<` must never misparse as
                # a hex-string opener (marked-content ops are transparent
                # to the geometric walk, except an /ActualText BDC)
                if not has_at:
                    d = _dict_of(body[i:])
                    if not d:
                        return None  # unbalanced << — can't scan past it
                    i += len(d)
                    continue
                dl = _dict_span(body, i)  # string-aware: the /ActualText
                if not dl:  # value may contain `>>` / `<<`
                    return None
                d = body[i : i + dl]
                j = i + dl
                bm = _BDC_AFTER_RE.match(body, j)
                if bm and b"/ActualText" in d:
                    if in_actual:
                        return None  # nested /ActualText — never guess
                    val = _actualtext_value(d)
                    if val is None:
                        return None  # indirect/undecodable value — bail
                    in_actual, actual = True, val
                    i = bm.end()
                    continue
                if bm and in_actual:
                    mc_depth += 1  # nested dict-props sequence
                    i = bm.end()
                    continue
                i = j
                continue
            if ch == 0x3C:  # <hex> show
                end = body.find(b">", i)
                if end < 0:
                    return None
                hexs = re.sub(rb"\s", b"", body[i + 1 : end])
                if len(hexs) % 2:
                    hexs += b"0"
                try:
                    raw_s = bytes.fromhex(hexs.decode("ascii"))
                except ValueError:
                    return None
                txt = _decode_shown(raw_s, cur_map)
                if txt is None:
                    return None
                if pending_space:
                    txt = " " + txt
                    pending_space = False
                end = quote_advance(end + 1)
                if not in_actual:
                    record(txt)
                elif actual is not None:  # first show inside the sequence
                    record(actual)
                    actual = None
                i = end
                continue
            if ch == 0x2F:  # /Name — font selection via Tf
                tfm = _TF_RE.match(body, i)
                if tfm:
                    name = tfm.group(1)
                    if name in fonts:
                        cur_map = fonts[name]
                    elif strict_fonts:
                        return None  # can't prove the font is simple
                    else:
                        cur_map = None
                    i = tfm.end()
                    continue
            if ch == 0x5B:
                in_tj_array = True
                pending_space = False
            elif ch == 0x5D:
                in_tj_array = False
                pending_space = False  # a trailing kern shows nothing
            elif ch in (0x27, 0x22) and not in_tj_array:
                return None  # ' / " shows imply leading-based line advance
            i += 1
        if in_actual:
            return None  # /ActualText sequence unbalanced at page end
        if not runs and (b"Tj" in body or b"TJ" in body):
            return None  # text is shown but the walk captured none of it
        out.append(runs)
    return out


def assemble_reading_order(pages_runs: list[list[tuple[float, float, str]]]) -> list[str]:
    """Positioned runs → per-page text under the spec reading order (the
    same contract the pseudo-PDF path implements): runs sorted by y desc
    then x asc (stable), clustered into lines when the y gap ≤ PDF_Y_TOL,
    runs within a line joined with one space, a blank line emitted when
    consecutive lines are ≥ PDF_PARA_GAP apart (preserves the blank-line
    record-split contract on real PDFs)."""
    from .. import spec

    out: list[str] = []
    for runs in pages_runs:
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
            line_y = line_runs[0][1]
            if prev_line_y is not None and (prev_line_y - line_y) >= spec.PDF_PARA_GAP:
                rendered.append("")
            rendered.append(" ".join(t for _, _, t in sorted(line_runs, key=lambda r: r[0])))
            prev_line_y = line_y
        out.append("\n".join(rendered))
    return out


def _string_end(body: bytes, start: int) -> int:
    """Index one past the closing paren of the literal string at ``start``
    (escape- and nesting-aware)."""
    depth = 0
    i = start
    while i < len(body):
        c = body[i]
        if c == 0x5C:
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return len(body)


# --- Tagged-PDF logical reading order (ISO 32000 §14.7–14.8) ---------------
#
# Multi-column documents carry marked-content sequences (`/P <</MCID n>>
# BDC … EMC`) and a structure tree whose depth-first order is the LOGICAL
# reading order — the accessibility order, and the order an LLM training
# pipeline wants for two-column reports/papers where the geometric
# y-cluster walk would interleave columns. The reference reads these files
# through pdfplumber/fitz in geometric order (extract_text.py:39-66); this
# rung is a separate operator ON TOP of that contract — the default
# extraction stays geometric, logical order is opt-in per query.

_MCID_RE = re.compile(rb"/MCID\s+(\d+)(?![0-9])")
_MC_NAME_RE = re.compile(rb"/([^\s/<>()\[\]{}%]+)\s*")
_MC_OP_RE = re.compile(rb"\s*(BDC|BMC)(?![A-Za-z0-9])")
_EMC_RE = re.compile(rb"EMC(?![A-Za-z0-9])")


def _catalog_dict(objs: dict[int, bytes]) -> bytes:
    """The document catalog dict: the xref-stream trailer's /Root when one
    exists (authoritative under incremental updates), else the first
    /Type /Catalog object."""
    cat = _catalog_from_xref_stream(objs)
    if cat is not None and cat in objs:
        return _dict_of(objs[cat])
    for body in objs.values():
        if b"/Type" in body and b"/Catalog" in body:
            return _dict_of(body)
    return b""


def _struct_mcid_order(
    objs: dict[int, bytes], page_nums: list[int]
) -> list[list[int]] | None:
    """Per-page MCID sequence in STRUCTURE-TREE order: a depth-first /K
    walk of /StructTreeRoot. Content items handled: bare integer MCIDs
    (inheriting the owning element's /Pg), /MCR marked-content-reference
    dicts (own /Pg override), child StructElems (inline or by reference)
    and arrays of any of those. None when the document carries no usable
    tagged structure — /MarkInfo <</Marked true>> absent, root missing or
    unresolvable, an /OBJR content item (out of scope), recursion past 32
    levels, or an MCID whose page cannot be identified."""
    cat_d = _catalog_dict(objs)
    mark = _nested_dict_of(cat_d, b"/MarkInfo", objs)
    if not re.search(rb"/Marked\s+true(?![A-Za-z0-9])", mark):
        return None
    rm = _REF_RE.search(_value_of(cat_d, b"/StructTreeRoot"))
    if not rm or int(rm.group(1)) not in objs:
        return None
    page_index = {num: i for i, num in enumerate(page_nums)}
    order: list[list[int]] = [[] for _ in page_nums]
    ok = True

    def add(pg: int | None, mcid: int) -> None:
        nonlocal ok
        if pg is None or pg not in page_index:
            ok = False
            return
        order[page_index[pg]].append(mcid)

    def walk_elem(d: bytes, pg: int | None, depth: int) -> None:
        nonlocal ok
        if depth > 32 or not d:
            ok = False
            return
        pm = _REF_RE.search(_value_of(d, b"/Pg"))
        if pm:
            pg = int(pm.group(1))
        m = re.search(rb"/K(?![A-Za-z0-9])\s*", d)
        if not m:
            return  # childless element — legal
        walk_items(d[m.end():], pg, depth)

    def walk_items(rest: bytes, pg: int | None, depth: int) -> None:
        """Consume ONE content item — or, when ``rest`` opens an array,
        every item up to the matching close."""
        nonlocal ok
        in_array = False
        i = 0
        while ok:
            while i < len(rest) and rest[i] in b" \t\r\n":
                i += 1
            if i >= len(rest):
                ok = ok and not in_array  # unclosed array
                return
            c = rest[i]
            if c == 0x5B:  # [
                if in_array:
                    ok = False  # /K arrays don't nest
                    return
                in_array = True
                i += 1
                continue
            if c == 0x5D:  # ]
                return
            if c == 0x3C and rest[i : i + 2] == b"<<":  # inline dict
                d = _dict_of(rest[i:])
                if not d:
                    ok = False
                    return
                consume_dict(d, pg, depth)
                i += len(d)
            elif rm_ := _REF_RE.match(rest, i):  # indirect reference
                body = objs.get(int(rm_.group(1)))
                if body is None:
                    ok = False
                    return
                consume_dict(_dict_of(body), pg, depth)
                i = rm_.end()
            elif nm := re.match(rb"(\d+)(?![0-9])", rest[i:]):  # bare MCID
                add(pg, int(nm.group(1)))
                i += nm.end()
            else:
                ok = False  # /OBJR by value, names, strings — out of scope
                return
            if not in_array:
                return

    def consume_dict(d: bytes, pg: int | None, depth: int) -> None:
        nonlocal ok
        if b"/OBJR" in d:
            ok = False  # object references aren't text content items
            return
        if re.search(rb"/Type\s*/MCR(?![A-Za-z0-9])", d):
            pm = _REF_RE.search(_value_of(d, b"/Pg"))
            mm = _MCID_RE.search(d)
            if not mm:
                ok = False
                return
            add(int(pm.group(1)) if pm else pg, int(mm.group(1)))
            return
        walk_elem(d, pg, depth + 1)

    walk_elem(_dict_of(objs[int(rm.group(1))]), None, 0)
    return order if ok else None


def _tagged_frags(
    content: bytes,
    fonts: dict[bytes, tuple[str, dict[int, str]] | None],
    strict_fonts: bool,
) -> list[tuple[object, str]] | None:
    """(tag, text) fragments of one page's content stream in STREAM order:
    tag is the active MCID (int) inside a marked-content sequence whose
    properties carry /MCID, the string 'artifact' inside an /Artifact
    span (§14.8.2.2: artifacts are NOT logical content), else None.
    Line-advance ops contribute '\\n' fragments under the active tag, only
    after that tag has shown text (a quote-show's advance lands before its
    own string). None → out of twin
    scope: indirect BDC property lists, BDC with no property dict,
    unbalanced BDC/EMC, nested MCIDs, or an undecodable string — and any
    page carrying /ActualText (§14.9.4): the logical walk does not model
    text replacement, so the caller's geometric fallback (which does,
    tokenize_pdf_runs) handles those files instead of this rung emitting
    the replaced bytes (wrong text never beats no text)."""
    if b"/ActualText" in content:
        return None
    frags: list[tuple[object, str]] = []
    stack: list[object] = []  # one entry per open BDC/BMC
    pending_newline = False
    shown: dict[object, bool] = {}
    cur_map: tuple[str, dict[int, str]] | None = None
    i, n = 0, len(content)

    def cur_tag() -> object:
        for e in reversed(stack):
            if isinstance(e, int):
                return e
        if "artifact" in stack:
            return "artifact"
        return None

    def emit(s: str) -> None:
        nonlocal pending_newline
        t = cur_tag()
        if pending_newline and shown.get(t):
            frags.append((t, "\n"))
        pending_newline = False
        shown[t] = True
        frags.append((t, s))

    while i < n:
        c = content[i]
        if c == 0x28:  # ( literal string
            raw_s, i = _literal_bytes(content, i)
            txt = _decode_shown(raw_s, cur_map)
            if txt is None:
                return None
            m = re.match(rb"\s*(Tj|'|\")", content[i:])
            if m:
                if m.group(1) in (b"'", b'"'):
                    pending_newline = True
                emit(txt)
                i += m.end()
            else:
                emit(txt)
            continue
        if c == 0x3C and content[i : i + 2] != b"<<":  # <hex>
            end = content.find(b">", i)
            if end < 0:
                break
            hexs = re.sub(rb"\s", b"", content[i + 1 : end])
            if len(hexs) % 2:
                hexs += b"0"
            try:
                raw_s = bytes.fromhex(hexs.decode("ascii"))
            except ValueError:
                i = end + 1
                continue
            txt = _decode_shown(raw_s, cur_map)
            if txt is None:
                return None
            i = end + 1
            m = re.match(rb"\s*(Tj|'|\")", content[i:])
            if m:
                if m.group(1) in (b"'", b'"'):
                    pending_newline = True
                emit(txt)
                i += m.end()
            else:
                emit(txt)
            continue
        if c == 0x2F:  # /Name — font selection or marked-content open
            tfm = _TF_RE.match(content, i)
            if tfm:
                name = tfm.group(1)
                if fonts is not None and name in fonts:
                    cur_map = fonts[name]
                elif strict_fonts:
                    return None
                else:
                    cur_map = None
                i = tfm.end()
                continue
            nm = _MC_NAME_RE.match(content, i)
            if nm:
                j = nm.end()
                props = None
                if content[j : j + 2] == b"<<":
                    props = _dict_of(content[j:])
                    if not props:
                        return None
                    j += len(props)
                op = _MC_OP_RE.match(content, j)
                if op:
                    if op.group(1) == b"BDC" and props is None:
                        # `/Tag /PropsName BDC` (indirect property list —
                        # /MCID invisible without the resource dict) or a
                        # spec-invalid operand-less BDC: out of scope
                        return None
                    if nm.group(1) == b"Artifact":
                        entry: object = "artifact"
                    elif props is not None and (mm := _MCID_RE.search(props)):
                        if any(isinstance(e, int) for e in stack):
                            return None  # nested MCIDs (§14.7.5.3 forbids)
                        entry = int(mm.group(1))
                    else:
                        entry = None
                    stack.append(entry)
                    i = op.end()  # matched at pos j of content — absolute
                    continue
        m = re.match(rb"(?:Td|TD|Tm)\b|T\*", content[i:])
        if m:
            pending_newline = True
            i += m.end()
            continue
        if c == 0x45 and (em := _EMC_RE.match(content, i)):  # EMC
            if not stack:
                return None
            stack.pop()
            i = em.end()
            continue
        i += 1
    if stack:
        return None  # unbalanced BDC/BMC at end of page
    return frags


def tokenize_pdf_tagged(
    data: bytes, passwords: tuple[bytes, ...] = ()
) -> list[str] | None:
    """Per-page LOGICAL-ORDER text for a TAGGED real PDF: marked-content
    text grouped by MCID and ordered by the structure tree's depth-first
    sequence (ISO 32000 §14.8) — /Artifact content (headers, footers,
    rulings) excluded per §14.8.2.2. None when the document isn't usably
    tagged or its tagging is outside this rung's scope (shown text with no
    MCID, an MCID missing from the tree, indirect BDC properties…) — the
    caller keeps the geometric reading order."""
    if not data.startswith(b"%PDF-"):
        return None
    res = _page_contents_full(data, passwords)
    if res is None:
        return None
    pages, strict_fonts, objs, page_nums = res
    order = _struct_mcid_order(objs, page_nums)
    if order is None or len(order) != len(pages):
        return None
    out: list[str] = []
    for pi, (content, fonts) in enumerate(pages):
        frags = _tagged_frags(content, fonts, strict_fonts)
        if frags is None:
            return None
        groups: dict[int, list[str]] = {}
        for tag, txt in frags:
            if tag == "artifact":
                continue
            if tag is None:
                if txt.strip():
                    return None  # untagged shown text — can't be ordered
                continue
            groups.setdefault(tag, []).append(txt)
        if set(groups) - set(order[pi]):
            return None  # shown MCID absent from the structure tree
        seen: set[int] = set()
        parts: list[str] = []
        for mcid in order[pi]:
            if mcid in seen or mcid not in groups:
                continue  # duplicate tree entry / empty element
            seen.add(mcid)
            parts.append("".join(groups[mcid]))
        out.append("\n".join(parts))
    return out
