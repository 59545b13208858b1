"""`extract_turn_batch` — the engine's single heavy stage, as a vectorized
Arrow UDF (pandas-free body over Python lists; BASELINE.json input_hint:
"vectorized pandas/Arrow UDFs, no per-row Python").

Independent, batch-vectorized implementation of the extraction SPEC
(``..spec``); the golden tests compare it bit-for-bit against the
row-at-a-time oracle in ``..oracle.reference_extractor``.

Per Arrow batch (``_extract_columns``: the batch's ``text`` and ``tool``
as lists in, one list per output column out):
- payload sniff (pseudo-PDF header / HTML / plain)
- HTML boilerplate strip — per document over compiled regexes (tag strip,
  entity unescape, link-density + text-length scoring per block line)
- pseudo-PDF layout parse — per document: page markers, run parse,
  y-cluster, reading-order sort, paragraph gaps, needs_ocr flag
- span extraction — compiled-regex scan per record chunk (regex time
  dominates and runs in C)
- F2 fields (optional) — the reference's first-match claim/name/date
  ladders over the final text in Python ``re``, plus the LOB scores
- the output columns become Arrow arrays through ``arrow_column``, built
  from buffers: pyarrow 16's ``pa.array`` imports pandas, so a worker
  that runs only this kernel never loads it.

pandas ``.str`` methods on object columns loop in Python per element
too, so per-document code over compiled regexes costs no more per turn.

Reference semantics citations: extract_text.py:39-66 (candidate/OCR),
fitzTest3.py:92-95 (markers), regex_extractor.py:7-19 (patterns/split),
claude_text_extractor.py:63-84 (pagewise extraction).
"""

from __future__ import annotations

import itertools
import math
import re

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import spec
from .classify import LOBS_TYPE, score_lobs

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("field", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("value", StringType()),
        ]
    )
)

EXTRACT_RESULT_TYPE = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("needs_ocr", BooleanType()),
        StructField("payload_kind", StringType()),
        StructField("error", StringType()),
    ]
)


FIELDS_RESULT_FIELDS = [
    StructField("claim_number", StringType()),
    StructField("name", StringType()),
    StructField("date", StringType()),
    StructField("confidence", DoubleType()),
    StructField("lob", StringType()),
    StructField("lobs", LOBS_TYPE),
]


def extract_result_type(with_spans: bool = True, with_fields: bool = False) -> StructType:
    """The kernel's return struct: EXTRACT_RESULT_TYPE, minus ``spans``
    when pruned (manual pruning through the UDF boundary), plus the F2
    fields and the ``lob``/``lobs`` classification when requested."""
    fields = [f for f in EXTRACT_RESULT_TYPE.fields if with_spans or f.name != "spans"]
    if with_fields:
        fields += FIELDS_RESULT_FIELDS
    return StructType(fields)


# ---------------------------------------------------------------------------
# Arrow column builder (pandas-free)
# ---------------------------------------------------------------------------


def _bitmap(flags: list):
    """Arrow's little-endian bit buffer of ``flags``."""
    import numpy as np
    import pyarrow as pa

    return pa.py_buffer(np.packbits(np.array(flags, dtype=bool), bitorder="little"))


def _offsets(lengths: list, large: bool):
    """The n + 1 offsets buffer of ``lengths``: int64 for the large
    types, else int32 (a total past 2**31 - 1 raises, as pa.array does
    for a single chunk)."""
    import numpy as np
    import pyarrow as pa

    off = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    if not large:
        if off[-1] > np.iinfo(np.int32).max:
            raise OverflowError(f"{off[-1]} bytes or items overflow int32 offsets")
        off = off.astype(np.int32)
    return pa.py_buffer(off)


def arrow_column(values: list, atype):
    """``values`` (Python objects, None for null) as an Arrow array of
    ``atype``, equal to ``pa.array(values, atype)``.

    Built from buffers because pyarrow 16's ``pa.array`` (also
    ``pa.scalar``, ``RecordBatch.from_pylist``) imports pandas through its
    pandas shim, even on a numpy input: a Python worker that builds its
    output that way holds ~35-50 MiB more. ``Array.from_buffers``,
    ``StructArray``/``ListArray.from_arrays`` and ``Array.to_pylist`` do
    not import it. Covers the types the kernels emit: bool, fixed-width
    integers, float64, struct (dict values), (large) list, (large) string
    and (large) binary (bytes values)."""
    import numpy as np
    import pyarrow as pa

    t = pa.types
    n = len(values)
    null_count = values.count(None)
    if null_count:
        nulls = [v is None for v in values]
        validity = _bitmap([not x for x in nulls])
        mask = pa.Array.from_buffers(pa.bool_(), n, [None, _bitmap(nulls)])
    else:
        validity = mask = None
    if t.is_boolean(atype):
        bits = _bitmap([bool(v) for v in values])
        return pa.Array.from_buffers(atype, n, [validity, bits], null_count)
    if t.is_integer(atype) or t.is_float64(atype):
        dtype = "float64" if t.is_float64(atype) else str(atype)
        nums = np.array([0 if v is None else v for v in values] if null_count else values,
                        dtype=dtype)
        return pa.Array.from_buffers(atype, n, [validity, pa.py_buffer(nums)], null_count)
    if t.is_struct(atype):
        children = []
        for f in atype:
            key = f.name  # a pyarrow property that builds a new str: read it once
            children.append(arrow_column([None if v is None else v[key] for v in values], f.type))
        return pa.StructArray.from_arrays(children, fields=list(atype), mask=mask)
    if t.is_list(atype) or t.is_large_list(atype):
        large = t.is_large_list(atype)
        lists = [v or () for v in values] if null_count else values
        offsets = pa.Array.from_buffers(pa.int64() if large else pa.int32(), n + 1,
                                        [None, _offsets(list(map(len, lists)), large)])
        items = arrow_column(list(itertools.chain.from_iterable(lists)), atype.value_type)
        cls = pa.LargeListArray if large else pa.ListArray
        return cls.from_arrays(offsets, items, type=atype, mask=mask)
    if t.is_string(atype) or t.is_large_string(atype):
        strs = [v or "" for v in values] if null_count else values
        joined = "".join(strs)
        if joined.isascii():  # one encode; byte lengths are char lengths
            data, lengths = joined.encode("ascii"), list(map(len, strs))
        else:  # a lone surrogate raises UnicodeEncodeError, as pa.array does
            enc = [v.encode() for v in strs]
            data, lengths = b"".join(enc), list(map(len, enc))
        large = t.is_large_string(atype)
    elif t.is_binary(atype) or t.is_large_binary(atype):
        enc = [v or b"" for v in values] if null_count else values
        data, lengths = b"".join(enc), list(map(len, enc))
        large = t.is_large_binary(atype)
    else:
        raise TypeError(f"arrow_column: no buffer builder for {atype}")
    buffers = [validity, _offsets(lengths, large), pa.py_buffer(data)]
    return pa.Array.from_buffers(atype, n, buffers, null_count)


# ---------------------------------------------------------------------------
# HTML branch (per document over compiled regexes)
# ---------------------------------------------------------------------------

_TAG = re.compile(r"<[^>]+>")
_LINK = re.compile(r"<a\s[^>]*>(.*?)</a>", re.S)
_WS = re.compile(r"\s+")
_BR = re.compile(r"(?i)<br\s*/?\s*>")
# spec.HTML_SKIP_TAGS subtree removal (Readability rule): whole well-formed
# spans, dotall so multi-line <style>/<script> bodies vanish BEFORE the
# line split (their removal leaves blank lines → zero-length → dropped).
_SKIP_SPAN = re.compile(
    r"(?is)<(" + "|".join(spec.HTML_SKIP_TAGS) + r")\b[^>]*>.*?</\1\s*>"
)
_SKIP_OPENERS = tuple("<" + t for t in spec.HTML_SKIP_TAGS)
# Table linearization (spec.HTML_CELL_SEP): td/th and tr boundaries become
# the pipe separator. Applied on the raw payload, so a table whose rows sit
# on separate lines collapses onto ONE line — the same one-block view the
# oracle's DOM takes of the whole <table>.
_CELL_BOUND = re.compile(r"(?is)</t[dh]\s*>\s*<t[dh][^>]*>|</tr\s*>\s*<tr[^>]*>")


def _html_main_text(s: str) -> str:
    """Boilerplate strip of one HTML payload (one block per line, per the
    generator/SPEC contract; scoring matches the oracle's DOM-node
    scoring on that grammar)."""
    # C-substring prefilters before the (slow, dotall) realism regexes,
    # all read off the payload as it came in: corpora without
    # script/style/table markup pay ~nothing. Lowered, because the rewrite
    # regexes are (?i) and the oracle's HTMLParser lowercases tag names: a
    # case-sensitive gate would skip '<SCRIPT>'/'<BR>'/'</TD>' payloads on
    # the engine side only
    low = s.lower()
    if any(o in low for o in _SKIP_OPENERS):
        s = _SKIP_SPAN.sub("", s)
    if "<br" in low:
        s = _BR.sub(" ", s)
    if "</td" in low or "</th" in low or "</tr" in low:
        s = _CELL_BOUND.sub(spec.HTML_CELL_SEP, s)
    kept = []
    for line in s.split("\n"):
        # link text chars: the regex needs the literal "<a" to match
        link = sum(map(len, _LINK.findall(line))) if "<a" in line else 0
        # strip tags, unescape the generator's entity set, collapse whitespace
        text = _TAG.sub("", line).replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")
        text = _WS.sub(" ", text).strip()
        n = len(text)
        if n >= spec.HTML_MIN_TEXT_LEN and link / max(n, 1) <= spec.HTML_MAX_LINK_DENSITY:
            kept.append(text)
    return spec.HTML_BLOCK_JOINER.join(kept)


def _extract_html_batch(texts: list) -> list:
    """The HTML branch over a batch of payloads (the ``_guarded`` unit)."""
    return [_html_main_text(s) for s in texts]


# ---------------------------------------------------------------------------
# pseudo-PDF branch (per-document layout parse)
# ---------------------------------------------------------------------------

_PAGE_LINE = re.compile(r"^%%PAGE (\d+)$")
_RUN_LINE = re.compile(r"^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$")


def _number(s: str) -> float | None:
    """A captured page number or coordinate as a float; None where the
    run is malformed: non-ASCII digits ("\\d" matches them), a bad dot
    pattern ("1.2.3", "."), or out of float range. These are the strings
    pandas' ``to_numeric(errors='coerce')`` dropped; past 17 significant
    digits ``float`` rounds correctly where pandas' parser did not."""
    if not s.isascii():
        return None
    try:
        v = float(s)
    except ValueError:
        return None
    return None if math.isinf(v) else v


def _pdf_layout_text(s: str) -> tuple[str, bool]:
    """(page-marked text, needs_ocr) of one pseudo-PDF payload.

    A run belongs to the last well-formed page marker above it (runs
    before the first one are dropped); pages print in ascending number,
    a repeated number merging its runs, and a marker-only page prints its
    marker alone. Within a page: y descending (stable), a new line when
    the gap to the previous run's y exceeds PDF_Y_TOL, x ascending
    (stable) within a line, and a blank line between lines whose line-y
    (the line's max y) gap is at least PDF_PARA_GAP."""
    pages: dict[float, list] = {}
    runs = None  # the current page's (x, y, text) list
    chars = 0  # stripped run characters: needs_ocr when < OCR_MIN_CHARS
    for line in s.split("\n"):
        if line.startswith("BT "):
            m = _RUN_LINE.search(line)
            if m and runs is not None:
                x, y = _number(m.group(1)), _number(m.group(2))
                if x is not None and y is not None:
                    txt = m.group(3)
                    runs.append((x, y, txt))
                    chars += len(txt.strip())
        elif line.startswith("%%PAGE "):
            m = _PAGE_LINE.search(line)
            p = _number(m.group(1)) if m else None
            if p is not None:
                runs = pages.setdefault(p, [])
    out = []
    for p in sorted(pages):
        lines: list[list] = []  # [line_y, [(x, text), ...]] top to bottom
        prev_y = None
        for x, y, txt in sorted(pages[p], key=lambda r: -r[1]):
            if prev_y is None or prev_y - y > spec.PDF_Y_TOL:
                lines.append([y, []])
            lines[-1][1].append((x, txt))
            prev_y = y
        parts = []
        prev_line_y = None
        for line_y, row in lines:
            if prev_line_y is not None:
                parts.append("\n\n" if prev_line_y - line_y >= spec.PDF_PARA_GAP else "\n")
            row.sort(key=lambda r: r[0])
            parts.append(" ".join([t for _, t in row]))
            prev_line_y = line_y
        out.append(spec.PAGE_MARKER_FMT.format(n=int(p)) + "\n" + "".join(parts).strip())
    return "\n".join(out).strip(), chars < spec.OCR_MIN_CHARS


def _extract_pdf_batch(texts: list) -> tuple[list, list]:
    """(extracted texts, needs_ocr flags) for a batch of pseudo-PDF
    payloads (the ``_guarded`` unit)."""
    res = [_pdf_layout_text(s) for s in texts]
    return [t for t, _ in res], [o for _, o in res]


# ---------------------------------------------------------------------------
# real-PDF branch (integration dispatch; reference extract_text.py:9-66)
# ---------------------------------------------------------------------------


def extract_real_pdf_text(payload) -> tuple[str, bool]:
    """Real PDF bytes → (page-marked text, needs_ocr), via the reference's
    library chain (extract_text.py:39-66: pdfplumber first, PyMuPDF/fitz
    fallback; '--- PAGE n ---' markers per fitzTest3.py:92-95; <40 stripped
    chars → needs_ocr, the rasterize+tesseract trigger at :60-64).

    The PDF libraries are not in this sandbox image — when neither imports,
    this raises RuntimeError, which the batch kernel's per-row error
    channel converts into an error row. On a cluster image with the libs
    installed the dispatch runs for real; unit-tested via a fake module.
    """
    data = payload if isinstance(payload, (bytes, bytearray)) else str(payload).encode(
        "latin-1", errors="ignore"
    )
    pages: list[str] | None = None
    # rung 0 — the vendored dependency-free tokenizer (operators/pdftext.py):
    # positioned runs + the SPEC reading order (y-cluster desc, x asc,
    # paragraph blank lines — pdfminer-style layout parsing, the north-star
    # contract), so adversarially-ordered content streams extract in visual
    # order even on images without pdfplumber/fitz, and the golden suite
    # exercises this path in-sandbox on real bytes
    from .pdftext import assemble_reading_order, tokenize_pdf_runs

    pages_runs = tokenize_pdf_runs(data, passwords=spec.KNOWN_USER_PASSWORDS)
    if pages_runs is not None:
        bodies = assemble_reading_order(pages_runs)
        text = "\n".join(
            spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + body.strip()
            for i, body in enumerate(bodies)
        ).strip()
        total_chars = sum(
            len(t.strip()) for runs in pages_runs for _, _, t in runs
        )
        needs_ocr = total_chars < spec.OCR_MIN_CHARS
        return text, needs_ocr
    try:
        import pdfplumber  # type: ignore

        import io as _io

        with pdfplumber.open(_io.BytesIO(data)) as pdf:
            pages = [(p.extract_text() or "") for p in pdf.pages]
    except ImportError:
        try:
            import fitz  # type: ignore  # PyMuPDF

            doc = fitz.open(stream=data, filetype="pdf")
            pages = [doc[i].get_text() for i in range(doc.page_count)]
        except ImportError:
            raise RuntimeError(
                "real-PDF payload but neither pdfplumber nor PyMuPDF (fitz) is "
                "installed — install one on the cluster image, or pre-extract "
                "upstream (reference: src/claim_extractor/extract_text.py:9-66)"
            ) from None
    text = "\n".join(
        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + (body or "").strip()
        for i, body in enumerate(pages)
    ).strip()
    needs_ocr = len("".join(pages).strip()) < spec.OCR_MIN_CHARS
    return text, needs_ocr


def extract_tagged_pdf_text(payload) -> tuple[str, bool]:
    """Real PDF bytes → (page-marked LOGICAL-ORDER text, needs_ocr) via
    the tagged-PDF rung (pdftext.tokenize_pdf_tagged): marked-content
    text ordered by the structure tree's depth-first MCID sequence
    (ISO 32000 §14.8) with /Artifact content dropped — the reading order
    a two-column report needs, where the geometric y-cluster walk would
    interleave the columns. Falls back to extract_real_pdf_text (the
    geometric contract) when the document isn't usably tagged, so the
    operator is total over the same input domain. Separate operator by
    design: the reference's library chain (extract_text.py:39-66) reads
    geometrically, so the default extraction contract stays geometric and
    logical order is opt-in per query."""
    data = payload if isinstance(payload, (bytes, bytearray)) else str(
        payload
    ).encode("latin-1", errors="ignore")
    from .pdftext import tokenize_pdf_tagged

    bodies = tokenize_pdf_tagged(data, passwords=spec.KNOWN_USER_PASSWORDS)
    if bodies is None:
        return extract_real_pdf_text(data)
    text = "\n".join(
        spec.PAGE_MARKER_FMT.format(n=i + 1) + "\n" + body.strip()
        for i, body in enumerate(bodies)
    ).strip()
    needs_ocr = len("".join(bodies).strip()) < spec.OCR_MIN_CHARS
    return text, needs_ocr


# ---------------------------------------------------------------------------
# span extraction (compiled regex; per-chunk loop, C-dominated)
# ---------------------------------------------------------------------------

_CLAIM_NO = re.compile(spec.CLAIM_NO_PAT)
_AMOUNT = re.compile(spec.AMOUNT_PAT)
_REASON = re.compile(spec.REASON_PAT)
_NAME = re.compile(spec.NAME_PATTERNS[0])
_DATES = [re.compile(p) for p in spec.DATE_PATTERNS]
_RECORD_SPLIT = re.compile(spec.RECORD_SPLIT_PAT)

# field scan order within a record == spec.SPAN_FIELD_ORDER (date handled
# separately because it needs normalization-validation of candidates).
# Each field carries a LITERAL PREFILTER: a chunk can only match the regex
# if its lowercased text contains one of its anchors (claim: "claim", "ref";
# name: "claimant", "insured", "name"; amount: "$"; reason: "reason",
# "cause", "description" — a SUPERSET of matches, so skipping on a miss is
# sound). str.find runs ~10× faster per byte than the regex alternation,
# and the name field hits <3% of chunks (profiled): the prefilter made the
# whole span scan 1.45× faster, bit-exact.
# The lowered gates are unsound on text holding one of _FOLD_TRAPS:
# re.IGNORECASE folds 'İ' (U+0130) and 'ı' (U+0131) onto 'i' and 'ſ'
# (U+017F) onto 's', and str.lower() does not ('Claım No: ABC12345'
# matches CLAIM_NO_PAT, its lowered text holds no "claim"). Such text runs
# every regex. These three and the Kelvin sign (U+212A, which lower() maps
# to 'k') are the only non-ASCII characters IGNORECASE matches to an ASCII
# letter (tests/test_kernel_fields.py enumerates them), so on any other
# text the gates stay sound. ASCII text skips the scan (str.isascii reads
# a flag); the perfbench corpora hold an em dash in over half their texts.
# KEEP IN LOCKSTEP with spec.CLAIM_NO_PAT / NAME_PATTERNS[0] / AMOUNT_PAT /
# REASON_PAT — the oracle-parity golden + hypothesis suites enforce it.
_FOLD_TRAPS = ("\u0130", "\u0131", "\u017f")
# bound-method search handles for the unrolled hot loop (round-7 item d)
_FIELD_SEARCHES = (_CLAIM_NO.search, _NAME.search, _AMOUNT.search, _REASON.search)
_DATE_SEARCHES = tuple(p.search for p in _DATES)

from functools import lru_cache  # noqa: E402

from ..functions.dates import normalize_date_py  # noqa: E402

# date-span validation memo: corpora repeat dates heavily and
# normalize_date_py is pure — ~6× fewer ladder walks per batch
_norm_date_cached = lru_cache(maxsize=8192)(normalize_date_py)


def _spans_chunked(t: str) -> list[dict]:
    """Reference semantics: per record chunk, first match per field regex
    (claim/name/amount/reason), then first VALID date by pattern priority.

    Deliberately a per-chunk ``re.search`` loop: search early-exits at the
    first hit, so this beats a whole-text finditer sweep (measured 1.6×:
    finditer must enumerate ALL matches per field). Regex time runs in C;
    the date-validation ladder is memoized (_norm_date_cached).

    Negative results from the round-5 single-pass experiment, recorded so
    they aren't re-tried: (a) a zero-copy variant running every prefilter
    and regex on the full string with (pos, endpos) bounds measured 0.89×
    — the scan is CALL-overhead-bound, not allocation-bound, and bounded
    ``str.find`` costs more per call than ``in`` on a short chunk; (b) a
    shared digit prefilter for the date ladder was net-negative (nearly
    every fixture chunk has digits, and date pattern 1 fails digit-free
    chunks at the same C speed); (c) fusing the four field regexes into
    one named-group alternation is UNSOUND — finditer consumes matched
    spans, so a later field whose first occurrence overlaps an earlier
    field's match would resolve differently than independent searches.

    Round-6 negative result (VERDICT r5 item 4; the experiment script,
    since deleted, is ``git show 4f9cbd9:scripts/exp_arrow_spans.py``):
    hoisting lower() + the literal prefilters onto pyarrow.compute
    (utf8_lower + match_substring masks over all chunks of a batch,
    numpy masks feeding this residual loop) measured 0.917× — SLOWER.
    The date ladder must still visit every chunk (validation + span
    positions are inherently per-match Python), so the per-chunk loop
    survives and the Arrow pass only replaces ~6 C-level `in` calls with
    mask indexing plus three materialized arrays. Bit-exact; do not
    re-try without restructuring date handling first.

    Round-7 results: (d) UNROLLING the field/date loops into straight-line
    code (no per-field tuple unpacking, no inner for/else frames) measured
    0.913× median-of-7 — shipped below; (e) lru_cache-memoized per-chunk
    RELATIVE spans measured ~1.0–1.2× (NOISY, net-negative): the bench
    corpus repeats only ~13% of chunks, so 87% of lookups pay string
    hashing for nothing; (f) fusing the alternation remains unsound
    (negative c) AND unprofitable even if sound — `re` is a backtracking
    NFA, so an alternation costs the SUM of per-branch per-position work,
    not a DFA's shared scan; (g) JVM-native spans (regexp_instr/extract,
    Spark 3.4+) were analyzed and rejected on plan shape: span offsets
    need record-split separator positions, which natively requires either
    a posexplode + re-aggregation SHUFFLE (worse at 100 TB than map-side
    Python) or interpreted higher-order functions (the measured-slow path,
    see CLAUDE.md). A compiled DFA (re2-class) would win, but no such
    wheel exists in this environment."""
    recs: list[dict] = []
    append = recs.append
    split_search = _RECORD_SPLIT.search
    claim_s, name_s, amount_s, reason_s = _FIELD_SEARCHES
    d0_s, d1_s, d2_s = _DATE_SEARCHES
    trap0, trap1, trap2 = _FOLD_TRAPS
    norm_date = _norm_date_cached
    start = 0
    n = len(t)
    while start <= n:
        m = split_search(t, start)
        end = m.start() if m else n
        chunk = t[start:end]
        if chunk:
            # literal prefilters: a regex cannot match without one of its
            # anchors (C-level `in` on the lowered chunk, unless it holds a
            # _FOLD_TRAPS character); straight-line per field — unrolled
            # (round-7 measurement d)
            if chunk.isascii() or not (trap0 in chunk or trap1 in chunk or trap2 in chunk):
                low = chunk.lower()
                claim_ok = "claim" in low or "ref" in low
                name_ok = "claimant" in low or "insured" in low or "name" in low
                reason_ok = "reason" in low or "cause" in low or "description" in low
            else:
                claim_ok = name_ok = reason_ok = True
            if claim_ok:
                fm = claim_s(chunk)
                if fm:
                    append(
                        {"field": "claim_number", "start": start + fm.start(1),
                         "end": start + fm.end(1), "value": fm.group(1).strip()}
                    )
            if name_ok:
                fm = name_s(chunk)
                if fm:
                    append(
                        {"field": "name", "start": start + fm.start(1),
                         "end": start + fm.end(1), "value": fm.group(1).strip()}
                    )
            if "$" in chunk:
                fm = amount_s(chunk)
                if fm:
                    append(
                        {"field": "amount", "start": start + fm.start(1),
                         "end": start + fm.end(1), "value": fm.group(1).strip()}
                    )
            if reason_ok:
                fm = reason_s(chunk)
                if fm:
                    append(
                        {"field": "reason", "start": start + fm.start(1),
                         "end": start + fm.end(1), "value": fm.group(1).strip()}
                    )
            cand = d0_s(chunk)
            if not (cand and norm_date(cand.group(1))):
                cand = d1_s(chunk)
                if not (cand and norm_date(cand.group(1))):
                    cand = d2_s(chunk)
                    if not (cand and norm_date(cand.group(1))):
                        cand = None
            if cand is not None:
                append(
                    {"field": "date", "start": start + cand.start(1),
                     "end": start + cand.end(1), "value": cand.group(1).strip()}
                )
        if m is None:
            break
        start = m.end()
    return recs


# ---------------------------------------------------------------------------
# F2 fields (reference parse_fields.py:25-67)
# ---------------------------------------------------------------------------

_CLAIM_LADDER = tuple(re.compile(p).search for p in spec.CLAIM_PATTERNS)
_NAME_LADDER = tuple(re.compile(p).search for p in spec.NAME_PATTERNS)
_W_CLAIM, _W_NAME, _W_DATE = (
    spec.CONFIDENCE_WEIGHTS[k] for k in ("claim_number", "name", "date")
)


def _first_group(ladder: tuple, t: str) -> str | None:
    """Group 1 (stripped) of the first ladder pattern that matches ``t``."""
    for search in ladder:
        m = search(t)
        if m:
            return m.group(1).strip()
    return None


def _parse_fields(texts: list) -> tuple[list, list, list, list]:
    """(claim_number, name, date, confidence) columns of ``texts``: each
    ladder's first hit over the whole text, the date normalized to
    ``yyyy-MM-dd`` (None when it does not normalize), and the weighted
    confidence rounded to 2 places — parse_fields_oracle's semantics, in
    the same Python ``re``. The claim ladder is (?i) and the name pattern
    lists its keywords, so both are gated on their lowered literal anchors
    like the span scan, on text free of _FOLD_TRAPS."""
    claims, names, dates, confs = [], [], [], []
    norm_date = _norm_date_cached
    trap0, trap1, trap2 = _FOLD_TRAPS
    for t in texts:
        if t.isascii() or not (trap0 in t or trap1 in t or trap2 in t):
            low = t.lower()
            claim_ok = "claim" in low
            name_ok = "claimant" in low or "insured" in low or "name" in low
        else:
            claim_ok = name_ok = True
        claim = _first_group(_CLAIM_LADDER, t) if claim_ok else None
        name = _first_group(_NAME_LADDER, t) if name_ok else None
        raw = _first_group(_DATE_SEARCHES, t)
        date = norm_date(raw) if raw else None
        claims.append(claim)
        names.append(name)
        dates.append(date)
        confs.append(round((_W_CLAIM if claim else 0.0) + (_W_NAME if name else 0.0)
                           + (_W_DATE if date else 0.0), 2))
    return claims, names, dates, confs


def _error_message(e: Exception) -> str:
    """The error channel's per-row value."""
    return f"{type(e).__name__}: {e}"[:500]


# ---------------------------------------------------------------------------
# the kernel
# ---------------------------------------------------------------------------


def _payload_kind(t: str, tool) -> str:
    if t.startswith(spec.PDF_HEADER):
        return "pdf"
    # real PDF byte streams ("%PDF-1.x"): dispatched to the library chain
    # (extract_real_pdf_text); rows land in the error channel when the libs
    # are absent instead of being silently treated as plain text
    if t.startswith("%PDF-"):
        return "pdf_real"
    if tool == "html_paste" or t.lstrip().startswith(("<html", "<!DOCTYPE")):
        return "html"
    return "plain"


def _extract_columns(text: list, tool: list, with_spans: bool, with_fields: bool,
                     ocr: str | None) -> dict[str, list]:
    """The kernel over one batch: ``text``/``tool`` values (None for
    null) in, one list per output column out (extract_result_type's
    fields, in order).

    Error channel (reference cli.py:41-49 — exceptions become per-row
    `error` values, never a job abort): if a branch raises on its batch,
    its rows are retried ONE AT A TIME and only the truly poisoned rows
    carry an error string. Real PDFs go through one loop that extracts
    each and catches its error. One pathological document in 10^12 turns
    must not kill a multi-hour job; Spark task retries only cover infra
    failures, not deterministic poison input."""
    text = [t if isinstance(t, str) else "" for t in text]
    kind = [_payload_kind(t, tl) for t, tl in zip(text, tool)]
    n = len(text)
    extracted = [""] * n
    needs_ocr = [False] * n
    error = [None] * n

    def _guarded(k, batch_fn):
        """Run a branch over the rows of kind ``k``; on failure, retry it
        on one-row slices so only the poison rows land in the error
        channel."""
        rows = [i for i in range(n) if kind[i] == k]
        if not rows:
            return
        try:
            batch_fn(rows)
            return
        except Exception:
            pass
        for i in rows:
            try:
                batch_fn([i])
            except Exception as e:  # poison row → error channel
                extracted[i] = ""
                error[i] = _error_message(e)

    def plain_batch(rows):
        for i in rows:
            extracted[i] = text[i].strip()

    def html_batch(rows):
        for i, t in zip(rows, _extract_html_batch([text[i] for i in rows])):
            extracted[i] = t

    def pdf_batch(rows):
        texts, flags = _extract_pdf_batch([text[i] for i in rows])
        for i, t, o in zip(rows, texts, flags):
            extracted[i], needs_ocr[i] = t, o

    _guarded("plain", plain_batch)
    _guarded("html", html_batch)
    _guarded("pdf", pdf_batch)

    for i in range(n):
        if kind[i] == "pdf_real":  # library dispatch per document
            try:
                extracted[i], needs_ocr[i] = extract_real_pdf_text(text[i])
            except Exception as exc:  # poison row → error channel
                error[i] = _error_message(exc)

    if ocr:
        from .ocr import OCR_IMPLS

        fn = OCR_IMPLS[ocr]
        for i in range(n):
            if needs_ocr[i]:
                try:
                    extracted[i] = fn(text[i])
                except Exception as e:  # error channel; the text layer's text stays
                    error[i] = _error_message(e)

    cols = {"extracted_text": extracted}
    if with_spans:
        cols["spans"] = [_spans_chunked(t) for t in extracted]
    cols.update({"needs_ocr": needs_ocr, "payload_kind": kind, "error": error})
    if with_fields:
        (cols["claim_number"], cols["name"], cols["date"],
         cols["confidence"]) = _parse_fields(extracted)
        cols["lob"], cols["lobs"] = score_lobs(extracted)
    return cols


def extract_turn_batch(
    text, tool, with_spans: bool = True, with_fields: bool = True,
    ocr: str | None = None,
):
    """The kernel off Spark: ``text``/``tool`` are any sequences (pandas
    Series included; NaN and None are null), and the result is a pandas
    DataFrame of ``_extract_columns``' lists, indexed like ``text`` when
    it is a Series. An adapter for tests, perfbench's kernel replay and
    driver-side callers; the Spark UDF calls the list kernel directly.

    ``with_spans=False`` skips the span scan entirely (~half the kernel on
    transcript corpora) and omits the column — manual column pruning
    through the UDF boundary for consumers whose output contract carries
    no spans (Catalyst cannot prune INSIDE a Python UDF). The flagship
    pipeline and the resumable job keep the default: spans are part of
    the north-rule output contract.

    ``with_fields`` appends the F2 fields of the extracted text
    (``claim_number``, ``name``, ``date``, ``confidence`` — the
    reference's parse_fields ladders) and its C1/C2 LOB classification
    (``lob``, ``lobs`` — operators.classify.score_lobs), so the pipeline's
    field parse and classification ride this kernel's Arrow round trip.

    ``ocr`` (None | 'auto' | 'fixture' | 'real', resolved through
    operators.ocr.OCR_IMPLS) runs the OCR fallback on the ``needs_ocr``
    rows (reference extract_text.py:18-24): their text becomes the OCR
    output of the raw payload, and an OCR failure keeps the text layer's
    text and lands in ``error``. Spans, fields and LOB then describe the
    final text. None keeps the flag-only contract.
    """
    import pandas as pd

    cols = _extract_columns(list(text), list(tool), with_spans, with_fields, ocr)
    return pd.DataFrame(cols, index=text.index if isinstance(text, pd.Series) else None)


def _arrow_kernel(with_spans: bool, with_fields: bool, ocr: str | None, seed: dict | None):
    """The extract UDF's body: Arrow ``text``/``tool`` arrays in, one
    struct array of extract_result_type out, pandas never imported.
    ``seed`` (Algorithm 2.B entries, or None) is installed in the worker
    before the batch runs."""
    rtype = extract_result_type(with_spans, with_fields)

    def _kernel(text, tool):  # unannotated: arrow_udf's default is scalar (eval type 250)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        if seed is not None:
            from .pdftext import seed_kdf

            seed_kdf(seed)
        cols = _extract_columns(text.to_pylist(), tool.to_pylist(), with_spans, with_fields, ocr)
        atype = to_arrow_type(rtype)
        return pa.StructArray.from_arrays(
            [arrow_column(cols[f.name], f.type) for f in atype], fields=list(atype)
        )

    return _kernel


def with_extraction(df, text_col: str = "text", tool_col: str = "tool",
                    kdf_seed: dict | None = None, with_spans: bool = True,
                    with_fields: bool = False, ocr: str | None = None):
    """Append extraction columns to a transcripts DataFrame.

    Declarative so Catalyst keeps column pruning/pushdown around the UDF;
    only (text, tool) cross the Arrow boundary.

    ``kdf_seed``: driver-precomputed Algorithm 2.B entries (see
    plans.pipeline.precompute_kdf_seed) closed over the UDF and installed
    in each python worker before the batch runs, so AES-256 payloads never
    re-pay the ~1s/call KDF per worker. Pure cache — a miss re-derives.

    ``with_spans=False`` prunes the span scan INSIDE the UDF (Catalyst
    prunes columns around a Python UDF but cannot reach into it): the
    kernel skips ~half its work and the output carries no spans column.
    For consumers whose contract omits spans; the flagship pipeline and
    the resumable job keep the default.

    ``with_fields=True`` has the kernel parse the F2 fields of its own
    extracted text and classify it, appending ``claim_number``, ``name``,
    ``date``, ``confidence``, ``lob`` and ``lobs`` after ``error``.

    ``ocr`` runs the OCR fallback on ``needs_ocr`` rows inside the same
    kernel (extract_turn_batch), so the payload crosses to Python once.

    The UDF is a scalar Arrow UDF: Arrow arrays in, one struct array out,
    built by ``arrow_column`` without pandas. Returning the struct itself
    also skips PySpark's pandas converter, which walks ``array<struct>``
    columns such as ``spans`` element by element.
    """
    if ocr:
        from .ocr import OCR_IMPLS

        if ocr not in OCR_IMPLS:
            raise ValueError(f"ocr must be None or one of {sorted(OCR_IMPLS)}: {ocr!r}")
    seed = dict(kdf_seed) if kdf_seed else None
    rtype = extract_result_type(with_spans, with_fields)
    udf = F.arrow_udf(_arrow_kernel(with_spans, with_fields, ocr, seed), rtype)
    res = udf(F.col(text_col), F.col(tool_col))
    return df.withColumn("_ex", res).withColumns(
        {f.name: F.col(f"_ex.{f.name}") for f in rtype}
    ).drop("_ex")
