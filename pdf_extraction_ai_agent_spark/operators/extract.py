"""`extract_turn_batch` — the engine's single heavy stage, as a vectorized
Arrow UDF (pandas body; BASELINE.json input_hint: "vectorized pandas/Arrow
UDFs, no per-row Python").

Independent, batch-vectorized implementation of the extraction SPEC
(``..spec``); the golden tests compare it bit-for-bit against the
row-at-a-time oracle in ``..oracle.reference_extractor``.

Per batch:
- payload sniff (pseudo-PDF header / HTML / plain) — numpy select
- HTML boilerplate strip — pandas str ops over exploded block lines
  (tag strip, entity unescape, link-density + text-length scoring)
- pseudo-PDF layout parse — extractall → y-cluster via sorted groupby
  diff/cumsum → reading-order sort → page markers, needs_ocr flag
- span extraction — compiled-regex scan per record chunk (the only
  per-element loop; regex time dominates and runs in C)

Reference semantics citations: extract_text.py:39-66 (candidate/OCR),
fitzTest3.py:92-95 (markers), regex_extractor.py:7-19 (patterns/split),
claude_text_extractor.py:63-84 (pagewise extraction).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
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


def extract_result_type(with_spans: bool = True, with_lob: bool = False) -> StructType:
    """The kernel's return struct: EXTRACT_RESULT_TYPE, minus ``spans``
    when pruned (manual pruning through the UDF boundary), plus the
    ``lob``/``lobs`` classification when requested."""
    fields = [f for f in EXTRACT_RESULT_TYPE.fields if with_spans or f.name != "spans"]
    if with_lob:
        fields += [StructField("lob", StringType()), StructField("lobs", LOBS_TYPE)]
    return StructType(fields)


def to_arrow_struct(pdf: pd.DataFrame, rtype: StructType):
    """The one pandas → Arrow conversion of a struct-returning kernel: a
    ``pa.StructArray`` of ``rtype``'s fields, each column converted whole
    by ``pa.Array.from_pandas`` (NaN/None in object columns become null).
    Returned from an Arrow UDF it skips PySpark's pandas converter, which
    walks ``array<struct>`` columns such as ``spans`` element by element
    (0.52 CPU-s per 20k turns against 0.06 here)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    atype = to_arrow_type(rtype)
    return pa.StructArray.from_arrays(
        [pa.Array.from_pandas(pdf[f.name], type=f.type) for f in atype],
        fields=list(atype),
    )


# ---------------------------------------------------------------------------
# HTML branch (fully vectorized)
# ---------------------------------------------------------------------------

_TAG_RE = r"<[^>]+>"
_LINK_RE = r"<a\s[^>]*>(.*?)</a>"
# spec.HTML_SKIP_TAGS subtree removal (Readability rule): whole well-formed
# spans, dotall so multi-line <style>/<script> bodies vanish BEFORE the
# line split (their removal leaves blank lines → zero-length → dropped).
_SKIP_SPAN_RE = (
    r"(?is)<(" + "|".join(spec.HTML_SKIP_TAGS) + r")\b[^>]*>.*?</\1\s*>"
)
# Table linearization (spec.HTML_CELL_SEP): td/th and tr boundaries become
# the pipe separator. Applied on the raw payload, so a table whose rows sit
# on separate lines collapses onto ONE line — the same one-block view the
# oracle's DOM takes of the whole <table>.
_CELL_BOUND_RE = r"(?is)</t[dh]\s*>\s*<t[dh][^>]*>|</tr\s*>\s*<tr[^>]*>"


def _extract_html_batch(s: pd.Series) -> pd.Series:
    """Boilerplate strip over a batch of HTML payloads (one block per line,
    per the generator/SPEC contract; scoring matches the oracle's DOM-node
    scoring on that grammar)."""
    if s.empty:
        return pd.Series([], dtype=object)
    # C-substring prefilters before the (slow, dotall) realism regexes —
    # corpora without script/style/table markup pay ~nothing (same
    # discipline as pdftext's /ObjStm prefilter)
    # case=False (r8, advisor finding): the rewrite regexes are (?i) and
    # the oracle's HTMLParser lowercases tag names, so a case-sensitive
    # prefilter would skip '<SCRIPT>'/'<BR>'/'</TD>' payloads on the
    # engine side only — a latent twin-parity break; one lowered copy
    # keeps the gate a C-level scan
    low = s.str.lower()
    skip_mask = pd.Series(False, index=s.index)
    for t in spec.HTML_SKIP_TAGS:
        skip_mask |= low.str.contains("<" + t, regex=False, na=False)
    if skip_mask.any():
        s = s.copy()
        s[skip_mask] = s[skip_mask].str.replace(_SKIP_SPAN_RE, "", regex=True)
    br_mask = low.str.contains("<br", regex=False, na=False)
    if br_mask.any():
        s = s.copy()
        s[br_mask] = s[br_mask].str.replace(
            r"(?i)<br\s*/?\s*>", " ", regex=True
        )
    cell_mask = low.str.contains("</td", regex=False, na=False) | low.str.contains(
        "</th", regex=False, na=False
    ) | low.str.contains("</tr", regex=False, na=False)
    if cell_mask.any():
        s = s.copy()
        s[cell_mask] = s[cell_mask].str.replace(
            _CELL_BOUND_RE, spec.HTML_CELL_SEP, regex=True
        )
    lines = s.str.split("\n").explode()
    # link text chars per line — findall only where "<a" occurs at all
    # (~27% of fixture lines; the regex needs that literal to match, so the
    # C-substring prefilter is a strict superset). Assignment goes through
    # numpy positions: the exploded index has duplicates, and index-aligned
    # Series assignment would misalign them.
    import numpy as np

    lc_vals = np.zeros(len(lines), dtype="int64")
    # na=False keeps the mask strictly boolean: a null payload routed here
    # would otherwise make contains() return NaN (object dtype) and the
    # positional assignment below raise instead of scoring the row as 0
    mask = lines.str.contains("<a", regex=False, na=False).to_numpy()
    if mask.any():
        lc_vals[mask] = (
            lines[mask]
            .str.findall(_LINK_RE, flags=re.S)
            .map(lambda l: sum(len(x) for x in l) if isinstance(l, list) else 0)
            .to_numpy(dtype="int64")
        )
    link_chars = pd.Series(lc_vals, index=lines.index)
    # strip tags, unescape the generator's entity set, collapse whitespace
    text = lines.str.replace(_TAG_RE, "", regex=True)
    text = (
        text.str.replace("&lt;", "<", regex=False)
        .str.replace("&gt;", ">", regex=False)
        .str.replace("&amp;", "&", regex=False)
    )
    text = text.str.replace(r"\s+", " ", regex=True).str.strip()
    tlen = text.str.len()
    keep = (tlen >= spec.HTML_MIN_TEXT_LEN) & (link_chars / tlen.clip(lower=1) <= spec.HTML_MAX_LINK_DENSITY)
    kept = text[keep]
    joined = kept.groupby(level=0).agg(spec.HTML_BLOCK_JOINER.join)
    return joined.reindex(s.index, fill_value="")


# ---------------------------------------------------------------------------
# pseudo-PDF branch (vectorized layout parse)
# ---------------------------------------------------------------------------

_PAGE_EXTRACT = r"^%%PAGE (\d+)$"
_RUN_EXTRACT = r"^BT ([0-9.]+) ([0-9.]+) Td \((.*)\) Tj ET$"


def _extract_pdf_batch(s: pd.Series) -> tuple[pd.Series, pd.Series]:
    """Returns (extracted_text, needs_ocr) for a batch of pseudo-PDF payloads.

    Assembly is separator-interleaved numpy (one C-level ``str.join`` per
    page / doc) instead of pandas pure-python groupby-agg chains — the
    round-1 profile attributed ~30-48% of kernel time to those aggs. The
    layout semantics (y-clustering, x-order join, paragraph gaps, page
    strip, marker-only pages) are unchanged and pinned by the golden suite.
    """
    if s.empty:
        return pd.Series([], dtype=object), pd.Series([], dtype=bool)
    lines = s.str.split("\n").explode()
    df = pd.DataFrame({"doc": lines.index, "line": lines.values})
    page = df["line"].str.extract(_PAGE_EXTRACT, expand=False)
    runs = df["line"].str.extract(_RUN_EXTRACT)
    df["page"] = pd.to_numeric(page, errors="coerce").groupby(df["doc"]).ffill()
    df["x"] = pd.to_numeric(runs[0], errors="coerce")
    df["y"] = pd.to_numeric(runs[1], errors="coerce")
    df["txt"] = runs[2]
    rdf = df.dropna(subset=["x", "y", "page"])[["doc", "page", "x", "y", "txt"]].copy()

    # needs_ocr: total stripped run chars per doc < OCR_MIN_CHARS
    chars = rdf["txt"].str.strip().str.len().groupby(rdf["doc"]).sum()
    needs_ocr = chars.reindex(s.index, fill_value=0) < spec.OCR_MIN_CHARS

    # y-cluster: sort (doc, page, -y), new line when gap > PDF_Y_TOL
    rdf = rdf.sort_values(["doc", "page", "y"], ascending=[True, True, False], kind="mergesort")
    grp = rdf.groupby(["doc", "page"], sort=False)
    gap = grp["y"].diff().fillna(0.0) * -1.0  # positive gaps going down
    rdf["cluster"] = (gap > spec.PDF_Y_TOL).cumsum()
    # line_y = max y within (doc, page, cluster) — cluster ids are a global
    # cumsum that does NOT reset at page boundaries, so the page keys matter
    rdf["line_y"] = rdf.groupby(["doc", "page", "cluster"], sort=False)["y"].transform("max")

    # within a cluster: x ascending (reading order)
    rdf = rdf.sort_values(["doc", "page", "cluster", "x"], kind="mergesort")

    doc = rdf["doc"].to_numpy()
    pg = rdf["page"].to_numpy()
    clu = rdf["cluster"].to_numpy()
    line_y = rdf["line_y"].to_numpy()
    txt = rdf["txt"].to_numpy(dtype=object)
    n = len(rdf)

    # row-level separator BEFORE each row, within its page:
    #   same cluster            → ' '   (x-order join)
    #   new cluster, gap < PARA → '\n'
    #   new cluster, gap ≥ PARA → '\n\n' (paragraph blank line)
    #   first row of page       → ''
    bodies: dict[tuple, str] = {}
    if n:  # marker-only batches have zero runs
        new_page = np.empty(n, dtype=bool)
        new_page[0] = True
        new_page[1:] = (doc[1:] != doc[:-1]) | (pg[1:] != pg[:-1])
        new_cluster = np.empty(n, dtype=bool)
        new_cluster[0] = True
        new_cluster[1:] = clu[1:] != clu[:-1]
        prev_line_y = np.empty(n, dtype=np.float64)
        prev_line_y[0] = np.nan
        prev_line_y[1:] = line_y[:-1]
        para = new_cluster & ~new_page & ((prev_line_y - line_y) >= spec.PDF_PARA_GAP)
        seps = np.where(
            new_page, "", np.where(~new_cluster, " ", np.where(para, "\n\n", "\n"))
        ).astype(object)

        # one interleaved C-join per page, then strip (page-body contract)
        parts = np.empty(2 * n, dtype=object)
        parts[0::2] = seps
        parts[1::2] = txt
        page_starts = np.flatnonzero(new_page)
        page_ends = np.append(page_starts[1:], n)
        join = "".join
        for ps, pe in zip(page_starts, page_ends):
            bodies[(doc[ps], pg[ps])] = join(parts[2 * ps : 2 * pe]).strip()

    # docs may contain page markers with zero runs (near-empty last pages are
    # not emitted by the generator, but handle marker-only pages anyway)
    markers = (
        df.dropna(subset=["page"])[["doc", "page"]]
        .drop_duplicates()
        .sort_values(["doc", "page"], kind="mergesort")
    )
    mdoc = markers["doc"].to_numpy()
    mpg = markers["page"].to_numpy()
    out: dict = {}
    cur_doc = None
    acc: list[str] = []
    for i in range(len(markers)):
        d = mdoc[i]
        if d != cur_doc:
            if cur_doc is not None:
                out[cur_doc] = "\n".join(acc).strip()
            cur_doc, acc = d, []
        acc.append(f"--- PAGE {int(mpg[i])} ---\n" + bodies.get((d, mpg[i]), ""))
    if cur_doc is not None:
        out[cur_doc] = "\n".join(acc).strip()

    text = pd.Series(out, dtype=object)
    return text.reindex(s.index, fill_value=""), needs_ocr


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
# if its lowercased text contains one of these substrings (they are the
# case-folded literal anchors of the spec pattern — a SUPERSET of matches,
# so skipping on a miss is sound). str.find runs ~10× faster per byte than
# the regex alternation, and the name field hits <3% of chunks (profiled):
# the prefilter made the whole span scan 1.45× faster, bit-exact.
# KEEP IN LOCKSTEP with spec.CLAIM_NO_PAT / NAME_PATTERNS[0] / AMOUNT_PAT /
# REASON_PAT — the oracle-parity golden + hypothesis suites enforce it.
_FIELD_RES = [
    ("claim_number", _CLAIM_NO, ("claim", "ref")),
    ("name", _NAME, ("claimant", "insured", "name")),
    ("amount", _AMOUNT, ("$",)),
    ("reason", _REASON, ("reason", "cause", "description")),
]
# bound-method search handles for the unrolled hot loop (round-7 item d);
# _FIELD_RES stays as the declarative table (exp scripts, docs)
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
    norm_date = _norm_date_cached
    start = 0
    n = len(t)
    while start <= n:
        m = split_search(t, start)
        end = m.start() if m else n
        chunk = t[start:end]
        if chunk:
            # literal prefilters: a regex cannot match without one of its
            # anchors (C-level `in` on the lowered chunk); straight-line
            # per field — unrolled (round-7 measurement d)
            low = chunk.lower()
            if "claim" in low or "ref" in low:
                fm = claim_s(chunk)
                if fm:
                    append(
                        {"field": "claim_number", "start": start + fm.start(1),
                         "end": start + fm.end(1), "value": fm.group(1).strip()}
                    )
            if "claimant" in low or "insured" in low or "name" in low:
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
            if "reason" in low or "cause" in low or "description" in low:
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


def _spans_batch(texts: pd.Series) -> pd.Series:
    return pd.Series([_spans_chunked(t) for t in texts], index=texts.index, dtype=object)


def _error_message(e: Exception) -> str:
    """The error channel's per-row value."""
    return f"{type(e).__name__}: {e}"[:500]


# ---------------------------------------------------------------------------
# the UDF
# ---------------------------------------------------------------------------


def extract_turn_batch(
    text: pd.Series, tool: pd.Series, with_spans: bool = True, with_lob: bool = True,
    ocr: str | None = None,
) -> pd.DataFrame:
    """Pure-pandas batch kernel (also unit-testable off-Spark).

    Error channel (reference cli.py:41-49 — exceptions become per-row
    `error` values, never a job abort): if a vectorized branch raises, the
    affected rows are retried ONE AT A TIME and only the truly poisoned
    rows carry an error string. Real PDFs have no vectorized form: one
    loop extracts each and catches its error. One pathological document
    in 10^12 turns must not kill a multi-hour job; Spark task retries only
    cover infra failures, not deterministic poison input.

    ``with_spans=False`` skips the span scan entirely (~half the kernel on
    transcript corpora) and omits the column — manual column pruning
    through the UDF boundary for consumers whose output contract carries
    no spans (Catalyst cannot prune INSIDE a Python UDF). The flagship
    pipeline and the resumable job keep the default: spans are part of
    the north-rule output contract.

    ``with_lob`` appends the C1/C2 LOB classification of the extracted
    text (``lob``, ``lobs`` — operators.classify.score_lobs) so the
    pipeline's classification rides this kernel's Arrow round trip.

    ``ocr`` (None | 'auto' | 'fixture' | 'real', resolved through
    operators.ocr.OCR_IMPLS) runs the OCR fallback on the ``needs_ocr``
    rows (reference extract_text.py:18-24): their text becomes the OCR
    output of the raw payload, and an OCR failure keeps the text layer's
    text and lands in ``error``. Spans and LOB then describe the final
    text. None keeps the flag-only contract.
    """
    text = text.fillna("")
    is_pdf = text.str.startswith(spec.PDF_HEADER)
    # real PDF byte streams ("%PDF-1.x"): dispatched to the library chain
    # (extract_real_pdf_text); rows land in the error channel when the libs
    # are absent instead of being silently treated as plain text
    is_real_pdf = (~is_pdf) & text.str.startswith("%PDF-")
    lstripped = text.str.lstrip()
    is_html = (~is_pdf) & (~is_real_pdf) & (
        lstripped.str.startswith("<html")
        | lstripped.str.startswith("<!DOCTYPE")
        | (tool.fillna("") == "html_paste")
    )
    is_plain = ~is_pdf & ~is_real_pdf & ~is_html

    extracted = pd.Series("", index=text.index, dtype=object)
    needs_ocr = pd.Series(False, index=text.index)
    error = pd.Series(None, index=text.index, dtype=object)

    def _guarded(mask, batch_fn):
        """Run the vectorized branch; on failure, retry it on one-row
        slices so only the poison rows land in the error channel."""
        if not mask.any():
            return
        sub = text[mask]
        try:
            batch_fn(sub)
            return
        except Exception:
            pass
        for i in range(len(sub)):
            row = sub.iloc[i : i + 1]
            try:
                batch_fn(row)
            except Exception as e:  # poison row → error channel
                extracted.at[row.index[0]] = ""
                error.at[row.index[0]] = _error_message(e)

    def plain_batch(sub):
        extracted[sub.index] = sub.str.strip()

    def html_batch(sub):
        extracted[sub.index] = _extract_html_batch(sub)

    def pdf_batch(sub):
        pdf_text, pdf_ocr = _extract_pdf_batch(sub)
        extracted[sub.index] = pdf_text
        needs_ocr[sub.index] = pdf_ocr.to_numpy(dtype=bool)

    _guarded(is_plain, plain_batch)
    _guarded(is_html, html_batch)
    _guarded(is_pdf, pdf_batch)

    if is_real_pdf.any():
        # library dispatch per document (error channel when libs are absent);
        # collect every row, then write each column once
        texts, flags, errors = [], [], []
        for val in text[is_real_pdf]:
            try:
                t, o = extract_real_pdf_text(val)
                e = None
            except Exception as exc:  # poison row → error channel
                t, o, e = "", False, _error_message(exc)
            texts.append(t)
            flags.append(o)
            errors.append(e)
        extracted[is_real_pdf] = texts
        needs_ocr[is_real_pdf] = flags
        error[is_real_pdf] = errors

    if ocr:
        from .ocr import OCR_IMPLS

        fn = OCR_IMPLS[ocr]
        for idx, payload in text[needs_ocr].items():
            try:
                extracted.at[idx] = fn(payload)
            except Exception as e:  # error channel; the text layer's text stays
                error.at[idx] = _error_message(e)

    kind = pd.Series(
        np.select(
            [is_pdf, is_real_pdf, is_html], ["pdf", "pdf_real", "html"], default="plain"
        ),
        index=text.index,
    )
    cols = {"extracted_text": extracted}
    if with_spans:
        cols["spans"] = _spans_batch(extracted)
    cols.update(
        {"needs_ocr": needs_ocr, "payload_kind": kind, "error": error}
    )
    if with_lob:
        cols["lob"], cols["lobs"] = score_lobs(extracted)
    return pd.DataFrame(cols)


def with_extraction(df, text_col: str = "text", tool_col: str = "tool",
                    kdf_seed: dict | None = None, with_spans: bool = True,
                    with_lob: bool = False, ocr: str | None = None):
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

    ``with_lob=True`` has the kernel classify its own extracted text and
    appends ``lob``/``lobs`` after ``error`` (extract_pipeline moves them
    to the end of its output).

    ``ocr`` runs the OCR fallback on ``needs_ocr`` rows inside the same
    kernel (extract_turn_batch), so the payload crosses to Python once.
    """
    if ocr:
        from .ocr import OCR_IMPLS

        if ocr not in OCR_IMPLS:
            raise ValueError(f"ocr must be None or one of {sorted(OCR_IMPLS)}: {ocr!r}")
    rtype = extract_result_type(with_spans, with_lob)
    seed = dict(kdf_seed) if kdf_seed else None

    def _kernel(text, tool):  # unannotated: arrow_udf's default is scalar (eval type 250)
        if seed is not None:
            from .pdftext import seed_kdf

            seed_kdf(seed)
        pdf = extract_turn_batch(
            text.to_pandas(), tool.to_pandas(), with_spans=with_spans, with_lob=with_lob,
            ocr=ocr,
        )
        return to_arrow_struct(pdf, rtype)

    udf = F.arrow_udf(_kernel, rtype)
    res = udf(F.col(text_col), F.col(tool_col))
    out = df.withColumn("_ex", res).withColumn(
        "extracted_text", F.col("_ex.extracted_text")
    )
    if with_spans:
        out = out.withColumn("spans", F.col("_ex.spans"))
    out = (
        out.withColumn("needs_ocr", F.col("_ex.needs_ocr"))
        .withColumn("payload_kind", F.col("_ex.payload_kind"))
        .withColumn("error", F.col("_ex.error"))
    )
    if with_lob:
        out = out.withColumn("lob", F.col("_ex.lob")).withColumn("lobs", F.col("_ex.lobs"))
    return out.drop("_ex")
