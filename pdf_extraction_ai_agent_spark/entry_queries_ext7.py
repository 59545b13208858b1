"""Query pack 8: training-data curation (operators/curation.py).

q47 — deterministic train/val/test split with per-split counts (stable
hash-bucket membership, the reproducible alternative to sample()).
q48 — benchmark decontamination: per-document fraction of distinct 3-gram
hashes appearing in a deterministic eval subset's gram inventory; the eval
docs themselves surface at contamination 1.0.

The pack also holds the payload builders of the first PDF roundtrip
carriers (q49, q51, q54-q58) and their shared page layouts. Each of those
queries is a row of entry_roundtrips.ROUNDTRIPS: builder, oracle SQL,
extraction rung and R6 seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _t
from .entry_queries_ext import _SHINGLES_SQL, _WORDS_SQL, _docs, _md5l
from .operators import curation


def q47_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc split labels + the rollup that audits the realized ratios
    (bucket assignment is the operator; the count is the evidence)."""
    out = curation.deterministic_split(_t(spark, sf_dir, "documents"))
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def _q47_sql() -> str:
    h = _md5l("'split:split:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM (SELECT doc_id, ({h}) % 100 AS b FROM documents)
GROUP BY 1
"""


def q48_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval set = every 97th doc (deterministic); report docs with any
    overlap, worst first (ties by doc_id) — the audit view a
    decontamination pass feeds."""
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    out = curation.contamination(docs, ev)
    return out.filter(F.col("n_contaminated") > 0).select(
        "doc_id", "n_grams", "n_contaminated", "contamination"
    )


def _q48_sql() -> str:
    return f"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(list_filter({_SHINGLES_SQL}, x -> x <> ''))) AS sh
  FROM (SELECT doc_id, {_WORDS_SQL.format(v='text')} AS w FROM documents)
),
gh AS (SELECT doc_id, {_md5l('sh')} AS h FROM g),
ev AS (SELECT DISTINCT h FROM gh WHERE doc_id % 97 = 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM gh GROUP BY 1),
hits AS (
  SELECT doc_id, COUNT(*) AS n_contaminated
  FROM gh WHERE h IN (SELECT h FROM ev)
  GROUP BY 1
)
SELECT s.doc_id, s.n_grams, h.n_contaminated,
       ROUND(CAST(h.n_contaminated AS DOUBLE) / s.n_grams, 6) AS contamination
FROM sizes s JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# q49 — real-PDF round trip under the ORACLE GATE: per document, build a
# genuine PDF (fixtures/minipdf.py — page tree, xref, FlateDecode on odd
# ids) whose positioned items are emitted in REVERSED stream order, extract
# it back through the dependency-free rung (positioned runs + reading-order
# assembly), and emit (doc_id, extracted_text, needs_ocr). The DuckDB twin
# computes the expected text DIRECTLY from the table — equality proves the
# entire write→tokenize→layout-assemble loop is the identity on semantics.
# ---------------------------------------------------------------------------


def _positioned_items(doc_id: int, text: str) -> list:
    """The shared q49-family page layout. l3 sits a full paragraph gap
    below l2 → blank line in the assembled text; reversed emission order
    makes the reading-order sort load-bearing."""
    norm30 = " ".join(str(text)[:30].split())
    return [
        ("text", 72, 720, f"Claim C{doc_id}"),
        ("text", 72, 704, f"Body {norm30}"),
        ("text", 72, 664, f"Total {doc_id % 97}.00"),
    ][::-1]


def _page_lines(doc_id: int, text: str) -> str:
    """The q55-family single-page Td line-advance layout (consecutive
    lines, no paragraph gap)."""
    norm30 = " ".join(str(text)[:30].split())
    return f"Claim C{doc_id}\nBody {norm30}\nTotal {doc_id % 97}.00"


def _payload_q49(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_minimal_pdf

    return write_minimal_pdf(
        [_positioned_items(doc_id, text)], compress=bool(doc_id % 2)
    )


# ---------------------------------------------------------------------------
# q50 — deterministic stratified sampling: the language-rebalancing mix
# (down-sample the dominant language, keep the rest) with hash-bucket
# membership reproducible across runs/engines; rollup audits realized rates.
# ---------------------------------------------------------------------------

_Q50_RATES = {"en": 0.25, "de": 0.8, "fr": 1.0}


def q50_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    sampled = curation.deterministic_sample(
        _t(spark, sf_dir, "documents"),
        rates=_Q50_RATES, strata_col="lang", default_rate=0.5,
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
        F.sum(F.col("n_chars")).alias("total_chars"),
    )


def _q50_sql() -> str:
    h = _md5l("'sample:sample:' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN lang = '{s}' THEN {int(round(r * 10000))}" for s, r in _Q50_RATES.items()
    )
    return f"""
SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS min_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (SELECT *, ({h}) % 10000 AS b FROM documents)
WHERE b < (CASE {whens} ELSE 5000 END)
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q51 — MODERN-PDF (object-stream) round trip under the ORACLE GATE: same
# contract as q49, but the per-document PDF is written in the PDF 1.5 shape
# that dominates real-world files — catalog/page dicts packed in a
# compressed /ObjStm container and a binary xref STREAM (W [1 3 1], Flate,
# PNG Up predictor 12) instead of a classic xref table. Items are emitted
# in reversed stream order so the reading-order sort stays load-bearing.
# Equality against the DuckDB twin proves the object-stream expansion,
# predictor decode and /Root-from-xref-stream lookup are the identity on
# semantics (round-3 verdict item 3; reference extract_text.py:39-66
# reaches these files only via pdfplumber/fitz).
# ---------------------------------------------------------------------------


def _payload_q51(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_objstm_pdf

    return write_objstm_pdf(
        [_positioned_items(doc_id, text)],
        compress=bool(doc_id % 2),
        predictor=bool(doc_id % 3),
    )


# ---------------------------------------------------------------------------
# q52 — incremental cross-run dedup (round-3 verdict item 5): batch 1 (even
# doc_ids) persists its md5 minhash signatures as the prior-run state table;
# batch 2 (odd doc_ids) computes its own signatures and probes the union —
# emitting exactly the candidate pairs that involve ≥1 new document. The
# DuckDB twin computes the ONE-SHOT band-join over all documents and keeps
# the pairs touching an odd id: equality proves incremental ≡ one-shot.
# ---------------------------------------------------------------------------


def q52_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import dedup
    from .plans.cache import tracked_persist

    docs = _docs(spark, sf_dir)
    prior = tracked_persist(
        dedup.minhash_signatures(docs.filter(F.col("doc_id") % 2 == 0), hash_impl="md5")
    )
    new = tracked_persist(
        dedup.minhash_signatures(docs.filter(F.col("doc_id") % 2 == 1), hash_impl="md5")
    )
    return dedup.incremental_lsh_candidates(prior, new)


def _q52_sql() -> str:
    from .entry_queries_ext import _band_rows_sql, _q13_sql

    return f"""
WITH sig AS ({_q13_sql()}),
bands AS (
  SELECT doc_id, u.b['band_idx'] AS band_idx, u.b['band_key'] AS band_key
  FROM sig, LATERAL (SELECT unnest([{_band_rows_sql()}]) AS b) u
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.doc_id < r.doc_id
WHERE (l.doc_id % 2 = 1) OR (r.doc_id % 2 = 1)
"""


# ---------------------------------------------------------------------------
# q53 — sequence-level decontamination (round-3 verdict item 7): per-doc
# rollup of MAXIMAL contaminated spans (overlapping eval-hit 3-grams merged
# — the unit real pipelines cut out, vs q48's whole-doc ratio). Engine =
# zero-shuffle Arrow kernel with broadcast inventory + a tiny rollup; twin
# = gaps-and-islands over gram positions in SQL. Same eval set as q48
# (every 97th doc).
# ---------------------------------------------------------------------------


def q53_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    spans = curation.contaminated_spans(docs, ev)
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("end_word") - F.col("start_word") + 1).alias("span_words"),
        F.max("total_words").alias("total_words"),
        F.round(
            F.sum(F.col("end_word") - F.col("start_word") + 1).cast("double")
            / F.max("total_words"),
            6,
        ).alias("span_frac"),
    )


def _q53_sql() -> str:
    from .entry_queries_ext import _WORDS_SQL, _md5l

    gram = "wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2]"
    return f"""
WITH wrds AS (
  SELECT doc_id, {_WORDS_SQL.format(v='text')} AS wl FROM documents
),
g AS (
  SELECT doc_id, len(wl) AS total_words, i AS pos, {_md5l(gram)} AS h
  FROM wrds, LATERAL (SELECT unnest(range(1, len(wl) - 1)) AS i) r
  WHERE len(wl) >= 3
),
ev AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
hits AS (SELECT * FROM g WHERE h IN (SELECT h FROM ev)),
brk AS (
  SELECT doc_id, total_words, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                   OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 3
              THEN 1 ELSE 0 END AS b
  FROM hits
),
isl AS (
  SELECT doc_id, total_words, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, ANY_VALUE(total_words) AS total_words,
         MIN(pos) AS start_word, MAX(pos) + 2 AS end_word
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM(end_word - start_word + 1) AS BIGINT) AS span_words,
       MAX(total_words) AS total_words,
       ROUND(CAST(SUM(end_word - start_word + 1) AS DOUBLE) / MAX(total_words), 6)
         AS span_frac
FROM spans GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# q54 — ENCRYPTED-PDF round trip under the ORACLE GATE: the q49 contract
# over files encrypted with the PDF standard security handler (mixed
# V1/R2 40-bit and V2/R3 128-bit RC4 per doc parity, empty user password —
# the ubiquitous "owner-locked" shapes; per-doc owner passwords vary). The dependency-free rung derives the key
# from /O //P //ID, verifies /U, and RC4-decrypts each content stream
# before parsing; the oracle char-scanner twin does the same with its own
# independent implementation. Reuses q49's SQL twin (same text contract,
# orthogonal to the carrier format).
# ---------------------------------------------------------------------------


def _payload_q54(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_encrypted_pdf

    return write_encrypted_pdf(
        [_positioned_items(doc_id, text)],
        owner_pwd=b"owner-%d" % (doc_id % 7),
        revision=3 if doc_id % 2 else 2,
    )


# ---------------------------------------------------------------------------
# q55 — CID-FONT PDF round trip under the ORACLE GATE: the q49 text
# contract over PDFs whose text is shown through a Type0 (CID-keyed) font
# with /Encoding /Identity-H and an embedded /ToUnicode CMap — the shape
# modern office suites emit (reference extract_text.py:39-66 reads these
# via pdfplumber/fitz). Character codes are sequential 2-byte CIDs
# disjoint from latin-1, so the mapping is provably applied; per-doc
# parities mix Flate compression, TJ-array kerning and the bfrange array
# form. The q49 SQL twin is reused (same text contract, orthogonal to the
# font encoding); the oracle char-scanner resolves the same CMaps with
# its own independent parser.
# ---------------------------------------------------------------------------


def _payload_q55(doc_id: int, text: str) -> bytes:
    # single page, Td line-advance idiom; the paragraph gap to the Total
    # line comes from the q49 layout being reused on the simple-font side
    # only — here lines are consecutive, so the contract drops the blank
    # line (own SQL twin below)
    from .fixtures.minipdf import write_cid_pdf

    return write_cid_pdf(
        [_page_lines(doc_id, text)],
        compress=bool(doc_id % 2),
        tj_arrays=doc_id % 3 == 0,
        array_ranges=doc_id % 5 == 0,
    )


# ---------------------------------------------------------------------------
# q56 — AESV2-ENCRYPTED PDF round trip under the ORACLE GATE: the q49
# contract over files encrypted with the V4/R4 standard security handler
# (/StdCF crypt filter, /CFM /AESV2 — AES-128-CBC with per-object keys,
# IV-prefixed payloads, PKCS#7 padding; the Acrobat 7+ default). The rung
# decrypts with its own pure-Python inverse cipher; the oracle twin
# carries an independent spec-style AES. Reuses q49's SQL twin (same text
# contract, orthogonal to the cipher).
# ---------------------------------------------------------------------------


def _payload_q56(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_encrypted_pdf

    return write_encrypted_pdf(
        [_positioned_items(doc_id, text)],
        owner_pwd=b"aes-owner-%d" % (doc_id % 11),
        revision=4,
    )


# ---------------------------------------------------------------------------
# q57 — /DIFFERENCES-ENCODED PDF round trip under the ORACLE GATE: the q55
# text contract over simple-Type1 fonts whose /Encoding /Differences array
# moves every named character to a high byte code (legacy-generator /
# scanner shape). The rung resolves glyph names through the shared
# AGL-subset table (spec.GLYPH_TO_UNICODE); the oracle parses the array
# with its own token-split code. Per-doc parities mix Flate compression
# and the inline vs indirect encoding-dict forms.
# ---------------------------------------------------------------------------


def _payload_q57(doc_id: int, text: str) -> bytes:
    from .fixtures.minipdf import write_differences_pdf

    return write_differences_pdf(
        [_page_lines(doc_id, text)],
        compress=bool(doc_id % 2),
        encoding_ref=doc_id % 3 == 0,
    )


# ---------------------------------------------------------------------------
# q58 — AES-256 (V5/R6) ENCRYPTED PDF round trip under the ORACLE GATE:
# the q49 contract over files using the AESV3 crypt filter — Algorithm
# 2.B password hashes, the file key unwrapped from /UE, streams decrypted
# directly under the 256-bit file key (no per-object salting in V5).
# Three independent AES-256 implementations (engine tables / oracle
# spec-style / writer forward), FIPS-197-pinned. Reuses q49's SQL twin.
# ---------------------------------------------------------------------------


def _payload_q58(doc_id: int, text: str) -> bytes:
    from .fixtures import minipdf

    # self-sufficient for un-seeded callers (the pinned-corpus
    # materializer): warm entries are lru-answered after the first call
    # per process, so this is a no-op inside the seeded q58 kernel
    minipdf.seed_kdf(minipdf.kdf_warm_entries(1, b"r6-owner"))
    return minipdf.write_encrypted_pdf(
        [_positioned_items(doc_id, text)], owner_pwd=b"r6-owner", revision=6
    )
