"""Query pack 8: training-data curation (operators/curation.py).

q47 — deterministic train/val/test split with per-split counts (stable
hash-bucket membership, the reproducible alternative to sample()).
q48 — benchmark decontamination: per-document fraction of distinct 3-gram
hashes appearing in a deterministic eval subset's gram inventory; the eval
docs themselves surface at contamination 1.0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _spread, _t
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


EXT7_QUERIES = {
    "q47_deterministic_split": q47_deterministic_split,
    "q48_contamination": q48_contamination,
}


def ext7_oracles() -> dict[str, str]:
    return {
        "q47_deterministic_split": _q47_sql(),
        "q48_contamination": _q48_sql(),
        **_EXT7_ORACLES_EXTRA,
    }


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


def _roundtrip_kernel(builder):
    """(doc_id, text) batches → (doc_id, extracted_text, needs_ocr) via
    builder + the engine's real-PDF rung — the shared body of every
    roundtrip query kernel."""
    import pandas as pd

    from .operators.extract import extract_real_pdf_text

    def kernel(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                t, ocr = extract_real_pdf_text(builder(doc_id, str(text)))
                rows.append((doc_id, t, ocr))
            yield pd.DataFrame(
                rows, columns=["doc_id", "extracted_text", "needs_ocr"]
            )

    return kernel


_ROUNDTRIP_SCHEMA = "doc_id long, extracted_text string, needs_ocr boolean"
_OCR_ROUNDTRIP_SCHEMA = _ROUNDTRIP_SCHEMA + ", ocr_error string"


def _ocr_roundtrip_frame(doc_ids, payloads: list[str]):
    """One batch of scan payloads (latin-1 strings) → (doc_id,
    extracted_text, needs_ocr, ocr_error) through the extract kernel with
    ``ocr='fixture'``: the shared body of q69/q70 and their pinned A/B
    arm, so an OCR failure reaches the error channel in both."""
    import pandas as pd

    from .operators.extract import extract_turn_batch

    text = pd.Series(payloads, dtype=object)
    res = extract_turn_batch(
        text, pd.Series(None, index=text.index, dtype=object),
        with_spans=False, with_lob=False, ocr="fixture",
    )
    return pd.DataFrame({
        "doc_id": [int(d) for d in doc_ids],
        "extracted_text": res["extracted_text"],
        "needs_ocr": res["needs_ocr"],
        "ocr_error": res["error"],
    })


def q49_real_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _roundtrip_kernel(_payload_q49), schema=_ROUNDTRIP_SCHEMA
    )


_Q49_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'Claim C' || CAST(doc_id AS VARCHAR) AS l1,
         'Body ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         'Total ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l3
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l1 || chr(10) || l2 || chr(10) || chr(10) || l3
         AS extracted_text,
       (len(trim(l1)) + len(trim(l2)) + len(trim(l3))) < 40 AS needs_ocr
FROM parts
"""


EXT7_QUERIES["q49_real_pdf_roundtrip"] = q49_real_pdf_roundtrip


_EXT7_ORACLES_EXTRA = {"q49_real_pdf_roundtrip": _Q49_SQL}


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


EXT7_QUERIES["q50_stratified_sample"] = q50_stratified_sample
_EXT7_ORACLES_EXTRA["q50_stratified_sample"] = _q50_sql()


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


def q51_objstm_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _roundtrip_kernel(_payload_q51), schema=_ROUNDTRIP_SCHEMA
    )


# Same contract as q49 — the oracle computes expected text from the table,
# independent of which PDF flavor carried it — so q51 REUSES q49's SQL twin
# (one maintained copy; review finding).


EXT7_QUERIES["q51_objstm_pdf_roundtrip"] = q51_objstm_pdf_roundtrip
_EXT7_ORACLES_EXTRA["q51_objstm_pdf_roundtrip"] = _Q49_SQL


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


EXT7_QUERIES["q52_incremental_dedup"] = q52_incremental_dedup
_EXT7_ORACLES_EXTRA["q52_incremental_dedup"] = _q52_sql()


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


EXT7_QUERIES["q53_contaminated_spans"] = q53_contaminated_spans
_EXT7_ORACLES_EXTRA["q53_contaminated_spans"] = _q53_sql()


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


def q54_encrypted_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _roundtrip_kernel(_payload_q54), schema=_ROUNDTRIP_SCHEMA
    )


EXT7_QUERIES["q54_encrypted_pdf_roundtrip"] = q54_encrypted_pdf_roundtrip
_EXT7_ORACLES_EXTRA["q54_encrypted_pdf_roundtrip"] = _Q49_SQL


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


def q55_cid_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _roundtrip_kernel(_payload_q55), schema=_ROUNDTRIP_SCHEMA
    )


_Q55_SQL = r"""
WITH parts AS (
  SELECT doc_id,
         'Claim C' || CAST(doc_id AS VARCHAR) AS l1,
         'Body ' || trim(regexp_replace(substr(text, 1, 30), '\s+', ' ', 'g')) AS l2,
         'Total ' || CAST(doc_id % 97 AS VARCHAR) || '.00' AS l3
  FROM documents
)
SELECT doc_id,
       '--- PAGE 1 ---' || chr(10) || l1 || chr(10) || l2 || chr(10) || l3
         AS extracted_text,
       (len(trim(l1)) + len(trim(l2)) + len(trim(l3))) < 40 AS needs_ocr
FROM parts
"""


EXT7_QUERIES["q55_cid_pdf_roundtrip"] = q55_cid_pdf_roundtrip
_EXT7_ORACLES_EXTRA["q55_cid_pdf_roundtrip"] = _Q55_SQL


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


def q56_aes_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _roundtrip_kernel(_payload_q56), schema=_ROUNDTRIP_SCHEMA
    )


EXT7_QUERIES["q56_aes_pdf_roundtrip"] = q56_aes_pdf_roundtrip
_EXT7_ORACLES_EXTRA["q56_aes_pdf_roundtrip"] = _Q49_SQL


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


def q57_differences_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        _roundtrip_kernel(_payload_q57), schema=_ROUNDTRIP_SCHEMA
    )


EXT7_QUERIES["q57_differences_pdf_roundtrip"] = q57_differences_pdf_roundtrip
_EXT7_ORACLES_EXTRA["q57_differences_pdf_roundtrip"] = _Q55_SQL


# ---------------------------------------------------------------------------
# q58 — AES-256 (V5/R6) ENCRYPTED PDF round trip under the ORACLE GATE:
# the q49 contract over files using the AESV3 crypt filter — Algorithm
# 2.B password hashes, the file key unwrapped from /UE, streams decrypted
# directly under the 256-bit file key (no per-object salting in V5).
# Three independent AES-256 implementations (engine tables / oracle
# spec-style / writer forward), FIPS-197-pinned. Reuses q49's SQL twin.
# ---------------------------------------------------------------------------


_Q58_SEED_CACHE: dict[tuple[bytes, int, bytes], tuple[dict, dict]] = {}


def _q58_kdf_seeds(
    spark: SparkSession, owner_pwd: bytes, pages_count: int = 1,
    user_pwd: bytes = b"",
) -> tuple[dict, dict]:
    """Distributed ONE-wave Algorithm 2.B derivation for ONE R6 encrypt
    dict (r8: was two sequential jobs — user hashes, then owner hashes
    that need u_value): every hash is one parallel task, and each OWNER
    task derives its own u_value prerequisite in-task (one duplicated
    user-hash computation per owner task buys removing a whole job +
    barrier — wall is max(1, 2) calls instead of 1 + 1 plus two job
    overheads). Writer-side and engine-side values run through each
    side's OWN impl (twin independence intact). With a non-empty
    ``user_pwd`` (q60) the engine side also gets the (empty, vsalt)
    probe it tries first. Results are plain dicts seeded into workers by
    the kernel — a pure cache, misses re-derive."""
    from .fixtures import minipdf
    from .operators import pdftext

    hit = _Q58_SEED_CACHE.get((owner_pwd, pages_count, user_pwd))
    if hit is not None:
        return hit
    vsalt, ksalt, ovs, oks = minipdf.r6_salts(pages_count)
    sc = spark.sparkContext

    # the tasks go through each side's memoized entry point, so reused
    # python workers answer repeat derivations from cache (~0s)
    def _run(t):
        side, pwd, salt = t
        if side == "w":
            return t, minipdf.hash_2b(pwd, salt)
        if side == "e":
            return t, pdftext._hash_2b_compute(pwd, salt)
        # side == "o": owner hash — derive the u_value dependency locally
        # (lru-answered if this worker already computed it)
        u = minipdf.hash_2b(user_pwd, vsalt) + vsalt + ksalt
        return t, minipdf.hash_2b(owner_pwd, salt, u)

    tasks = [("w", user_pwd, vsalt), ("w", user_pwd, ksalt),
             ("e", user_pwd, vsalt), ("e", user_pwd, ksalt),
             ("o", owner_pwd, ovs), ("o", owner_pwd, oks)]
    if user_pwd != b"":
        tasks.append(("e", b"", vsalt))  # the empty-password probe
    res = dict(sc.parallelize(tasks, len(tasks)).map(_run).collect())
    w1 = {k: v for k, v in res.items() if k[0] in ("w", "e")}
    u_value = w1[("w", user_pwd, vsalt)] + vsalt + ksalt
    w2 = {ovs: res[("o", owner_pwd, ovs)], oks: res[("o", owner_pwd, oks)]}
    writer_seed = {
        (user_pwd, vsalt, b""): w1[("w", user_pwd, vsalt)],
        (user_pwd, ksalt, b""): w1[("w", user_pwd, ksalt)],
        (owner_pwd, ovs, u_value): w2[ovs],
        (owner_pwd, oks, u_value): w2[oks],
    }
    engine_seed = {
        (pwd, salt, b""): h for (side, pwd, salt), h in w1.items() if side == "e"
    }
    _Q58_SEED_CACHE[(owner_pwd, pages_count, user_pwd)] = (writer_seed, engine_seed)
    return writer_seed, engine_seed


_Q58_ENGINE_SEED_CACHE: dict[tuple[int, bytes], dict] = {}


def _q58_engine_seeds(
    spark: SparkSession, pages_count: int = 1, user_pwd: bytes = b""
) -> dict:
    """Engine-side-only Algorithm 2.B seeds in ONE parallel wave — for
    extraction-only callers (the data-pinned A/B arm reads pre-written
    bytes, so the writer/owner hashes of _q58_kdf_seeds are dead weight
    there and its second wave pure overhead: 2 sequential Spark jobs ≈
    +2s of fixed cost that showed up as a phantom q58 'regression')."""
    from .fixtures import minipdf
    from .operators import pdftext

    hit = _Q58_ENGINE_SEED_CACHE.get((pages_count, user_pwd))
    if hit is not None:
        return hit
    vsalt, ksalt, _ovs, _oks = minipdf.r6_salts(pages_count)
    tasks = [(user_pwd, vsalt), (user_pwd, ksalt)]
    if user_pwd != b"":
        tasks.append((b"", vsalt))  # the empty-password probe
    seeds = dict(
        spark.sparkContext.parallelize(tasks, len(tasks))
        .map(lambda t: ((t[0], t[1], b""), pdftext._hash_2b_compute(*t)))
        .collect()
    )
    _Q58_ENGINE_SEED_CACHE[(pages_count, user_pwd)] = seeds
    return seeds


def q58_aes256_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from .fixtures import minipdf
    from .operators import pdftext
    from .operators.extract import extract_real_pdf_text

    docs = _docs(spark, sf_dir)

    # ONE owner pwd, and the Algorithm 2.B results derived ONCE in a tiny
    # 2-wave parallel stage (_q58_kdf_seeds) then seeded into every worker
    # — per-worker KDF cost was the round-5 scale-killer (VERDICT: ~1s/call
    # × workers × distinct dicts); the query now times writer AES-CBC + the
    # engine's AES-256 stream path.
    writer_seed, engine_seed = _q58_kdf_seeds(spark, b"r6-owner")
    inner = _roundtrip_kernel(_payload_q58)

    def kernel(batches):
        minipdf.seed_kdf(writer_seed)
        pdftext.seed_kdf(engine_seed)
        yield from inner(batches)

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema=_ROUNDTRIP_SCHEMA
    )


EXT7_QUERIES["q58_aes256_pdf_roundtrip"] = q58_aes256_pdf_roundtrip
_EXT7_ORACLES_EXTRA["q58_aes256_pdf_roundtrip"] = _Q49_SQL


def _payload_q58(doc_id: int, text: str) -> bytes:
    from .fixtures import minipdf

    # self-sufficient for un-seeded callers (the pinned-corpus
    # materializer): warm entries are lru-answered after the first call
    # per process, so this is a no-op inside the seeded q58 kernel
    minipdf.seed_kdf(minipdf.kdf_warm_entries(1, b"r6-owner"))
    return minipdf.write_encrypted_pdf(
        [_positioned_items(doc_id, text)], owner_pwd=b"r6-owner", revision=6
    )


# --- data-pinned A/B support (round-6 verdict item 2) ----------------------
# bench.py materializes these ONCE per bench session (HEAD's generator) as
# (doc_id, pdf) parquet and both A/B arms extract the SAME bytes — ratios
# then measure extraction code, not fixture-generator drift.
PINNED_PAYLOAD_BUILDERS = {
    "q49_real_pdf_roundtrip": _payload_q49,
    "q51_objstm_pdf_roundtrip": _payload_q51,
    "q54_encrypted_pdf_roundtrip": _payload_q54,
    "q55_cid_pdf_roundtrip": _payload_q55,
    "q56_aes_pdf_roundtrip": _payload_q56,
    "q57_differences_pdf_roundtrip": _payload_q57,
    "q58_aes256_pdf_roundtrip": _payload_q58,
}


def _pinned_extract_kernel(tagged: bool = False):
    """(doc_id, pdf) batches -> (doc_id, extracted_text, needs_ocr): the
    extraction half of the roundtrip kernels, over pre-materialized bytes.
    ``tagged`` swaps in the tagged-PDF rung (q66 measures the logical-
    order path it ships, not geometric extraction of the same bytes)."""
    import pandas as pd

    from .operators.extract import (
        extract_real_pdf_text,
        extract_tagged_pdf_text,
    )

    fn = extract_tagged_pdf_text if tagged else extract_real_pdf_text

    def kernel(batches):
        for b in batches:
            rows = []
            for doc_id, payload in zip(b["doc_id"], b["pdf"]):
                t, ocr = fn(bytes(payload))
                rows.append((int(doc_id), t, ocr))
            yield pd.DataFrame(
                rows, columns=["doc_id", "extracted_text", "needs_ocr"]
            )

    return kernel


def pinned_queries() -> dict:
    """name -> (spark, parquet_path) -> DataFrame over the materialized
    (doc_id, pdf) corpus — the extraction-only arm of the data-pinned A/B.
    Runs THIS tree's extraction strategy (q58 keeps its KDF pre-seeding,
    which is part of the code under comparison) on bytes both arms share."""

    def make(name):
        def run(spark: SparkSession, path: str) -> DataFrame:
            # the materialized corpus is one small parquet file = ONE input
            # split; without the spread every per-doc AES/parse kernel
            # serializes onto a single core (measured: q58 pinned ran 5000
            # docs in 1 task, ~8s where ~1s is the 8-core number)
            df = _spread(spark.read.parquet(path).select("doc_id", "pdf"), "doc_id")
            base = _pinned_extract_kernel(
                tagged=(name == "q66_tagged_pdf_roundtrip")
            )
            if name == "q58_aes256_pdf_roundtrip":
                from .operators import pdftext

                engine_seed = _q58_engine_seeds(spark)

                def kernel(batches):
                    pdftext.seed_kdf(engine_seed)
                    yield from base(batches)

            elif name == "q60_password_pdf_roundtrip":
                # the R6 quarter of the q60 corpus validates a BOOK
                # password — seed its 2.B hashes (+ the empty probe) so
                # workers never pay the KDF, same as the entry query
                from . import spec
                from .operators import pdftext

                engine_seed = _q58_engine_seeds(
                    spark, 1, spec.KNOWN_USER_PASSWORDS[0]
                )

                def kernel(batches):
                    pdftext.seed_kdf(engine_seed)
                    yield from base(batches)

            elif name in (
                "q69_scanned_pdf_ocr_roundtrip",
                "q70_noisy_scan_ocr_roundtrip",
            ):
                # the scanned corpus measures the entry query's kernel:
                # extract + the fixture OCR rung in one call
                def kernel(batches):
                    for frame in batches:
                        yield _ocr_roundtrip_frame(frame["doc_id"], [
                            bytes(p).decode("latin-1") for p in frame["pdf"]
                        ])

                return df.mapInPandas(kernel, schema=_OCR_ROUNDTRIP_SCHEMA)

            elif name == "q71_render_pages_roundtrip":
                # the render corpus measures the executed render slice:
                # fixture render → strict PNG decode → template match
                from .operators.multimodal import render_pdf_pages_fixture
                from .operators.ocr import ocr_bitmap
                from .operators.raster import decode_png_gray

                def kernel(batches):
                    import pandas as pd

                    for frame in batches:
                        rows = []
                        for doc_id, pdf_bytes in zip(
                            frame["doc_id"], frame["pdf"]
                        ):
                            texts = []
                            for _, png in render_pdf_pages_fixture(
                                bytes(pdf_bytes)
                            ):
                                w, h, raw = decode_png_gray(png)
                                texts.append(ocr_bitmap(w, h, raw))
                            rows.append(
                                (int(doc_id), "\n".join(texts), False)
                            )
                        yield pd.DataFrame(
                            rows,
                            columns=[
                                "doc_id", "extracted_text", "needs_ocr",
                            ],
                        )

            else:
                kernel = base
            return df.mapInPandas(kernel, schema=_ROUNDTRIP_SCHEMA)

        return run

    return {name: make(name) for name in PINNED_PAYLOAD_BUILDERS}
