"""Round-7 KDF + encryption-precedence slice (r6 verdict item 2, advice
items 1-4): lazy pipeline default, password-book KDF seed coverage,
xref-stream-trailer salt parse, stale-/Encrypt precedence, and oracle
tagged-page dedup under append-saves."""

import re

import pytest
from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark import spec
from pdf_extraction_ai_agent_spark.fixtures import minipdf
from pdf_extraction_ai_agent_spark.operators import pdftext
from pdf_extraction_ai_agent_spark.operators.extract import (
    extract_real_pdf_text,
    extract_tagged_pdf_text,
)
from pdf_extraction_ai_agent_spark.oracle import reference_extractor as oracle


def test_pipeline_construction_is_lazy(spark):
    """extract_pipeline() with defaults is side-effect-free: building the
    plan runs NO Spark action (an eager KDF pre-pass by default paid a
    full scan of the text column on every call — r6 verdict item 2). A
    poison UDF in the text column fires on any eager evaluation."""
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    @F.udf("string")
    def boom(s):
        raise RuntimeError("plan construction ran an eager action")

    df = (
        spark.createDataFrame(
            [("c", 1, "u", "hello", "t")],
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        .withColumn("ts", F.current_timestamp())
        .withColumn("text", boom("text"))
    )
    out = extract_pipeline(df)  # must not evaluate anything
    assert "extracted_text" in out.columns


def test_precompute_seed_covers_password_book(spark, monkeypatch):
    """precompute_kdf_seed derives Algorithm 2.B entries for the EMPTY
    password AND every spec.KNOWN_USER_PASSWORDS candidate (advice r6 #1):
    a book-locked V5/R6 file then opens in workers with ZERO KDF calls."""
    from pdf_extraction_ai_agent_spark.plans.pipeline import precompute_kdf_seed

    locked = minipdf.write_encrypted_pdf(
        ["Claim WC-77 locked body"],
        owner_pwd=b"own",
        user_pwd=b"wc-lossrun",
        revision=6,
    )
    df = spark.createDataFrame([(locked.decode("latin-1"),)], "text string")
    seed = precompute_kdf_seed(df)
    vsalt, ksalt, _, _ = minipdf.r6_salts(1)
    for pwd in (b"",) + tuple(spec.KNOWN_USER_PASSWORDS):
        assert (pwd, vsalt, b"") in seed, pwd
        assert (pwd, ksalt, b"") in seed, pwd
    # value correctness for the password that opens the file (computed
    # BEFORE the no-compute guard is installed)
    assert seed[(b"wc-lossrun", vsalt, b"")] == pdftext._hash_2b_compute(
        b"wc-lossrun", vsalt
    )
    # the seeded entries open the book-locked file without re-deriving
    pdftext.seed_kdf(seed)

    def _no_compute(*a, **k):
        raise AssertionError("KDF recomputed despite a complete seed")

    monkeypatch.setattr(pdftext, "_hash_2b_compute", _no_compute)
    pages = pdftext.tokenize_pdf_runs(
        locked, passwords=tuple(spec.KNOWN_USER_PASSWORDS)
    )
    assert pages is not None
    joined = " ".join(s for page in pages for _, _, s in page)
    assert "Claim WC-77 locked body" in joined


def test_precompute_seed_mixed_corpus_keeps_only_r6_entries(spark):
    """Over a mixed corpus the seed holds exactly the R6 file's entries.
    The R3 (RC4) file passes the JVM-side /Encrypt filter but has no
    V5/R6 salts: its null salt row reaches the KDF stage (no filter on the
    UDF output, which would evaluate ``_salts`` twice) and must add
    nothing. The plaintext PDF and the plain turn never reach Python."""
    from pdf_extraction_ai_agent_spark.plans.pipeline import precompute_kdf_seed

    r6 = minipdf.write_encrypted_pdf(["Claim R6 body"], revision=6)
    r3 = minipdf.write_encrypted_pdf(["Claim R3 body"], revision=3)
    assert pdftext.aesv3_kdf_salts(r3) is None
    plain = minipdf.write_minimal_pdf(["Claim plain body"])
    texts = [d.decode("latin-1") for d in (r6, r3, plain)] + ["just a chat turn"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")

    seed = precompute_kdf_seed(df)
    vsalt, ksalt, _, _ = minipdf.r6_salts(1)
    pwds = (b"",) + tuple(spec.KNOWN_USER_PASSWORDS)
    assert len(seed) == 2 * (1 + len(spec.KNOWN_USER_PASSWORDS))
    # values from the fixture writer's own Algorithm 2.B twin
    assert seed == {
        (p, salt, b""): minipdf.hash_2b(p, salt) for p in pwds for salt in (vsalt, ksalt)
    }


def test_aesv3_salts_from_xref_stream_trailer():
    """aesv3_kdf_salts parses the modern trailer-less layout too (advice
    r6 #1): the q65 shape's /Encrypt lives in the xref STREAM dict."""
    modern = minipdf.write_encrypted_objstm_pdf(["Hello claim"], revision=6)
    assert b"trailer" not in modern  # genuinely trailer-less
    vsalt, ksalt, _, _ = minipdf.r6_salts(1)
    assert pdftext.aesv3_kdf_salts(modern) == vsalt + ksalt
    # the classic-trailer parse is unchanged
    classic = minipdf.write_encrypted_pdf(["Hello claim"], revision=6)
    assert pdftext.aesv3_kdf_salts(classic) == vsalt + ksalt
    # non-R6 shapes still yield None (no salts to pre-derive)
    rc4 = minipdf.write_encrypted_pdf(["Hello claim"], revision=3)
    assert pdftext.aesv3_kdf_salts(rc4) is None


def test_stale_xref_encrypt_ignored_when_classic_trailer_exists():
    """ISO 32000 precedence (advice r6 #3): the newest classic trailer
    governs. A file whose trailer carries no /Encrypt but whose stale
    xref-stream object still names one is NOT encrypted — 'decrypting'
    its plaintext streams would emit garbage (wrong text must never beat
    no text). Both twins, same answer."""
    plain = minipdf.write_minimal_pdf(["Stale xref body line"])
    stale = plain + (
        b"\n90 0 obj\n<< /Type /XRef /Size 9 /W [1 2 1] /Root 1 0 R "
        b"/Encrypt 89 0 R /ID [<aa> <aa>] /Length 0 >>\n"
        b"stream\n\nendstream\nendobj\n"
    )
    etext, eocr = extract_real_pdf_text(stale)
    assert (etext, eocr) == extract_real_pdf_text(plain)
    assert "Stale xref body line" in etext
    assert (etext, eocr) == oracle.extract_real_pdf(stale.decode("latin-1"))


TWO_COL = [
    (72, 720, "Claim C1"),
    (72, 704, "Body sample body"),
    (320, 730, "Part two"),
    (320, 714, "Total 1.00"),
]


def test_tagged_pdf_duplicate_page_object_once():
    """Append-save that re-emits a page object (tagged ∘ incremental
    composition — advice r6 #4): the engine's last-wins object map yields
    the page ONCE; the oracle's file-order /Type /Page scan must dedup by
    object number to match."""
    pdf = minipdf.write_tagged_pdf([TWO_COL])
    m = re.search(rb"\d+ 0 obj\n<< /Type /Page .*?endobj\n", pdf, re.S)
    assert m is not None
    mutated = pdf + b"\n" + m.group(0)
    etext, eocr = extract_tagged_pdf_text(mutated)
    otext, oocr = oracle.extract_tagged_pdf(mutated.decode("latin-1"))
    assert (etext, eocr) == (otext, oocr)
    assert (etext, eocr) == extract_tagged_pdf_text(pdf)  # page once
