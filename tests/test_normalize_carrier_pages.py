"""F12/X5 normalization, F9/F10 carrier, X2 pages, A7 chunk merge, X6 WC
tabular, F6/J3 registry — semantics mirrored from the reference (cited in
each operator module)."""

import pytest
from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.operators import (
    carrier,
    chunkmerge,
    normalize,
    pages,
    registry,
    wc_tabular,
)


# --- F12 / X5 ---------------------------------------------------------------


def test_normalize_auto_tables(spark):
    tables = [
        {
            "headers": ["Claim Number", "Loss Date", "Paid Loss", "Reserve", "ALAE"],
            "data": [
                ["ABC-111", "03/12/2024", "$1,000.00", "$50", "$5"],
                ["ABC-222", "bad-date", "$2,000.00", "", ""],
                # NOTE: an all-empty row is KEPT when a doc-level carrier
                # exists — carrier is part of rec.values() in the reference
                # (claude_pdf_extractor.py:829-841), so any() is true
                ["", "", "", "", ""],
            ],
        },
        {
            # substring alignment: 'total paid amount' contains 'total paid'
            "headers": ["Ref", "DOL", "Total Paid Amount"],
            "data": [["ZX9-88/776", "12-04-2023", "123.45"]],
        },
    ]
    df = spark.createDataFrame(
        [(1, "Evaluation Date: 01/15/2024 Carrier: Acme Insurance Co", tables)],
        "doc_id long, pdf_text string, tables array<struct<headers:array<string>,data:array<array<string>>>>",
    )
    out = normalize.normalize_tables(df, "AUTO").orderBy("table_pos", "row_pos").collect()
    assert len(out) == 4
    empty_row = out[2]
    assert empty_row.claim_number == "" and empty_row.carrier == "Acme Insurance Co"
    out = [out[0], out[1], out[3]]
    r0 = out[0]
    assert r0.evaluation_date == "2024-01-15"
    assert r0.carrier == "Acme Insurance Co"
    assert r0.claim_number == "ABC-111"
    assert r0.loss_date == "2024-03-12"
    assert r0.paid_loss == "$1,000.00"
    assert out[1].loss_date == "bad-date"  # passthrough on unparsable
    r2 = out[2]
    assert r2.claim_number == "ZX9-88/776"
    assert r2.loss_date == "2023-12-04"  # dayfirst fallback like dateutil
    assert r2.paid_loss == "123.45"


def test_find_col_idx_priority(spark):
    """Exact candidate priority beats substring; substring picks FIRST
    header (excel_lob_consolidator.py:39-50)."""
    df = spark.createDataFrame([(["Total Paid", "Paid"],), (["X Paid Loss Y", "Z Paid W"],)],
                               "h array<string>")
    got = df.select(
        normalize.find_col_idx_col(F.col("h"), ["paid loss", "paid", "total paid"]).alias("i")
    ).collect()
    # row1: exact 'paid' at idx 2 wins over substring 'total paid' at idx 1
    assert got[0].i == 2
    # row2: no exact → first substring-containing header
    assert got[1].i == 1


# --- F9 / F10 ---------------------------------------------------------------


def test_carrier_from_text(spark):
    df = spark.createDataFrame(
        [("Carrier: Global Shield Mutual\nmore",),
         ("Handled by Evergreen Insurance Co today",),
         ("Insured: Smith Logistics",),
         ("nothing here",)],
        "text string",
    )
    got = [r.c for r in df.select(carrier.carrier_from_text(F.col("text")).alias("c")).collect()]
    assert got[0] == "Global Shield Mutual"
    # the reference's IGNORECASE suffix pattern greedily matches from the
    # start of the sentence — faithful behavior, not a bug here
    assert got[1] == "Handled by Evergreen Insurance Co"
    assert got[2] == "Smith Logistics"
    assert got[3] is None


def test_carrier_from_filename(spark):
    df = spark.createDataFrame(
        [("/data/Evergreen_Insurance_loss_run_2024.pdf",),
         ("docs/State Farm report.pdf",),
         ("in/Acme Brokers loss run.pdf",),
         ("x/loss_run_2024.pdf",)],
        "path string",
    )
    got = [r.c for r in df.select(carrier.carrier_from_filename(F.col("path")).alias("c")).collect()]
    assert got[0] == "Evergreen Insurance"
    assert got[1] == "State Farm"
    assert got[2] == "Acme Brokers"   # token scan stops at 'loss'
    assert got[3] is None             # all tokens stop-worded/numeric


# --- X2 ---------------------------------------------------------------------


def test_split_pages(spark):
    text = "--- PAGE 1 ---\nalpha\nbeta\n--- PAGE 2 ---\ngamma"
    df = spark.createDataFrame([(1, 0, text), (1, 1, "no markers")],
                               "conv_id long, turn_idx int, extracted_text string")
    got = {(r.conv_id, r.turn_idx, r.page_no): r.page_text
           for r in pages.split_pages(df).collect()}
    assert got[(1, 0, 1)] == "alpha\nbeta"
    assert got[(1, 0, 2)] == "gamma"
    assert got[(1, 1, 1)] == "no markers"


# --- A7 ---------------------------------------------------------------------


def test_merge_chunks_first_nonempty_and_dup_retention(spark):
    rows = [
        (1, 2, "", "CarrierB", ["c3"]),
        (1, 0, "", "", ["c1", "c2"]),
        (1, 1, "2024-01-01", "CarrierA", ["c1"]),  # duplicate c1 kept
        (2, 0, "", "", []),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, evaluation_date string, carrier string, claims array<string>"
    )
    got = {r.doc_id: r for r in chunkmerge.merge_chunks(df).collect()}
    assert got[1].evaluation_date == "2024-01-01"   # first non-empty in chunk order
    assert got[1].carrier == "CarrierA"             # chunk 1 beats chunk 2
    assert got[1].claims == ["c1", "c2", "c1", "c3"]  # order + duplicates kept
    assert got[2].claims == []


# --- X6 ---------------------------------------------------------------------


def test_wc_tabular(spark):
    text = (
        "Evaluation Date: 06-30-2024\n"
        "Carrier: Keystone Mutual\n"
        "Claim Number    Loss Date    Indemnity Paid    Medical Paid    ALAE\n"
        "W12345    01/02/2023    indemnity 1,200.00    medical 300.50    alae 12.00\n"
        "short line\n"
    )
    df = spark.createDataFrame([(1, 0, text)], "conv_id long, turn_idx int, extracted_text string")
    got = wc_tabular.wc_claims(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r.evaluation_date == "06-30-2024"
    assert r.carrier == "Keystone Mutual"
    assert r.claim_number == "W12345"
    assert r.loss_date == "01/02/2023"
    assert r.Indemnity_paid_loss == "1,200.00"
    assert r.Medical_paid_loss == "300.50"
    assert r.ALAE == "12.00"


# --- F6 / F7 / J3 -----------------------------------------------------------


@pytest.fixture(scope="module")
def reg(spark):
    rows = [
        ("Chubbs", "AUTO", "2456", "21-09-2024", "claim_report.pdf"),
        ("Chubbs", "WC", "2456", "21-09-2024", "workers_comp_claim.pdf"),
        ("Amex", "PROPERTY", "7890", "15-10-2024", "property_damage_report.pdf"),
        ("TechCorp", "WC", "1234", "01-08-2024", "workplace_injury.pdf"),
    ]
    return spark.createDataFrame(
        rows, "account string, lob string, policy_number string, effective_date string, filename string"
    )


def test_registry_search_fuzzy_and_alias(reg):
    # partial account, LOB alias 'workers comp' → wc, any-format date
    got = registry.search_files(reg, account="chub", lob="workers comp").collect()
    assert len(got) == 1 and got[0].filename == "workers_comp_claim.pdf"
    got = registry.search_files(reg, policy="245").collect()
    assert len(got) == 2
    got = registry.search_files(reg, date="21/09/2024").collect()
    assert len(got) == 2
    assert registry.search_files(reg).count() == 4


def test_registry_folder_path_and_recipients(spark, reg):
    fp = {r.filename: r.folder_path for r in registry.folder_path(reg).collect()}
    assert fp["claim_report.pdf"] == "Chubbs/AUTO/2456-21092024"
    emails = spark.createDataFrame(
        [("AUTO", "auto-team@example.com"), ("WC", "wc-team@example.com")], "lob string, email string"
    )
    got = {r.filename: r.email for r in registry.with_recipients(reg, emails).collect()}
    assert got["claim_report.pdf"] == "auto-team@example.com"
    assert got["workplace_injury.pdf"] == "wc-team@example.com"
    assert got["property_damage_report.pdf"] is None
