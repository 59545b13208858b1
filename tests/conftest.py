import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pdf_extraction_ai_agent_spark.session import get_spark

    spark = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def transcripts_pdf():
    from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts

    return generate_transcripts(n_convs=30, seed=42, skew=True, skew_factor=10)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA).cache()


@pytest.fixture(scope="session")
def golden_pdf(transcripts_pdf):
    """Expected output from the vendored reference-semantics oracle."""
    from pdf_extraction_ai_agent_spark.oracle import extract_turn_frame

    return extract_turn_frame(transcripts_pdf)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def no_openssl(monkeypatch):
    """Force the engine and the writer onto their pure-Python ciphers."""
    from pdf_extraction_ai_agent_spark.fixtures import minipdf
    from pdf_extraction_ai_agent_spark.operators import pdftext

    monkeypatch.setattr(pdftext, "_OPENSSL", False)
    monkeypatch.setattr(minipdf, "_W_OPENSSL", False)
