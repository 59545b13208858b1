"""X1 record split + F3 per-record parse + F4 empty filter — native Spark.

Reference: regex_extractor.py:12-55 (blank-line split → per-chunk regexes →
keep iff any field hit). Spark shape:

    posexplode(split(text, '\\n\\s*\\n+'))  →  regexp_extract per field
                                            →  filter(any non-null)

``posexplode`` preserves document order (W1: the reference's "claims in
document order" contract, claude_pdf_extractor.py:513) — ``record_pos`` is
the 0-based chunk position within the turn. No shuffle: explode + projections
are a single narrow stage fused by whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import spec
from ..functions.fields import (
    record_amount_col,
    record_claim_no_col,
    record_date_col,
    record_reason_col,
)


def split_records(
    df: DataFrame,
    text_col: str = "extracted_text",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """One row per claim record, keyed by (*keep_cols, record_pos)."""
    keep_cols = keep_cols if keep_cols is not None else ["conv_id", "turn_idx"]
    chunks = F.split(F.trim(F.col(text_col)), spec.RECORD_SPLIT_PAT)
    exploded = df.select(
        *[F.col(c) for c in keep_cols],
        F.posexplode(chunks).alias("record_pos", "chunk"),
    )
    parsed = exploded.select(
        *keep_cols,
        "record_pos",
        record_claim_no_col(F.col("chunk")).alias("claim_number"),
        record_amount_col(F.col("chunk")).alias("amount"),
        record_reason_col(F.col("chunk")).alias("reason"),
        record_date_col(F.col("chunk")).alias("date"),
    )
    # F4 (regex_extractor.py:48): keep iff any field matched
    return parsed.filter(
        F.coalesce("claim_number", "amount", "reason", "date").isNotNull()
    )
