"""Query pack 6: the flagship extraction under the oracle gate (q39) and
the dedup keep-list policy (q40)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _t
from .operators import dedup


# ---------------------------------------------------------------------------
# q39 — the flagship HTML-boilerplate-strip extraction, oracle-checked:
# documents wrapped in a FIXED boilerplate page (same construction as
# __spark_entry__._flagship) → full pipeline → per-turn rows. The DuckDB
# twin replays the spec scoring rules on the same wrapper.
# ---------------------------------------------------------------------------


def q39_flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import __spark_entry__ as entry

    out = entry._flagship(spark, sf_dir)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("turn_pos").cast("long").alias("turn_pos"),
        "extracted_text", "needs_ocr", "payload_kind", "lob",
    )


_Q39_SQL = """
WITH wrapped AS (
  SELECT 'conv-' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
         doc_id AS turn_idx,
         trim(regexp_replace(text, '\\s+', ' ', 'g')) AS content
  FROM documents
),
-- spec scoring on the fixed wrapper: nav and footer blocks are link-
-- dominated (density > 0.35) → dropped; the single <p> block is kept iff
-- its collapsed text is >= 25 chars (no links inside → density 0)
extracted AS (
  SELECT conv_id, turn_idx,
         CASE WHEN length(content) >= 25 THEN content ELSE '' END AS extracted_text,
         false AS needs_ocr,
         'html' AS payload_kind
  FROM wrapped
)
SELECT conv_id, turn_idx,
       ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS turn_pos,
       extracted_text, needs_ocr, payload_kind,
       'UNKNOWN' AS lob
FROM extracted
"""


# ---------------------------------------------------------------------------
# q40 — dedup keep-list: drop the larger id of every near-dup pair
# ---------------------------------------------------------------------------


def q40_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list over the LSH→exact-verified jaccard pairs (same production
    pair source as q12 — no quadratic in-block enumeration)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    full = _t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(full, hash_impl="md5")  # oracle replays md5
    pairs = dedup.jaccard_pairs(
        full, pairs=dedup.lsh_candidates(sig), threshold=0.8, unit="shingle"
    )
    return dedup.dedup_keep_list(docs, pairs)


def _q40_sql() -> str:
    from .entry_queries_ext import _q12_sql

    return f"""
WITH losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({_q12_sql()})
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN losers USING (doc_id)
WHERE losers.doc_id IS NULL
"""
