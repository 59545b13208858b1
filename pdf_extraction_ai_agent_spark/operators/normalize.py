"""F12 header→schema alignment + X5 table-rows flatten + per-LOB
normalization — fully declarative (no driver-side schema collection, so a
billion extracted tables normalize in one narrow stage).

Reference semantics (claude_pdf_extractor.py:793-806 `_find_col_idx`,
:809-844 `normalize_auto_records`, :867-905 GL, :924-926 WC=GL;
twin at excel_lob_consolidator.py:39-50):

- column resolution: EXACT lowercase match of any candidate (candidate
  priority order), else FIRST header that CONTAINS any candidate
- rows: element_at(resolved idx), str.strip, ''-filled; loss_date
  normalized (fuzzy date → yyyy-MM-dd, passthrough on failure)
- keep row iff any field non-empty
- envelope: evaluation_date / carrier regexes over the full document text
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dates import normalize_date_col

# evaluation-date + carrier envelope patterns (claude_pdf_extractor.py:19-24,
# excel_lob_consolidator.py:53-58)
EVALUATION_DATE_PAT = (
    r"(?i)\b(?:evaluation\s*date|as\s*of|report\s*date|run\s*date|valuation\s*date)\s*[:\-]?\s*"
    r"([A-Za-z]{3,9}\s+\d{1,2},\s*\d{4}|\d{1,2}[/-]\d{1,2}[/-]\d{2,4}|\d{4}[/-]\d{1,2}[/-]\d{1,2})"
)
# NOTE: the reference applies re.IGNORECASE to ALL three patterns — incl.
# the [A-Z]-anchored one, which therefore matches from lowercase text too
# (text_lob_llm_extractor.py:71-81); parity demands the same here.
CARRIER_TEXT_PATS = [
    r"(?i)\b(?:carrier|company|insurer|provider)\s*[:\-]\s*([A-Za-z0-9 &'.\-/]+)",
    r"(?i)\b([A-Z][A-Za-z0-9 &'.\-/]+(?:Insurance|Ins|Corp|Corporation|Company|Co|LLC|Inc))\b",
    r"(?i)\b(?:Policy\s*holder|Insured)\s*[:\-]\s*([A-Za-z0-9 &'.\-/]+)",
]

# candidate lists per field per LOB (claude_pdf_extractor.py:815-821, 885-893)
AUTO_FIELDS = {
    "claim_number": ["claim number", "claim no", "claim#", "reference", "ref"],
    "loss_date": ["loss date", "date of loss", "dol", "accident date"],
    "paid_loss": ["paid loss", "paid", "indemnity paid", "total paid"],
    "reserve": ["reserve", "reserves", "loss reserve", "remaining reserve"],
    "alae": ["alae", "allocated loss adjustment expense", "expense", "total expense"],
    "carrier_cell": ["carrier", "company", "insurer", "provider"],
}
GL_FIELDS = {
    "claim_number": ["claim number", "claim no", "claim#", "reference", "ref"],
    "loss_date": ["loss date", "date of loss", "dol", "accident date"],
    "bi_paid_loss": ["bodily injury paid loss", "bi paid", "paid bodily injury"],
    "pd_paid_loss": ["property damage paid loss", "pd paid", "paid property damage"],
    "bi_reserve": ["bodily injury reserves", "bi reserve", "bodily injury reserve"],
    "pd_reserve": ["property damage reserves", "pd reserve", "property damage reserve"],
    "alae": ["alae", "allocated loss adjustment expense", "expense", "total expense"],
    "carrier_cell": ["carrier", "company", "insurer", "provider"],
}
# WC uses the GL set (claude_pdf_extractor.py:924-926)
LOB_FIELD_CANDIDATES = {"AUTO": AUTO_FIELDS, "PROPERTY": AUTO_FIELDS, "GL": GL_FIELDS, "WC": GL_FIELDS}


def find_col_idx_col(headers: Column, candidates: list[str]) -> Column:
    """1-based resolved column index or NULL — the _find_col_idx contract:
    exact match in candidate-priority order, then first header containing
    any candidate."""
    lower = F.transform(headers, lambda h: F.lower(F.trim(h)))
    exact = F.coalesce(
        *[F.nullif(F.array_position(lower, F.lit(c.lower())), F.lit(0)) for c in candidates]
    )

    def contains_any(h: Column) -> Column:
        cond = None
        for c in candidates:
            cc = h.contains(c.lower())
            cond = cc if cond is None else (cond | cc)
        return cond

    substr_hits = F.filter(
        F.sequence(F.lit(1), F.size(lower)),
        lambda i: contains_any(F.element_at(lower, i)),
    )
    substr = F.when(F.size(substr_hits) > 0, F.element_at(substr_hits, 1))
    return F.coalesce(exact, substr).cast("int")


def _cell(row: Column, idx: Column) -> Column:
    """str(r[i]).strip() with bounds/NULL → '' (reference ''-fill)."""
    val = F.when(idx.isNotNull() & (idx <= F.size(row)), F.trim(F.element_at(row, idx)))
    return F.coalesce(val, F.lit(""))


def _norm_date_passthrough(raw: Column) -> Column:
    """_normalize_date_str: yyyy-MM-dd on success, input on failure, ''-safe."""
    return F.coalesce(normalize_date_col(F.nullif(raw, F.lit(""))), raw)


def normalize_tables(df: DataFrame, lob: str, doc_col: str = "doc_id",
                     text_col: str = "pdf_text", tables_col: str = "tables") -> DataFrame:
    """tables: array<struct<headers array<string>, data array<array<string>>>>
    → one normalized all-string claim row per table row (X5), with the
    per-document envelope (evaluation_date, carrier) replicated (J1 —
    a struct projection, no join)."""
    fields = LOB_FIELD_CANDIDATES[lob.upper()]
    eval_raw = F.nullif(F.regexp_extract(F.col(text_col), EVALUATION_DATE_PAT, 1), F.lit(""))
    evaluation_date = F.coalesce(_norm_date_passthrough(F.trim(eval_raw)), F.lit(""))
    carrier_doc = F.coalesce(
        *[F.nullif(F.trim(F.regexp_extract(F.col(text_col), p, 1)), F.lit("")) for p in CARRIER_TEXT_PATS],
        F.lit(""),
    )

    t = df.select(
        F.col(doc_col).alias("doc_id"),
        evaluation_date.alias("evaluation_date"),
        carrier_doc.alias("doc_carrier"),
        F.posexplode(F.col(tables_col)).alias("table_pos", "t"),
    ).filter((F.size("t.headers") > 0) & (F.size("t.data") > 0))

    idx_cols = {f: find_col_idx_col(F.col("t.headers"), cands).alias(f"i_{f}")
                for f, cands in fields.items()}
    t = t.select("doc_id", "evaluation_date", "doc_carrier", "table_pos",
                 F.col("t.data").alias("data"), *idx_cols.values())

    r = t.select(
        "doc_id", "evaluation_date", "doc_carrier", "table_pos",
        *[F.col(f"i_{f}") for f in fields],
        F.posexplode("data").alias("row_pos", "row"),
    )

    out_fields = [f for f in fields if f != "carrier_cell"]
    rec_cols = []
    for f in out_fields:
        v = _cell(F.col("row"), F.col(f"i_{f}"))
        if f == "loss_date":
            v = F.when(F.col("i_loss_date").isNotNull() & (F.col("i_loss_date") <= F.size("row")),
                       _norm_date_passthrough(F.trim(F.element_at(F.col("row"), F.col("i_loss_date")))))
            v = F.coalesce(v, F.lit(""))
        rec_cols.append(v.alias(f))
    carrier = F.when(F.col("doc_carrier") != "", F.col("doc_carrier")).otherwise(
        _cell(F.col("row"), F.col("i_carrier_cell"))
    )

    rec = r.select(
        "doc_id", "evaluation_date", "table_pos", "row_pos",
        carrier.alias("carrier"), *rec_cols,
    )
    # keep iff any normalized value non-empty (reference `any(rec.values())`;
    # carrier counts — it is part of the rec dict)
    any_nonempty = F.coalesce(
        *[F.nullif(F.col(c), F.lit("")) for c in ["carrier", *out_fields]]
    ).isNotNull()
    return rec.filter(any_nonempty)
