"""F1/F2/U8 — field-parse projections as native Catalyst expressions.

Reference: src/claim_extractor/parse_fields.py:25-67 (first-match regex
ladders + confidence). No UDFs: ``regexp_extract``/``coalesce``/``when``
compile into whole-stage codegen.

The flagship pipeline no longer runs the F2 ladders here: the extract
kernel parses claim_number/name/date/confidence in Python ``re``
(operators/extract.py ``_parse_fields``), the reference's own regex
engine, on text it already holds. These Catalyst ladders are Java regex
and diverge from the reference (``parse_fields_oracle``) where the text
leaves ASCII:

- ``(?i)`` folds ASCII case only: ``'Claım No: ABC12345'`` (dotless ı)
  finds no claim, where Python folds ı, İ and ſ onto i/s;
- ``\\s`` is ASCII whitespace only: ``'Claim No:\\xa0ABC12345'`` and
  ``'Claimant:\\xa0John Smith'`` find nothing across the no-break space;
- ``\\d`` is ASCII digits only: ``'Loss date ٣/14/2024'`` finds no date;
- the date ladder has no dateutil rung: ``'Sept 5, 2024'`` is NULL.

``claim_number_col``/``date_col`` still serve q01, and
``with_parsed_fields`` is perfbench's ``fields.job_s`` probe.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .. import spec
from .dates import normalize_date_col


def _first_match(col: Column, patterns: list[str]) -> Column:
    """coalesce(regexp_extract(p1), regexp_extract(p2), ...) with ''→NULL
    (Spark's regexp_extract returns '' on no-match)."""
    return F.coalesce(*[F.nullif(F.regexp_extract(col, p, 1), F.lit("")) for p in patterns])


def claim_number_col(text: Column) -> Column:
    return _first_match(text, spec.CLAIM_PATTERNS)


def name_col(text: Column) -> Column:
    return _first_match(text, spec.NAME_PATTERNS)


def raw_date_col(text: Column) -> Column:
    """First DATE_PATTERN hit (parse_fields ladder — raw string)."""
    return _first_match(text, spec.DATE_PATTERNS)


def date_col(text: Column) -> Column:
    """Normalized yyyy-MM-dd of the first date hit (parse_fields.py:58-59)."""
    return normalize_date_col(raw_date_col(text))


def confidence_col(claim: Column, name: Column, date: Column) -> Column:
    """0.4·has(claim) + 0.3·has(name) + 0.3·has(date), 2dp
    (parse_fields.py:41-49)."""
    w = spec.CONFIDENCE_WEIGHTS
    return F.round(
        F.when(claim.isNotNull(), F.lit(w["claim_number"])).otherwise(F.lit(0.0))
        + F.when(name.isNotNull(), F.lit(w["name"])).otherwise(F.lit(0.0))
        + F.when(date.isNotNull(), F.lit(w["date"])).otherwise(F.lit(0.0)),
        2,
    )


def with_parsed_fields(df, text_col: str = "extracted_text"):
    """F2 — append claim_number / name / date / confidence columns."""
    text = F.col(text_col)
    claim = claim_number_col(text)
    name = name_col(text)
    date = date_col(text)
    return (
        df.withColumn("claim_number", claim)
        .withColumn("name", name)
        .withColumn("date", date)
        .withColumn(
            "confidence",
            confidence_col(F.col("claim_number"), F.col("name"), F.col("date")),
        )
    )


# --- record-level regexes (regex_extractor.py:7-9) -------------------------


def record_claim_no_col(chunk: Column) -> Column:
    return F.nullif(F.regexp_extract(chunk, spec.CLAIM_NO_PAT, 1), F.lit(""))


def record_amount_col(chunk: Column) -> Column:
    """'$' + first AMOUNT_PAT group (regex_extractor.py:31-33)."""
    g = F.nullif(F.regexp_extract(chunk, spec.AMOUNT_PAT, 1), F.lit(""))
    return F.when(g.isNotNull(), F.concat(F.lit("$"), g))


def record_reason_col(chunk: Column) -> Column:
    return F.nullif(F.trim(F.regexp_extract(chunk, spec.REASON_PAT, 1)), F.lit(""))


def record_date_col(chunk: Column) -> Column:
    """First DATE_PATTERN whose match normalizes (regex_extractor.py:40-46):
    coalesce over normalize(extract(p_i))."""
    return F.coalesce(
        *[
            normalize_date_col(F.nullif(F.regexp_extract(chunk, p, 1), F.lit("")))
            for p in spec.DATE_PATTERNS
        ]
    )
