"""F6/F8 registry search + J3 LOB→recipient broadcast join.

Reference: mock_storage.py:124-191 (search_files: fuzzy account, LOB alias
resolution, partial policy, normalized-date equality),
streamlit_agent_reference_app.py:230-274 (criteria AND-filter),
email_agent.py:33-39 + lob_email_mapping.csv (LOB → recipients dim).

Criteria are driver-side scalars (they come from one parsed user query), so
search compiles to plain `filter`s over the registry table — Catalyst pushes
them into the scan. The recipients dim is tiny → broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import spec
from ..functions.dates import date_to_folder_format
from ..functions.textnorm import fuzzy_match


def resolve_lob_alias(lob: str | None) -> str | None:
    """mock_storage.py:149-151 — lowercase + alias table."""
    if not lob:
        return None
    norm = lob.lower().strip()
    return spec.LOB_ALIASES.get(norm, norm)


def search_files(registry: DataFrame, account: str | None = None, lob: str | None = None,
                 policy: str | None = None, date: str | None = None) -> DataFrame:
    """F6 — flexible registry search. Empty criteria match everything."""
    out = registry
    if account:
        out = out.filter(fuzzy_match(F.lit(account), F.col("account")))
    lob_norm = resolve_lob_alias(lob)
    if lob_norm:
        out = out.filter(F.lower(F.trim(F.col("lob"))) == lob_norm)
    if policy:
        out = out.filter(fuzzy_match(F.lit(policy), F.col("policy_number")))
    if date:
        out = out.filter(
            date_to_folder_format(F.col("effective_date"))
            == date_to_folder_format(F.lit(date))
        )
    return out


def with_recipients(df: DataFrame, lob_emails: DataFrame, lob_col: str = "lob") -> DataFrame:
    """J3 — broadcast join against the LOB→email dim (email_agent.py:33-39)."""
    return df.join(
        F.broadcast(lob_emails.withColumnRenamed("lob", "_lob")),
        F.upper(F.col(lob_col)) == F.upper(F.col("_lob")),
        "left",
    ).drop("_lob")


def folder_path(df: DataFrame) -> DataFrame:
    """Path scheme Account/LOB/Policy-DDMMYYYY (mock_storage.py:112-121)."""
    return df.withColumn(
        "folder_path",
        F.concat_ws(
            "/",
            F.col("account"),
            F.col("lob"),
            F.concat_ws("-", F.col("policy_number"), date_to_folder_format(F.col("effective_date"))),
        ),
    )
