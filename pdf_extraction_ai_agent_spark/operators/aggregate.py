"""A3/A4 — the summary/query layer over parsed claim records (the A1/A2
per-LOB rollup is q06's inline aggregate, with the column set its DuckDB
twin pins).

Reference: streamlit_e2e_app.py:1058/:1082-1089 (top-N, frequency).

All are built-in hash aggregates: Spark performs partial (map-side) then
final aggregation — no custom UDAFs needed, and top-N compiles to
TakeOrderedAndProject (no full sort at 100 TB).
Money totals use DECIMAL for order-independent exactness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import money_coerce_col


def top_claims_by_loss(df: DataFrame, n: int = 10, loss_col: str = "amount",
                       claim_col: str = "claim_number") -> DataFrame:
    """A3 — groupBy(claim).sum(loss) → top-N (streamlit_e2e_app.py:1058).
    Deterministic tiebreak on claim_number so results are stable."""
    return (
        df.filter(F.col(claim_col).isNotNull())
        .groupBy(F.col(claim_col).alias("claim_number"))
        .agg(F.sum(money_coerce_col(F.col(loss_col))).cast("decimal(18,2)").alias("total_loss"))
        .orderBy(F.col("total_loss").desc(), F.col("claim_number").asc())
        .limit(n)
    )


def claim_frequency(df: DataFrame, n: int = 20, claim_col: str = "claim_number") -> DataFrame:
    """A4 — duplicate-claim frequency top-N (streamlit_e2e_app.py:1087-1089)."""
    return (
        df.filter(F.col(claim_col).isNotNull())
        .groupBy(F.col(claim_col).alias("claim_number"))
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy(F.col("n_records").desc(), F.col("claim_number").asc())
        .limit(n)
    )


def page_analysis(pages: DataFrame, doc_col: str = "conv_id",
                  page_text_col: str = "page_text") -> DataFrame:
    """A6 — per-document aggregates over per-page stats (avg chars/lines,
    tabular-line ratio) with routing-threshold booleans
    (table_type_detector.py:130-179 shape)."""
    text = F.col(page_text_col)
    n_lines = F.size(F.split(text, "\n"))
    tabular_lines = F.size(F.regexp_extract_all(text, F.lit(r"(?m)^.*\S {2,}\S.*$"), 0))
    per_page = pages.select(
        F.col(doc_col).alias("doc"),
        F.length(text).alias("chars"),
        n_lines.alias("lines"),
        tabular_lines.alias("tab_lines"),
    )
    agg = per_page.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.round(F.avg("chars"), 2).alias("avg_chars"),
        F.round(F.avg("lines"), 2).alias("avg_lines"),
        F.sum("tab_lines").alias("total_tab_lines"),
        F.round(
            F.sum("tab_lines").cast("double") / F.greatest(F.sum("lines"), F.lit(1)), 6
        ).alias("tabular_ratio"),
    )
    return agg.withColumn("looks_tabular", F.col("tabular_ratio") > 0.3)


def strategy_counters(df: DataFrame, strategy_col: str = "strategy",
                      success_col: str = "success") -> DataFrame:
    """A9 — knowledge-base counters: per-strategy attempt/success counts
    (agentic_processor.py:353-378), as a metrics-table aggregation."""
    return df.groupBy(F.col(strategy_col).alias("strategy")).agg(
        F.count(F.lit(1)).alias("attempts"),
        F.count(F.when(F.col(success_col), 1)).alias("successes"),
        F.round(
            F.count(F.when(F.col(success_col), 1)).cast("double")
            / F.count(F.lit(1)), 6
        ).alias("success_rate"),
    )


def field_accuracy(paired: DataFrame, fields: list[tuple[str, str, str]]) -> DataFrame:
    """A5 — per-field exact-match ratios over a positional pairing
    (compare_models.py:46-66). ``fields`` = (name, pred_col, truth_col)."""
    aggs = [
        F.round(F.avg(F.when(F.col(p) == F.col(t), 1).otherwise(0)), 3).alias(name)
        for name, p, t in fields
    ]
    return paired.agg(*aggs)
