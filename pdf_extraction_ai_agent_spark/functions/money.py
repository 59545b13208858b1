"""U4 — money coercion as a native expression.

Reference: streamlit_e2e_app.py:379-397 (_coerce_money).

U4 returns DECIMAL(18,2) rather than double so cluster-scale aggregation is
exact and order-independent (a 100 TB sum of doubles is not reproducible
across shuffle orders; decimal is).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money_coerce_col(col: Column) -> Column:
    """U4 — strip '$ , space'; '(x)' → -x; ''/'-' → 0.0; junk → 0.0.

    DECIMAL(18,2) output (see module docstring).
    """
    zero = F.lit(0).cast("decimal(18,2)")
    s = F.trim(col.cast("string"))
    is_paren = s.startswith("(") & s.endswith(")")
    inner = F.when(is_paren, F.regexp_replace(s, r"^\((.*)\)$", "$1")).otherwise(s)
    cleaned = F.regexp_replace(inner, r"[$, ]", "")
    # try_cast, not cast: under Spark 4's default ANSI mode a plain cast
    # THROWS on junk ("12.3.4") instead of yielding NULL — latent until a
    # fixture produced a merged two-number cell (q46)
    num = cleaned.try_cast("decimal(18,2)")  # junk → NULL
    signed = F.when(is_paren, -num).otherwise(num)
    return F.when(col.isNull() | cleaned.isin("", "-"), zero).otherwise(F.coalesce(signed, zero))
