"""U10 — string normalizers for fuzzy matching.

Reference: mock_storage.py:88-109.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_fuzzy(col: Column) -> Column:
    """lower/strip then alnum-only (mock_storage.py:88-109 _normalize +
    clean step of _fuzzy_match)."""
    return F.regexp_replace(F.lower(F.trim(col)), "[^a-z0-9]", "")


def fuzzy_match(search: Column, target: Column) -> Column:
    """Bidirectional containment on normalized and alnum-cleaned forms
    (mock_storage.py:95-109). NULL/empty search ⇒ match-all."""
    s_norm = F.lower(F.trim(search))
    t_norm = F.lower(F.trim(target))
    s_clean = norm_fuzzy(search)
    t_clean = norm_fuzzy(target)
    return (
        search.isNull()
        | (s_norm == "")
        | t_norm.contains(s_norm)
        | s_norm.contains(t_norm)
        | t_clean.contains(s_clean)
        | s_clean.contains(t_clean)
    )
