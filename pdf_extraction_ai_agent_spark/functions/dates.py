"""U1/U2 date normalization (reference: parse_fields.py:33-38,
excel_lob_consolidator.py:31-36, mock_storage.py:63-85).

The reference calls ``dateutil.parse(..., fuzzy=True)`` per value. The Spark
plan keeps it native: a ``coalesce(to_date(...fmt_i))`` ladder over the
observed format corpus (FIXTURES.md §dates) compiled into whole-stage
codegen; a value every format misses is NULL. The Python twin
(``normalize_date_py``, which validates date spans inside the extract
kernel) keeps dateutil as its last rung.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Observed date formats (FIXTURES.md date corpus). Java DateTimeFormatter
# patterns for the Spark ladder; strptime equivalents for the python helper.
_JAVA_FORMATS = [
    # month-first wins (dateutil dayfirst=False); day-first formats follow so
    # they only fire when the month slot is invalid (e.g. '21-02-2024') —
    # exactly dateutil's fallback behavior.
    "M/d/yyyy", "M-d-yyyy", "d/M/yyyy", "d-M-yyyy", "M/d/yy", "M-d-yy",
    "MMMM d, yyyy", "MMM d, yyyy", "yyyy-M-d", "yyyy/M/d",
]
_PY_FORMATS = ["%m/%d/%Y", "%m-%d-%Y", "%d/%m/%Y", "%d-%m-%Y", "%m/%d/%y", "%m-%d-%y",
               "%B %d, %Y", "%b %d, %Y", "%Y-%m-%d", "%Y/%m/%d"]


import re as _re
from datetime import date as _date

_NUMERIC_DATE = _re.compile(r"^(\d{1,2})([/-])(\d{1,2})\2(\d{2,4})$")
_MONTHNAME_DATE = _re.compile(r"^([A-Za-z]{3,9})\s+(\d{1,2}),\s+(\d{4})$")
_MONTHS = {}
for _i, (_full, _abbr) in enumerate(
    [("january", "jan"), ("february", "feb"), ("march", "mar"), ("april", "apr"),
     ("may", "may"), ("june", "jun"), ("july", "jul"), ("august", "aug"),
     ("september", "sep"), ("october", "oct"), ("november", "nov"), ("december", "dec")],
    start=1,
):
    _MONTHS[_full] = _i
    _MONTHS[_abbr] = _i


def _ymd(y: int, m: int, d: int) -> str | None:
    try:
        return _date(y, m, d).isoformat()
    except ValueError:
        return None


def _normalize_date_fast(s: str) -> str | None | bool:
    """Exception-free fast path replicating the strptime ladder EXACTLY for
    the common shapes (uniform-separator numerics, 'Month DD, YYYY').
    Returns False when the shape is outside the fast path (caller falls back
    to the full ladder + dateutil). Parity is enforced by a differential
    hypothesis test."""
    m = _NUMERIC_DATE.match(s)
    if m:
        a, _sep, b, y = int(m.group(1)), m.group(2), int(m.group(3)), m.group(4)
        if len(y) == 4:
            # ladder order: %m?%d?%Y then %d?%m?%Y
            return _ymd(int(y), a, b) or _ymd(int(y), b, a) or False
        if len(y) == 2:
            # only month-first 2-digit formats exist in the ladder
            yy = int(y)
            year = 2000 + yy if yy <= 68 else 1900 + yy  # strptime %y pivot
            return _ymd(year, a, b) or False  # else dateutil fallback
        return False  # 3-digit years → slow path
    m = _MONTHNAME_DATE.match(s)
    if m:
        mon = _MONTHS.get(m.group(1).lower())
        if mon:
            return _ymd(int(m.group(3)), mon, int(m.group(2))) or False
        return False
    return False


def normalize_date_py(raw: str | None) -> str | None:
    """Python-side twin of the ladder (used inside the extraction UDF to
    validate date-span candidates)."""
    if not raw:
        return None
    from datetime import datetime

    s = raw.strip()
    fast = _normalize_date_fast(s)
    if fast:  # str result — ladder-equivalent, no exceptions burned
        return fast
    for fmt in _PY_FORMATS:
        try:
            return datetime.strptime(s, fmt).strftime("%Y-%m-%d")
        except ValueError:
            continue
    try:
        from dateutil import parser as date_parser

        return date_parser.parse(s, dayfirst=False, yearfirst=False, fuzzy=True).strftime(
            "%Y-%m-%d"
        )
    except Exception:
        return None


def _try_fmt(trimmed: Column, fmt: str) -> Column:
    c = F.try_to_timestamp(trimmed, F.lit(fmt)).cast("date")
    if fmt.endswith("yy") and not fmt.endswith("yyyy"):
        # Java's reduced-year 'yy' bases at 2000 (00-99 → 2000-2099) while
        # strptime's %y pivots 69-99 → 19xx; post-adjust so the native
        # ladder, normalize_date_py and the DuckDB oracles all agree.
        # (-1200 months = exactly 100 years; 2069-2099 → 1969-1999 crosses
        # no century, so leap-day validity is preserved.)
        c = F.when(F.year(c) >= 2069, F.add_months(c, -1200)).otherwise(c)
    return c


def normalize_date_col(col: Column) -> Column:
    """``yyyy-MM-dd`` string or NULL; the ladder is pure codegen."""
    trimmed = F.trim(col)
    ladder = F.coalesce(*[_try_fmt(trimmed, fmt) for fmt in _JAVA_FORMATS])
    return F.date_format(ladder, "yyyy-MM-dd")


def date_to_folder_format(col: Column) -> Column:
    """U2 — any supported format → DDMMYYYY (mock_storage.py:63-85)."""
    clean = F.regexp_replace(col.cast("string"), r"[-/.\s]", "")
    parsed = F.coalesce(
        F.try_to_timestamp(clean, F.lit("ddMMyyyy")),
        F.try_to_timestamp(F.trim(col.cast("string")), F.lit("d-M-yyyy")),
        F.try_to_timestamp(F.trim(col.cast("string")), F.lit("d/M/yyyy")),
        F.try_to_timestamp(F.trim(col.cast("string")), F.lit("yyyy-M-d")),
        F.try_to_timestamp(clean, F.lit("yyyyMMdd")),
    )
    return F.coalesce(F.date_format(parsed, "ddMMyyyy"), clean)
