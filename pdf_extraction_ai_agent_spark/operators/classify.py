"""C1/C2/C3 — LOB classification.

Reference:
- C1 single-label keyword scorer  claude_pdf_extractor.py:92-132
  (count occurrences of each LOB's keyword list in UPPER(text), argmax,
  'UNKNOWN' when all zero; ties resolved in dict order AUTO → GL → WC,
  matching Python's max() over insertion-ordered dicts)
- C2 multi-label membership       text_lob_llm_extractor.py:231-244
  (padded-token membership; ['AUTO'] fallback — the production path runs
  with use_llm=False, text_lob_llm_extractor.py:556)
- C3 LOB from a name              excel_lob_consolidator.py:10-20

C1 and C2 are ONE pure-Python keyword scorer (``score_lobs``): the text is
uppercased once, C1 sums C-level ``str.count`` per LOB keyword list and C2
tests each padded token with ``in``. The extraction kernel
(``extract_turn_batch(..., with_fields=True)``) runs it on the text it just
extracted, so the flagship pipeline's ``lob``/``lobs`` ride the kernel's
existing Arrow round trip. ``classify_lob_c1`` / ``classify_lobs_c2`` are
thin pandas UDFs over the same scorer for Column callers (q03, q35).

Why not Catalyst: keyword counting built on ``UTF8String``
(``split``/``contains``) is a byte-by-byte loop, and C2's ``array_compact``
is an interpreted higher-order function that pulls its whole
30-``contains`` argument subtree out of codegen. On perfbench's 20k-turn
``extract_mixed`` corpus at local[2] (4-vCPU host) the two Catalyst
ladders took 3.2-3.7 s as a single-layer job; this scorer takes 0.6
CPU-s for the same texts. C3 stays a short native CASE over a sheet name.

Module top stays free of pandas (registry import path, see CLAUDE.md).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from .. import spec

LOBS_TYPE = ArrayType(StringType())

# (label, keywords) in tiebreak order — tuples so the hot loops never
# touch the spec dicts
_C1 = tuple((lob, tuple(spec.LOB_PATTERNS_C1[lob])) for lob in spec.LOB_C1_ORDER)
_C2 = tuple((lob, tuple(toks)) for lob, toks in spec.LOB_HITS_C2.items())


def lob_c1(up: str) -> str:
    """C1 on an uppercased text: the first LOB with the highest total
    keyword count (``str.count`` — non-overlapping, and a nested keyword
    such as "AUTO" inside "AUTO LIABILITY" counts on its own); 'UNKNOWN'
    when every count is zero."""
    best, best_score = "UNKNOWN", 0
    for lob, kws in _C1:
        s = sum(map(up.count, kws))
        if s > best_score:  # strict: earlier LOBs win ties
            best, best_score = lob, s
    return best


def lobs_c2(up: str) -> list[str]:
    """C2 on an uppercased text: every LOB with a token hit, in fixed
    order AUTO, GENERAL LIABILITY, WC; ['AUTO'] when none hits."""
    return [lob for lob, toks in _C2 if any(map(up.__contains__, toks))] or ["AUTO"]


def _upper(t) -> str:
    # NULL (None / NaN from pandas) classifies like the empty string
    return t.upper() if isinstance(t, str) else ""


def score_lobs(texts: Iterable) -> tuple[list[str], list[list[str]]]:
    """(C1 labels, C2 label lists) for a batch of texts, one upper() each."""
    lob: list[str] = []
    lobs: list[list[str]] = []
    for t in texts:
        up = _upper(t)
        lob.append(lob_c1(up))
        lobs.append(lobs_c2(up))
    return lob, lobs


def classify_lob_c1(text: Column) -> Column:
    """C1 as a Column: argmax of keyword-occurrence scores; UNKNOWN if all
    zero (pandas UDF over ``lob_c1``)."""
    import pandas as pd

    def _c1(s):  # unannotated: the default Series → Series pandas UDF
        return pd.Series([lob_c1(_upper(t)) for t in s], index=s.index, dtype=object)

    return F.pandas_udf(_c1, StringType())(text)


def classify_lobs_c2(text: Column) -> Column:
    """C2 as a Column: array of LOB labels by padded-token membership;
    ['AUTO'] fallback (pandas UDF over ``lobs_c2``)."""
    import pandas as pd

    def _c2(s):  # unannotated: the default Series → Series pandas UDF
        return pd.Series([lobs_c2(_upper(t)) for t in s], index=s.index, dtype=object)

    return F.pandas_udf(_c2, LOBS_TYPE)(text)


def classify_lob_from_name(name: Column) -> Column:
    """C3 (excel_lob_consolidator.py:10-20): keyword membership on an
    uppercased sheet/file name."""
    up = F.upper(name)
    return (
        F.when(up.contains("AUTO"), F.lit("AUTO"))
        .when(up.contains("WC") | up.contains("WORKER"), F.lit("WC"))
        .when(up.contains("GL") | up.contains("GENERAL") | up.contains("LIABILITY"), F.lit("GL"))
        .when(up.contains("PROPERTY"), F.lit("PROPERTY"))
        .otherwise(F.lit("UNKNOWN"))
    )
