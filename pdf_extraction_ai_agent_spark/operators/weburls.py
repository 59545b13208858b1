"""URL canonicalization for web-corpus curation.

Web-scale training pipelines dedup and filter by URL before they ever touch
document bytes (CommonCrawl-style curation: one fetch per canonical URL,
per-host budgets, blocklists).  The canonicalizer here is the standard
conservative recipe — lowercase scheme/host, strip default ports, drop
fragments, remove tracking query parameters, trim empty query/trailing
slash, fold the bare ``www.`` alias — implemented entirely as Catalyst
regexp expressions (map-only, whole-stage codegen; no UDF, no shuffle), so
the DuckDB oracle replays it verbatim.

Scale shape: canonicalization is a narrow map; the host budget shuffles on
the canonical host (bounded-cardinality key).  Nothing here looks at document
content, so at 100 TB this runs over the URL column alone (column pruning
keeps the scan narrow).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that never change content identity (tracking only).
TRACKING_PARAM_PAT = r"(utm_[a-z]+|fbclid|gclid|msclkid|ref_src)=[^&#]*"

_PREFIX_PAT = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)"

# The canonicalization chain AFTER the prefix-lowercasing step, as pure
# data (pattern, replacement-with-$n-groups) so the Spark expression and
# the DuckDB oracle SQL iterate the SAME table in the SAME order.  No
# lookaheads anywhere: the DuckDB twin runs RE2, which has none.
CANON_STEPS: list[tuple[str, str]] = [
    (r"#.*$", ""),                                   # fragment
    (TRACKING_PARAM_PAT, ""),                        # tracking params
    (r"\?&+", "?"),                                  # re-glue separators
    (r"&&+", "&"),
    (r"[?&]+$", ""),
    (r"^(http://[^/?#:]*):80($|[/?#].*)", "$1$2"),   # default ports
    (r"^(https://[^/?#:]*):443($|[/?#].*)", "$1$2"),
    (r"^([a-z+.-]*://)www\.", "$1"),                 # bare www alias
    (r"^([a-z+.-]*://[^/?#]*/[^?#]*[^/?#])/($|\?.*)", "$1$2"),  # trailing /
]


def canonical_url_col(url: Column) -> Column:
    """Canonical form of one URL column: lowercase the scheme://host[:port]
    prefix (path/query stay as-is), then apply CANON_STEPS in order."""
    prefix = F.lower(F.regexp_extract(url, _PREFIX_PAT, 1))
    rest = F.regexp_replace(url, _PREFIX_PAT, "")
    u = F.concat(prefix, rest)
    for pat, repl in CANON_STEPS:
        u = F.regexp_replace(u, pat, repl)
    return u


def canonical_url_sql(expr: str) -> str:
    """DuckDB twin of canonical_url_col over the SAME step table.  DuckDB
    regexp_replace needs the explicit 'g' flag (Spark's is always global)
    and \\n group references (Spark uses $n)."""
    u = (
        f"(lower(regexp_extract({expr}, '{_PREFIX_PAT}', 1)) || "
        f"regexp_replace({expr}, '{_PREFIX_PAT}', '', 'g'))"
    )
    for pat, repl in CANON_STEPS:
        duck_repl = repl.replace("$", "\\")
        u = f"regexp_replace({u}, '{pat}', '{duck_repl}', 'g')"
    return u


HOST_PAT = r"^[a-z+.-]*://([^/?#:]*)"


def host_col(canon_url: Column) -> Column:
    """Host (no port) of an already-canonicalized URL."""
    return F.regexp_extract(canon_url, HOST_PAT, 1)


def canonicalize_urls(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, url) → + (canon_url, host).  Map-only."""
    canon = canonical_url_col(F.col(url_col)).alias("canon_url")
    return df.select(
        "*", canon
    ).withColumn("host", host_col(F.col("canon_url")))


def host_budget(urls: DataFrame, k: int = 5) -> DataFrame:
    """Per-host fetch budget: keep at most ``k`` canonical URLs per host,
    chosen by a deterministic hash priority (CommonCrawl-style politeness
    budgeting — a mega-host must not dominate the frontier, and the pick
    must be reproducible across runs, so no rand()).

    Scale shape: the frontier is DISTINCT canonical URLs (two-stage
    distinct), then the per-group top-k is the literal
    ``row_number().over(w) <= k`` filter ADJACENT to its window, which
    Catalyst turns into a map-side ``WindowGroupLimit … Partial`` below
    the exchange — each upstream task forwards at most k rows per host,
    so a skewed host never concentrates its full URL set on one reducer
    (plan pinned in tests).
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_long_col

    w = Window.partitionBy("host").orderBy(
        md5_long_col(F.col("canon_url")).asc(), F.col("canon_url").asc()
    )
    return (
        urls.select("host", "canon_url")
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("host", F.col("rk").cast("int").alias("rk"), "canon_url")
    )
