"""Query pack 5: embedding-cosine near-dup (dedup family), IVF ANN
assignments, event sessionization."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .entry_queries import _spread, _t
from .entry_queries_ext import _COS_SQL, _md5l, lsh_sig_ctes
from .operators import sessions, similarity


# ---------------------------------------------------------------------------
# q36 — embedding-cosine near-duplicate pairs (sign-LSH blocked + exact verify)
# ---------------------------------------------------------------------------

_NEARDUP_T = 0.35  # random-embedding corpus: top-of-distribution pairs


def q36_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup: band-bucket equi-join candidates + exact
    fixed-point cosine verify — no all-pairs join anywhere (plan pinned in
    tests/test_plan_shapes.py; recall vs the all-pairs form pinned in
    tests/test_dedup_similarity.py)."""
    # demo geometry pinned: the DuckDB twin replays 16 planes × 2-bit
    # bands, and the low demo threshold needs the wide-recall buckets
    return similarity.embedding_near_dup_pairs(
        _spread(_t(spark, sf_dir, "embeddings"), "vec_id"),
        threshold=_NEARDUP_T,
        n_planes=similarity.N_PLANES, band_bits=similarity.BAND_BITS,
    )


def _q36_sql() -> str:
    cos = _COS_SQL.format(a="a.q", b="b.q")
    return f"""
WITH {lsh_sig_ctes()},
cand AS (
  SELECT DISTINCT l.vid AS id_a, r.vid AS id_b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_key = r.band_key AND l.vid < r.vid
)
SELECT c.id_a, c.id_b, {cos} AS cosine
FROM cand c JOIN base a ON c.id_a = a.vid JOIN base b ON c.id_b = b.vid
WHERE {cos} >= {_NEARDUP_T}
"""


# ---------------------------------------------------------------------------
# q37 — IVF coarse-quantizer assignments (the ANN scale-path partitioner)
# ---------------------------------------------------------------------------


def q37_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded integer k-means centroids (similarity._ivf_fit_centroids) +
    max-cosine assignment; the DuckDB oracle unrolls the same Lloyd
    iterations in exact arithmetic."""
    return similarity.ivf_assignments(
        _spread(_t(spark, sf_dir, "embeddings"), "vec_id"), n_centroids=16
    )


def ivf_fit_ctes(n_centroids: int = 16) -> tuple[str, str, str]:
    """DuckDB twin of similarity._ivf_fit_centroids + ivf_assignments as
    reusable CTEs: md5-strided seeds, IVF_ITERS unrolled Lloyd rounds in
    exact integer arithmetic, final max-cosine assignment. Returns
    (ctes_sql, final_centroids_cte, final_assignment_cte) — the
    assignment CTE carries (vid, q, centroid_id, cosine). Shared by the
    q37 (assignments) and q84 (probe search) oracles."""
    dim = similarity.EMB_DIM

    def assign(cents: str, name: str, final: bool = False) -> str:
        cos = _COS_SQL.format(a="b.q", b="c.cq")
        cols = "vid, q, centroid_id" + (", cosine" if final else "")
        return f"""{name} AS (
  SELECT {cols} FROM (
    SELECT b.vid, b.q, c.centroid_id, {cos} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY b.vid ORDER BY {cos} DESC, c.centroid_id ASC) AS rnk
    FROM base b CROSS JOIN {cents} c
  ) WHERE rnk = 1
)"""

    def update(assigned: str, prev: str, name: str) -> str:
        return f"""{name} AS (
  SELECT c.centroid_id, COALESCE(nc.cq, c.cq) AS cq
  FROM {prev} c LEFT JOIN (
    SELECT centroid_id,
           list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY j) AS cq
    FROM (
      SELECT centroid_id, u.j AS j, SUM(q[CAST(u.j AS INTEGER)]) AS s, COUNT(*) AS n
      FROM {assigned}, LATERAL (SELECT unnest(range(1, {dim + 1})) AS j) u
      GROUP BY 1, 2
    )
    GROUP BY centroid_id
  ) nc USING (centroid_id)
)"""

    iters = []
    for i in range(similarity.IVF_ITERS):
        iters.append(assign(f"cents{i}", f"a{i}"))
        iters.append(update(f"a{i}", f"cents{i}", f"cents{i + 1}"))
    cents_final = f"cents{similarity.IVF_ITERS}"
    final = assign(cents_final, "afinal", final=True)
    iters_sql = ",\n".join(iters)
    ctes = f"""base AS (
  SELECT vec_id AS vid,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}) AS BIGINT)) AS q
  FROM embeddings
),
cents0 AS (SELECT vid AS centroid_id, q AS cq FROM base
           ORDER BY {_md5l("'seed:' || vid")}, vid LIMIT {n_centroids}),
{iters_sql},
{final}"""
    return ctes, cents_final, "afinal"


def _q37_sql(n_centroids: int = 16) -> str:
    ctes, _cents, assigned = ivf_fit_ctes(n_centroids)
    return f"""
WITH {ctes}
SELECT vid AS vec_id, centroid_id, cosine AS centroid_cosine FROM {assigned}
"""


# ---------------------------------------------------------------------------
# q84 — IVF probe-pruned ANN search (the scale-path query on top of q37)
# ---------------------------------------------------------------------------

_IVF_QUERY_IDS = [0, 1, 2, 3, 4]
_IVF_NPROBE = 4


def q84_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN top-k (similarity.cosine_topk_ivf): one seeded
    integer k-means fit threaded through assignment AND probe selection,
    candidates limited to each query's nprobe closest centroids'
    partitions, exact integer-cosine re-rank via the two-stage
    WindowGroupLimit top-k. The DuckDB twin replays the unrolled Lloyd
    fit (ivf_fit_ctes) plus the same probe/prune/re-rank in exact
    arithmetic — so the PRUNING itself is oracle-checked, not just the
    final neighbor set."""
    return similarity.cosine_topk_ivf(
        _spread(_t(spark, sf_dir, "embeddings"), "vec_id"),
        query_ids=_IVF_QUERY_IDS, k=10,
        n_centroids=16, nprobe=_IVF_NPROBE,
    )


def _q84_sql(n_centroids: int = 16, nprobe: int = _IVF_NPROBE, k: int = 10) -> str:
    ctes, cents_final, assigned = ivf_fit_ctes(n_centroids)
    qcos = _COS_SQL.format(a="qs.qv", b="c.cq")
    vcos = _COS_SQL.format(a="cand.qv", b="cand.q")
    ids = ", ".join(map(str, _IVF_QUERY_IDS))
    return f"""
WITH {ctes},
qs AS (SELECT vid AS query_id, q AS qv FROM base WHERE vid IN ({ids})),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT qs.query_id, qs.qv, c.centroid_id, {qcos} AS ccos,
           ROW_NUMBER() OVER (PARTITION BY qs.query_id
                              ORDER BY {qcos} DESC, c.centroid_id ASC) AS rnk
    FROM qs CROSS JOIN {cents_final} c
  ) WHERE rnk <= {nprobe}
),
cand AS (
  SELECT DISTINCT p.query_id, p.qv, v.vid, v.q
  FROM {assigned} v JOIN probes p USING (centroid_id)
  WHERE v.vid != p.query_id
),
ranked AS (
  SELECT query_id, vid AS neighbor_id, {vcos} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY {vcos} DESC, vid ASC) AS rank
  FROM cand
)
SELECT query_id, rank, neighbor_id, cosine FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# q38 — gap-based sessionization + per-session rollup
# ---------------------------------------------------------------------------


def q38_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = sessions.session_stats(_t(spark, sf_dir, "events"), gap_minutes=30)
    return out.select(
        "user_id", "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
    )


_Q38_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
numbered AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_seq
"""
