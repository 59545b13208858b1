"""Self-check harness: runs every __spark_entry__ query against its DuckDB
oracle at a given sf dir and reports row-count / schema / value equality —
a local emulation of the driver's CORRECTNESS gate.

Usage: python scripts/selfcheck.py [--dump-on-fail[=DIR]] [sf_dir] [query_name ...]

``--dump-on-fail`` (r6 verdict item 6 — make the transient q45 sf0.1 flake
diagnosable on first recurrence): on any failure, write a per-query dump
directory (default ``.selfcheck_dumps/<name>_<unix_ts>/``) containing the
executed plan, the spark/host environment (load average, memory, parallelism,
input file sizes), and the first diffing rows of both frames.
"""

from __future__ import annotations

import gc
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return round(v, 9)
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _sort_key(s: pd.Series) -> pd.Series:
    """The row-order key of one normalized column: ``"0" + str(x)``, or
    ``"1"`` for None, so cells sort as the tuples ``(x is None, str(x))``
    would, without building a tuple per cell. Only object columns hold
    None after ``_norm_cell``; a float column's NaN sorts as "nan"."""
    key = "0" + s.astype(str)
    return key.mask(s.isna(), "1") if s.dtype == object else key


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = pd.DataFrame({c: df[c].map(_norm_cell) for c in sorted(df.columns)})
    return df.sort_values(by=list(df.columns), key=_sort_key, ignore_index=True)


def _dump_failure(dump_root: str, name: str, sf_dir: str, spark, df=None,
                  got=None, exp=None, err: str | None = None) -> str:
    """First-failure artifact dump: executed plan (the final adaptive plan
    is visible because the frame's OWN toPandas action ran), host load,
    memory, parallelism, input file sizes, and the heads of both frames."""
    import time

    d = os.path.join(dump_root, f"{name}_{int(time.time())}")
    os.makedirs(d, exist_ok=True)
    if df is not None:
        try:
            with open(os.path.join(d, "plan.txt"), "w") as f:
                f.write(df._jdf.queryExecution().executedPlan().toString())
        except Exception as e:  # analysis-time failures have no plan
            with open(os.path.join(d, "plan.txt"), "w") as f:
                f.write(f"<no executed plan: {e}>")
    with open(os.path.join(d, "env.txt"), "w") as f:
        f.write(f"query: {name}\nsf_dir: {sf_dir}\n")
        f.write(f"loadavg: {os.getloadavg()}\n")
        f.write(f"defaultParallelism: {spark.sparkContext.defaultParallelism}\n")
        f.write(f"shuffle.partitions: {spark.conf.get('spark.sql.shuffle.partitions')}\n")
        try:
            with open("/proc/meminfo") as mi:
                f.write("".join(mi.readlines()[:5]))
        except OSError:
            pass
        for t in sorted(os.listdir(sf_dir)):
            p = os.path.join(sf_dir, t)
            sz = (sum(os.path.getsize(os.path.join(p, x)) for x in os.listdir(p))
                  if os.path.isdir(p) else os.path.getsize(p))
            f.write(f"input {t}: {sz} bytes\n")
        if err:
            f.write(f"\nerror: {err}\n")
    if got is not None:
        got.head(200).to_csv(os.path.join(d, "got_head.csv"), index=False)
    if exp is not None:
        exp.head(200).to_csv(os.path.join(d, "exp_head.csv"), index=False)
    if got is not None and exp is not None and len(got) == len(exp) \
            and sorted(got.columns) == sorted(exp.columns):
        g, e = _normalize(got), _normalize(exp)
        mask = (g.astype(object).fillna("∅") != e.astype(object).fillna("∅")).any(axis=1)
        pd.concat(
            [g[mask].head(50).add_prefix("got_"),
             e[mask].head(50).add_prefix("exp_")], axis=1,
        ).to_csv(os.path.join(d, "diff_rows.csv"), index=False)
    return d


def _check(name, fn, spark, con, sql, sf_dir, dump_root, cache_cap):
    """Run one query on Spark and its oracle on DuckDB and compare them.
    Returns (passed, persistent-RDD count after the Spark action, None if
    it failed). Every frame of the query lives in this call only."""
    df = None
    try:
        df = fn(spark, sf_dir)
        got = df.toPandas()
        n_cached = spark.sparkContext._jsc.getPersistentRDDs().size()
        if n_cached > cache_cap:
            print(f"[FAIL] {name}: {n_cached} persistent RDDs > cap {cache_cap} (cache leak)")
            return False, n_cached
    except Exception as e:
        print(f"[FAIL] {name}: spark error: {e}")
        if dump_root:
            print(f"  dump: {_dump_failure(dump_root, name, sf_dir, spark, df=df, err=str(e))}")
        return False, None
    if sql is None:
        print(f"[rows-only] {name}: {len(got)} rows")
        return True, n_cached
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"[FAIL] {name}: duckdb error: {e}")
        if dump_root:
            print(f"  dump: {_dump_failure(dump_root, name, sf_dir, spark, df=df, got=got, err=str(e))}")
        return False, n_cached
    status = []
    if len(got) != len(exp):
        status.append(f"rowcount {len(got)} != {len(exp)}")
    if sorted(got.columns) != sorted(exp.columns):
        status.append(f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
    if not status:
        g, e = _normalize(got), _normalize(exp)
        neq_cols = []
        for c in g.columns:
            if not g[c].equals(e[c]):
                mask = ~(g[c].astype(object).fillna("∅") == e[c].astype(object).fillna("∅"))
                n_bad = int(mask.sum())
                neq_cols.append((c, n_bad))
                idx = mask.idxmax()
                print(f"    col {c}: {n_bad} diffs; first: got={g[c][idx]!r} exp={e[c][idx]!r}")
        if neq_cols:
            status.append(f"value diffs in {neq_cols}")
    if status:
        print(f"[FAIL] {name}: {'; '.join(status)}")
        if dump_root:
            print(f"  dump: {_dump_failure(dump_root, name, sf_dir, spark, df=df, got=got, exp=exp, err='; '.join(status))}")
        return False, n_cached
    print(f"[OK]   {name}: {len(got)} rows")
    return True, n_cached


def main():
    args = list(sys.argv[1:])
    dump_root = None
    for a in list(args):
        if a == "--dump-on-fail" or a.startswith("--dump-on-fail="):
            dump_root = a.split("=", 1)[1] if "=" in a else ".selfcheck_dumps"
            args.remove(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entry
    from pdf_extraction_ai_agent_spark.session import get_spark

    # The driver JVM and this process's pandas frames share one host: a
    # heap capped below get_spark's 8g default leaves room for the largest
    # query's Spark and DuckDB frames side by side (sf0.1 q45: ~1M rows).
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    spark = get_spark(app_name="selfcheck", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    # storage-memory discipline: queries() releases the previous query's
    # tracked persists, so the persistent-RDD count must stay bounded by
    # ONE query's working set across the whole 44-query run (round-2
    # verdict item 3). CACHE_CAP = the largest single query's cache count
    # (q12: signatures + token table, plus slack).
    CACHE_CAP = 6
    max_cached = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        ok, n_cached = _check(name, fn, spark, con, oracles.get(name), sf_dir,
                              dump_root, CACHE_CAP)
        if n_cached is not None:
            max_cached = max(max_cached, n_cached)
        if not ok:
            failures.append(name)
        # the query's frames are freed on _check's return; collect their
        # cycles now so the next query's peak does not stack on them
        gc.collect()
    from pdf_extraction_ai_agent_spark.plans.cache import release_tracked

    release_tracked()
    print()
    print(f"peak persistent RDDs across run: {max_cached} (cap {CACHE_CAP})")
    if failures:
        print(f"FAILURES: {failures}")
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
