"""A/B headline child: run the named entry queries once in a fresh JVM
against the code tree at ``root`` (HEAD or a baseline-commit worktree) and
print ONE JSON line ``{"queries": {name: sec|null}, "root": ...}``.

Used by bench.py's variance-proof protocol (round-3 verdict item 2): HEAD
and the previous round's commit run INTERLEAVED (B,H,B,H,...) in one bench
session, >=3 reps each, so multi-minute host-interference bursts land on
both arms equally and a machine drift can never masquerade as a per-query
regression. Queries absent from a tree's ``queries()`` (newer additions)
report null there.

Data-pinned arm (round-6 verdict item 2): when
``$SPARK_GRAFT_BENCH_PINNED_DIR`` holds a materialized (doc_id, pdf)
corpus for a query (written by scripts/bench_pin_corpus.py from HEAD's
generators), the child times extraction over THOSE bytes instead of the
arm's own fixture generator, through the arm's exported
``pinned_queries()``: each roundtrip query's own extraction path (its
rung and its KDF pre-seeding, code under test, stay in the measurement)
over input both arms share, so the ratio measures code, not corpus
drift. A pinned name the arm does not export reports null, as a missing
query does; every tree since the ``round 8:`` commit (bench.py's default
A/B base) exports one for each roundtrip query.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    root, sf_dir, cpus = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]
    root = os.path.abspath(root)
    os.chdir(root)
    sys.path.insert(0, root)

    from pyspark.sql import functions as F

    from pdf_extraction_ai_agent_spark.session import get_spark

    spark = get_spark(
        app_name="bench_ab_child", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    import __spark_entry__ as entry

    qs = entry.queries()
    pinned_dir = os.environ.get("SPARK_GRAFT_BENCH_PINNED_DIR") or ""
    pq_export = getattr(entry, "pinned_queries", None)
    pinned_fns = pq_export() if pq_export else {}
    pinned_ran: list[str] = []

    def run(name: str) -> float | None:
        # per-query isolation: a query this arm cannot run — e.g. the BASE
        # arm extracting a pinned corpus whose newest carrier shapes only
        # HEAD parses (bit us: r7's q64 rotation matrices made the r6 base
        # kernel raise and took the whole arm down) — reports null instead
        # of killing the child and losing every other measurement
        try:
            ppath = os.path.join(pinned_dir, name) if pinned_dir else ""
            if ppath and os.path.isdir(ppath) and name in qs:
                fn = pinned_fns.get(name)
                if fn is None:
                    return None
                if name not in pinned_ran:
                    pinned_ran.append(name)
                t0 = time.monotonic()
                df = fn(spark, ppath)
            else:
                fn = qs.get(name)
                if fn is None:
                    return None
                t0 = time.monotonic()
                df = fn(spark, sf_dir)
            # same full-evaluation action as bench.py's in-process headline
            df.agg(
                F.count(F.lit(1)),
                F.max(F.xxhash64(*[F.col(c) for c in df.columns])),
            ).collect()
            return round(time.monotonic() - t0, 3)
        except Exception as e:
            print(f"# {name}: {type(e).__name__}: {e}"[:200], file=sys.stderr)
            return None

    # untimed warmup: python-worker imports + codegen paid before timing
    warm = next((n for n in names if n in qs), None)
    if warm:
        run(warm)

    out = {n: run(n) for n in names}
    # JSON FIRST, stop second: if the JVM died mid-run (task OOM during a
    # host burst), every later query already degraded to null via run()'s
    # isolation — but spark.stop() then raises, and printing after it would
    # lose the whole arm's evidence (bit us: r7 snapshot recorded "base
    # child failed" over one transient executor death).
    print(json.dumps({"queries": out, "root": root, "pinned": sorted(pinned_ran)}))
    try:
        spark.stop()
    except Exception:
        pass


if __name__ == "__main__":
    main()
