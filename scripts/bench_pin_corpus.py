"""Materialize the pinned roundtrip corpora for the data-pinned A/B.

Builds each named roundtrip query's (doc_id, pdf) payload corpus ONCE
over the sf documents table, through the build half of THIS tree's
roundtrip kernel (``entry_roundtrips.pinned_corpus``: the row's payload
builder, as the live query runs it), and writes it as parquet under
``out_dir/<name>``. Both A/B arms then extract the SAME bytes (bench.py
passes the directory via ``$SPARK_GRAFT_BENCH_PINNED_DIR``), so a ratio
measures extraction code, not fixture-generator drift between commits —
round-5's q49/q51/q54 "regressions" were exactly that confound (VERDICT
r5, item 2). Names that are not roundtrip rows are skipped.

Usage: bench_pin_corpus.py <out_dir> <sf_dir> <cpus> <name> [name...]
Prints ONE JSON line {"pinned": {name: rows|"cached"}, "dir": out_dir}.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    out_dir, sf_dir, cpus = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)

    from pdf_extraction_ai_agent_spark.entry_roundtrips import (
        ROUNDTRIPS,
        pinned_corpus,
    )
    from pdf_extraction_ai_agent_spark.session import get_spark

    wanted = [n for n in names if n in ROUNDTRIPS]
    todo = [n for n in wanted if not os.path.isdir(os.path.join(out_dir, n))]
    counts: dict[str, object] = {
        n: "cached" for n in wanted if n not in todo
    }
    if todo:
        spark = get_spark(
            app_name="bench_pin_corpus",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
        )
        docs = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .select("doc_id", "text")
            # many output FILES, not one: the sf documents parquet is a
            # single ~MB file → one split → the pinned corpus would also be
            # one file, and BOTH A/B arms would then extract 5000 docs on a
            # single core (q56/q58 measured ~6s serial where the parallel
            # path is <1s — a serial artifact, not extraction code). With
            # 4×cpus files the arms' readers parallelize naturally and no
            # arm needs its own repartition (old trees stay comparable).
            .repartition(4 * cpus)
        )
        for name in todo:
            dest = os.path.join(out_dir, name)
            tmp = dest + ".tmp"
            pinned_corpus(docs, name).write.mode("overwrite").parquet(tmp)
            counts[name] = spark.read.parquet(tmp).count()
            os.rename(tmp, dest)  # atomic: a killed run never half-pins
        spark.stop()
    print(json.dumps({"pinned": counts, "dir": out_dir}))


if __name__ == "__main__":
    main()
