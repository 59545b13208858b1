"""Seeded, cached transcript corpora built only from the fixtures' public
generators.

Each conversation ``i`` is ``conv_rows(i, random.Random(seed * 1_000_003 + i),
...)``, the seeding ``distributed_transcripts`` uses, so a ``mixed`` corpus
holds exactly the rows ``distributed_transcripts(spark, n_convs, seed,
skew_factor=...)`` would for the same number of conversations. Generation runs in this process without Spark,
which keeps the JVM a run measures free of generation work.

A corpus is a parquet directory ``<cache>/corpus/<workload>-s<seed>-t<turns>/data``
with a ``meta.json`` beside it holding the turn count and a content hash
(the order-insensitive ``count:bit_xor(hash(...))`` scheme of
``bench.py::_corpus_content_hash``). The same (workload, seed, size) always
yields the same rows, so a cached corpus is reused across runs.
"""

from __future__ import annotations

import json
import os
import random
import shutil

# per-conversation rng seeding of fixtures.transcripts.distributed_transcripts
_CONV_SEED_STRIDE = 1_000_003
# parquet files per corpus: the input splits a scan plans
N_FILES = 4


def content_hash(path: str) -> tuple[int, str]:
    """(rows, hash) of a transcripts parquet directory."""
    import duckdb

    con = duckdb.connect()
    try:
        n, h = con.sql(
            "SELECT count(*), bit_xor(hash(conv_id, turn_idx, ts, text, tool)) "
            f"FROM read_parquet('{path}/*.parquet')"
        ).fetchone()
    finally:
        con.close()
    return int(n), f"{n}:{(h or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


def generate(kind: str, turns: int, seed: int, skew_factor: int):
    """The corpus of one workload kind as a pandas frame with the T1 schema:
    conversations 0, 1, ... until at least ``turns`` turns, so every seed
    yields nearly the same amount of work.

    ``mixed``: ``distributed_transcripts``' payload mix (no real PDFs).
    ``realpdf``: the golden suite's mix, ``conv_rows(...,
    include_real_pdf=True)``, with ~15% of turns real PDF bytes. In both,
    conversation 0 is a ``30 * skew_factor``-turn outlier.
    """
    import pandas as pd

    from pdf_extraction_ai_agent_spark.fixtures.transcripts import conv_rows

    if kind not in ("mixed", "realpdf"):
        raise ValueError(f"unknown corpus kind {kind!r}")
    rows: list[dict] = []
    i = 0
    while len(rows) < turns:
        rng = random.Random(seed * _CONV_SEED_STRIDE + i)
        rows.extend(conv_rows(i, rng, True, skew_factor,
                              include_real_pdf=kind == "realpdf"))
        i += 1
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    # UTC-adjusted so Spark reads a TIMESTAMP column (naive ones read as
    # TIMESTAMP_NTZ); sessions pin spark.sql.session.timeZone=UTC
    pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC").astype("datetime64[us, UTC]")
    return pdf


def _write(pdf, data: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data)
    bounds = [len(pdf) * k // N_FILES for k in range(N_FILES + 1)]
    for k in range(N_FILES):
        part = pdf.iloc[bounds[k]:bounds[k + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(data, f"part-{k:05d}.parquet"))


def ensure(cache_dir: str, name: str, kind: str, turns: int, seed: int,
           skew_factor: int) -> dict:
    """Metadata of the cached corpus (``path``, ``turns``,
    ``content_hash``), generating it on a miss."""
    path = os.path.join(cache_dir, "corpus", f"{name}-s{seed}-t{turns}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    data = os.path.join(path, "data")
    pdf = generate(kind, turns, seed, skew_factor)
    _write(pdf, data)
    n, h = content_hash(data)
    meta = {"path": data, "turns": n, "content_hash": h,
            "conversations": int(pdf["conv_id"].nunique()),
            "seed": seed, "kind": kind, "skew_factor": skew_factor}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def record_digest(meta: dict, digest: str) -> None:
    """Remember the output digest of this corpus on its first gated run as
    ``meta['output_digest']``, the digest every later run must reproduce."""
    meta_path = os.path.join(os.path.dirname(meta["path"]), "meta.json")
    with open(meta_path) as f:
        stored = json.load(f)
    if "output_digest" not in stored:
        stored["output_digest"] = digest
        with open(meta_path, "w") as f:
            json.dump(stored, f)
    meta["output_digest"] = stored["output_digest"]
