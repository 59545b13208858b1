"""The extraction path's Python workers never import pandas.

pyarrow 16 imports pandas on any ``pa.array`` call (its pandas shim), and a
worker that loads it holds ~35-50 MiB more. The extract kernel and the KDF
pre-pass therefore read their input with ``to_pylist`` and build their
output with ``extract.arrow_column``. Pinned at two levels, each in a
fresh interpreter: the UDF body run directly, and the Python workers of a
real ``local[1]`` session."""

import json
import os
import random
import subprocess
import sys

from pdf_extraction_ai_agent_spark.fixtures.transcripts import (
    _html_payload,
    _labeled_payload,
    _pdf_payload,
    _real_pdf_payload,
)
from pdf_extraction_ai_agent_spark.operators.extract import extract_turn_batch

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_KERNEL_BODY = r"""
import json, sys
import pyarrow as pa
from pdf_extraction_ai_agent_spark.operators import extract
from pdf_extraction_ai_agent_spark.plans import pipeline  # noqa: F401

texts, tools = json.load(sys.stdin)
kernel = extract._arrow_kernel(True, True, None, None)
out = kernel(extract.arrow_column(texts, pa.string()), extract.arrow_column(tools, pa.string()))
print(json.dumps([out.to_pylist(), "pandas" in sys.modules]))
"""


def test_udf_body_imports_no_pandas():
    """The extract UDF body over every payload kind plus an error row (a
    truncated real PDF): the output equals the off-Spark kernel's, and the
    interpreter that ran it has not imported pandas."""
    rng = random.Random(16)
    real = _real_pdf_payload(rng)
    rows = [(None, None), ("", "t"), ("  plain turn  ", None),
            (_labeled_payload(rng), "t"), (_html_payload(rng), "html_paste"),
            (_pdf_payload(rng), "pdf_upload"), (_pdf_payload(rng, near_empty=True), None),
            (real, "pdf_upload"), (real[:200], "pdf_upload")]
    texts, tools = [r[0] for r in rows], [r[1] for r in rows]
    out = subprocess.run([sys.executable, "-c", _KERNEL_BODY], cwd=ROOT, input=json.dumps(
        [texts, tools]), capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    got, pandas_loaded = json.loads(out.stdout.strip().splitlines()[-1])
    assert pandas_loaded is False

    assert {r["payload_kind"] for r in got} == {"plain", "html", "pdf", "pdf_real"}
    assert got[-1]["error"] and all(r["error"] is None for r in got[:-1])
    exp = extract_turn_batch(texts, tools).to_dict("records")
    for r in exp:
        r["needs_ocr"] = bool(r["needs_ocr"])
    assert got == exp


_SESSION = r"""
import json, os, sys

import pandas as pd
from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts
from pdf_extraction_ai_agent_spark.fixtures.minipdf import write_encrypted_pdf
from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
from pdf_extraction_ai_agent_spark.plans.lineage import run_with_lineage
from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline, precompute_kdf_seed
from pdf_extraction_ai_agent_spark.session import get_spark

work = sys.argv[1]
spark = get_spark(app_name="pandas-free-workers", master="local[1]", shuffle_partitions=2)
jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
seen = {}  # worker pid -> has it mapped pandas' extension modules


def scan():
    # every live descendant of the JVM: the Python daemon and its workers
    kids = {}
    for e in os.listdir("/proc"):
        try:
            with open(f"/proc/{e}/stat") as f:
                kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(e))
        except (OSError, ValueError, IndexError):
            continue
    todo = list(kids.get(jvm, []))
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/maps") as f:
                seen[pid] = seen.get(pid, False) or "/pandas/_libs/" in f.read()
        except OSError:
            continue


pdf = generate_transcripts(n_convs=6, seed=5, include_real_pdf=True)
r6 = write_encrypted_pdf(["Claim R6 body with enough text for the layer"], revision=6)
pdf = pd.concat([pdf, pd.DataFrame([{
    "conv_id": "r6", "turn_idx": 0, "role": "user", "text": r6.decode("latin-1"),
    "tool": "pdf_upload", "ts": pd.Timestamp("2026-01-01")}])], ignore_index=True)
spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).write.parquet(f"{work}/in")
df = spark.read.parquet(f"{work}/in")

seed = precompute_kdf_seed(df)  # the KDF pre-pass: _salts, then _kdf_pack
scan()
flagship = extract_pipeline(df, num_partitions=2, kdf_seed=seed).collect()
scan()
job = run_with_lineage(
    spark, df,
    lambda d: extract_pipeline(d, salt_buckets="auto", kdf_seed=seed),
    out_path=f"{work}/out", lineage_path=f"{work}/lineage",
    n_buckets=2, bucket_group_size=1,
)
scan()


def _probe(x):  # unannotated: a scalar Arrow UDF
    import sys

    if "pandas" in sys.modules:
        raise RuntimeError(f"pandas is loaded in Python worker {os.getpid()}")
    return x


probe = spark.range(4, numPartitions=2).select(F.arrow_udf(_probe, "long")("id")).collect()
scan()
clean = sorted(p for p, has in seen.items() if not has)
dirty = sorted(p for p, has in seen.items() if has)


def _ident(s: pd.Series) -> pd.Series:
    return s


# control: a pandas UDF's worker does load pandas, and the scan sees it
spark.range(4, numPartitions=1).select(F.pandas_udf(_ident, "long")("id")).collect()
scan()
print(json.dumps({
    "seed": len(seed), "flagship": len(flagship), "turns": len(pdf),
    "groups": len(job["groups"]), "probe": len(probe),
    "clean": len(clean), "dirty": dirty,
    "control": any(seen.values()),
}))
spark.stop()
"""


def test_extraction_workers_never_load_pandas(tmp_path):
    """A local[1] session runs the KDF pre-pass over a corpus that holds an
    R6-encrypted PDF, the flagship plan and the job's bucket-group plan. No
    Python worker under its JVM maps pandas afterwards, and a probe Arrow
    UDF finds no pandas in its worker. A pandas UDF run last is the
    control: its worker does load pandas and the scan sees it."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    out = subprocess.run([sys.executable, "-c", _SESSION, str(tmp_path)], cwd=ROOT, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["seed"] > 0  # the R6 file's salts reached _kdf_pack
    assert got["flagship"] == got["turns"]
    assert got["groups"] == 2 and got["probe"] == 4
    assert got["clean"] >= 2
    assert got["dirty"] == []
    assert got["control"] is True
