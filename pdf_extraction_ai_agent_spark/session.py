"""SparkSession factory with scale-oriented defaults.

All knobs here are chosen for the 100 TB design point and merely *sized
down* for local[] testing:

- AQE on (runtime shuffle coalescing, skew-join splitting).
- Arrow on, with a bounded ``maxRecordsPerBatch`` because transcript payloads
  are large strings — an unbounded batch of 10k × 1 MB payloads would blow
  executor memory (SURVEY §7 risk 6).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  this should be ~2-3× total executor cores (or left to AQE's coalescing
  with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch cap: bench.py's arrow_batch_sweep (512/2048/8192 on the real
# transcript corpus, wall + peak JVM/py-worker RSS) is unequivocal that
# 512 is too small, but 2048 vs 8192 flip-flops between sessions (r5:
# within noise; one r6 run 8192 -5%, the next 2048 -12%) while py-worker
# peak RSS grows 1.4-2x at 8192. Spark 4.1 has no bytes-based cap, so
# this IS the memory knob: 2048 rows x ~10 KB median payloads ≈ 20 MB in
# flight per worker — the memory-prudent choice at equal-within-noise
# wall time (both 66k and 74k turns/sec flagship runs measured here).
ARROW_MAX_RECORDS_PER_BATCH = 2048

# The engine's settings: what its plans are built and measured under.
# get_spark applies them, and so do both spark-submit jobs
# (jobs/run_extraction.py, jobs/run_curation.py), so a cluster run executes
# the configuration the tests and perfbench see. Deployment settings
# (master, shuffle partitions, driver memory, the UI) stay in get_spark.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS_PER_BATCH),
    # Don't let tiny parquet files create thousands of splits locally.
    "spark.sql.files.maxPartitionBytes": "128m",
    # zstd beats lz4 on text-heavy shuffle blocks (payload strings +
    # span structs) — measured ~12% on the extraction job's shuffles.
    "spark.io.compression.codec": "zstd",
    # Timestamps in fixtures are naive; pin session TZ for determinism.
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "pdf_extraction_ai_agent_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) in
    the sandbox; on a real cluster it is supplied by spark-submit and must
    not be set here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if master and master.startswith("local") else 200
        except ValueError:
            shuffle_partitions = 32

    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
