"""Per-partition checkpoint / lineage + metrics, with idempotent resume.

North-rule requirement: "checkpoints per-partition progress to an Iceberg
lineage/metrics table so runs resume idempotently". The reference's analog
is the knowledge-base success counters (agentic_processor.py:353-378) and
its filesystem handoffs; here it becomes a real table:

    lineage(run_group, part_id, n_rows, wall_ms, turns_per_sec, finished_at)

Protocol (batch idempotency, SURVEY §2.11 — the reference is batch-only, so
resume is an anti-join, not Structured Streaming state):

1. partition the input by ``part_id = pmod(hash(conv_id), n_buckets)``
2. resume = input ⟕ anti-join lineage on completed part_ids (broadcast —
   the lineage side is tiny: one row per bucket)
3. process remaining buckets in bucket groups; after each group commits its
   output (dynamic partition overwrite keyed by part_id — rerunning a
   failed group overwrites, never duplicates), append its lineage rows
4. a rerun after any failure re-processes ONLY unfinished buckets

Storage is format-agnostic: ``fmt='iceberg'`` writes through an Iceberg
catalog on a real cluster; the sandbox default is parquet with
partitionOverwriteMode=dynamic, which gives the same per-partition commit
semantics for this protocol.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# One lineage row: what a bucket group reports (LineageStore.append's
# input), then the commit stamp the append adds at write time.
_GROUP_ROW = (
    "run_group string, part_id int, n_rows long, n_errors long, wall_ms long, "
    "turns_per_sec double"
)
LINEAGE_SCHEMA = _GROUP_ROW + ", finished_at timestamp"


def with_part_id(df: DataFrame, n_buckets: int = 64,
                 key_col: str = "conv_id") -> DataFrame:
    return df.withColumn(
        "part_id", F.pmod(F.hash(key_col), F.lit(n_buckets)).cast("int")
    )


def _local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """Rows built in this process as a DataFrame, shipped to the JVM as an
    Arrow table (a ``LocalTableScan``). ``createDataFrame`` on a Python
    list is a PythonRDD: every action over it runs Python worker tasks that
    import nothing of this package, so they pay the full per-task zip
    re-read (zipguard.py) — 8 of the 14 Python tasks of a warm 4-bucket,
    2-group job at local[2]. An empty pandas frame falls back to that list
    path; an empty Arrow table does not."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)


def read_committed(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame | None:
    """The table committed at ``path``, or None while there is none: no
    path, no table, or a directory that holds no data file (a first write
    that never committed). Any other read error raises — reading an
    unreadable table as absent would silently redo every committed bucket
    and then fail at the write. Checking a parquet path's existence first
    also keeps Spark from logging a stack trace for the expected miss."""
    if fmt == "parquet":
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
            return None
    try:
        return spark.read.format(fmt).load(path)
    except AnalysisException as e:
        # Iceberg's catalog reports a missing table as Spark's
        # NoSuchTableException, which carries TABLE_OR_VIEW_NOT_FOUND
        if e.getCondition() in ("TABLE_OR_VIEW_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


class LineageStore:
    """Tiny lineage/metrics table on parquet (sandbox) or Iceberg (cluster)."""

    def __init__(self, spark: SparkSession, path: str, fmt: str = "parquet"):
        self.spark = spark
        self.path = path
        self.fmt = fmt

    def completed_part_ids(self, run_group: str) -> DataFrame:
        df = read_committed(self.spark, self.path, self.fmt)
        if df is None:
            return _local_frame(self.spark, [], "part_id int")
        return df.filter(F.col("run_group") == run_group).select("part_id").distinct()

    def append(self, rows: list[dict]) -> None:
        df = _local_frame(
            self.spark,
            [
                (
                    r["run_group"],
                    int(r["part_id"]),
                    int(r["n_rows"]),
                    int(r.get("n_errors", 0)),
                    int(r["wall_ms"]),
                    float(r["turns_per_sec"]),
                )
                for r in rows
            ],
            _GROUP_ROW,
        ).withColumn("finished_at", F.current_timestamp())
        df.write.format(self.fmt).mode("append").save(self.path)

    # -- input-snapshot statistics ------------------------------------
    # Tiny side table at <lineage>_stats: (run_group, stat, value,
    # computed_at). A run_group is pinned to one input snapshot by the
    # resume protocol (resume assumes the input is identical across
    # reruns), so keying stats by run_group keys them by snapshot — a
    # rerun reads the cached stat instead of re-scanning the corpus.

    def _stats_path(self) -> str:
        return self.path.rstrip("/") + "_stats"

    def get_stat(self, run_group: str, stat: str) -> float | None:
        df = read_committed(self.spark, self._stats_path(), self.fmt)
        if df is None:
            return None
        rows = (
            df.filter((F.col("run_group") == run_group) & (F.col("stat") == stat))
            .orderBy(F.col("computed_at").desc())
            .select("value")
            .limit(1)
            .collect()
        )
        return float(rows[0].value) if rows else None

    def put_stat(self, run_group: str, stat: str, value: float) -> None:
        (
            _local_frame(
                self.spark,
                [(run_group, stat, float(value))],
                "run_group string, stat string, value double",
            )
            .withColumn("computed_at", F.current_timestamp())
            .write.format(self.fmt)
            .mode("append")
            .save(self._stats_path())
        )


def cached_max_conv_rows(
    spark: SparkSession,
    transcripts: DataFrame,
    lineage_path: str,
    run_group: str = "default",
    fmt: str = "parquet",
) -> int:
    """The largest conversation's row count for this run_group's input
    snapshot, computed AT MOST ONCE per snapshot: read from the lineage
    stats table when present, else one column-pruned pre-pass
    (pipeline._max_conv_rows) whose result is persisted for every later
    rerun/resume of the same run_group. Feed the result to
    ``extract_pipeline(..., salt_buckets='auto', max_conv_rows=...)``."""
    from .pipeline import _max_conv_rows

    store = LineageStore(spark, lineage_path, fmt=fmt)
    cached = store.get_stat(run_group, "max_conv_rows")
    if cached is not None:
        return int(cached)
    mx = _max_conv_rows(transcripts)
    store.put_stat(run_group, "max_conv_rows", float(mx))
    return mx


def run_with_lineage(
    spark: SparkSession,
    transcripts: DataFrame,
    build_plan,
    out_path: str,
    lineage_path: str,
    run_group: str = "default",
    n_buckets: int = 16,
    bucket_group_size: int = 4,
    fmt: str = "parquet",
    key_col: str = "conv_id",
) -> dict:
    """Execute ``build_plan(df) -> df`` over the input with per-partition
    lineage + idempotent resume. Returns run metrics.

    ``bucket_group_size`` buckets commit together: each group is one Spark
    job whose output lands under its part_id directories atomically via
    dynamic partition overwrite, then its lineage rows append. Failure
    between the two steps is safe — the rerun overwrites the same
    partitions before re-appending lineage.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    store = LineageStore(spark, lineage_path, fmt=fmt)
    df = with_part_id(transcripts, n_buckets=n_buckets, key_col=key_col)

    done = store.completed_part_ids(run_group)
    done_ids = {r.part_id for r in done.collect()}  # ≤ n_buckets rows — tiny
    todo = sorted(set(range(n_buckets)) - done_ids)

    metrics = {"run_group": run_group, "skipped_buckets": len(done_ids), "groups": []}
    for gstart in range(0, len(todo), bucket_group_size):
        group = todo[gstart : gstart + bucket_group_size]
        part = df.filter(F.col("part_id").isin(group))
        t0 = time.monotonic()
        plan = build_plan(part)
        if "part_id" not in plan.columns:
            # plans are free to drop bookkeeping columns; part_id is a pure
            # function of the bucket key so re-derive it for the write
            plan = with_part_id(plan, n_buckets=n_buckets, key_col=key_col)
        (
            plan
            .write.format(fmt)
            .mode("overwrite")
            .partitionBy("part_id")
            .save(out_path)
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        # row counts come from the committed output, not a recompute of
        # the UDF stage: one aggregate job reads the group's part_id and
        # error columns back and shuffles them by part_id (0.55-0.67 CPU-s
        # of a 4.7-5.6 CPU-s warm job_heavyconv pass at local[2], 4 vCPUs)
        committed = (
            spark.read.format(fmt).load(out_path).filter(F.col("part_id").isin(group))
        )
        err_agg = (
            [F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_err")]
            if "error" in committed.columns
            else [F.lit(0).alias("n_err")]
        )
        counted = committed.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n"), *err_agg
        )
        per_part = {r["part_id"]: (r["n"], r["n_err"]) for r in counted.collect()}
        n_rows = sum(n for n, _ in per_part.values())
        n_errors = sum(e for _, e in per_part.values())
        tps = n_rows / max(wall_ms / 1000.0, 1e-9)
        store.append(
            [
                {
                    "run_group": run_group,
                    "part_id": pid,
                    "n_rows": per_part.get(pid, (0, 0))[0],
                    "n_errors": per_part.get(pid, (0, 0))[1],
                    "wall_ms": wall_ms,
                    "turns_per_sec": tps,
                }
                for pid in group
            ]
        )
        metrics["groups"].append(
            {"part_ids": group, "rows": n_rows, "errors": n_errors, "wall_ms": wall_ms}
        )
    metrics["out_path"] = os.path.abspath(out_path)
    return metrics
