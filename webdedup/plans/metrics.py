"""Lineage + metrics rows (north_rule: per-partition lineage + metrics
enabling checkpoint-resumable restarts; reference analog is the RSS-sampling
timing harness ``run_pipeline.py:83-126`` and ``evaluator.py:68-83``).

Two granularities:

- stage metrics: one row per pipeline stage (rows, wall sec, memory);
- partition lineage: one row per written file of the stage table, with its
  row count read from the parquet footer — enough to localize skew
  ("file 17 holds 40% of the rows") and to audit resumed runs.

Both are bookkeeping, not dedup work, so neither runs a Spark job: rows are
built on the driver and written with pyarrow, one file per append, into the
same ``<table>.parquet/`` directories Spark reads (``read_stage_metrics``)
and ``tools/status.py`` reads without a session.  Each append writes a
``.``-prefixed temp file and renames it into place, so a reader never sees a
partial file and a killed run keeps the rows of its finished stages.  Like
``plans.checkpoint``, this assumes ``work_dir`` is driver-visible POSIX
storage.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from webdedup.plans import checkpoint

STAGE_METRICS_TABLE = "metrics_stages"
PARTITION_LINEAGE_TABLE = "metrics_partitions"

# the column types Spark wrote these tables with before they moved to
# pyarrow, nullability included, so old and new files read as one table
STAGE_METRICS_SCHEMA = pa.schema([
    ("stage", pa.string()), ("n_rows", pa.int64()),
    ("wall_sec", pa.float64()), ("peak_rss_mb", pa.float64()),
    ("jvm_heap_mb", pa.float64()), ("ts", pa.string()),
    ("extra", pa.string()),
])
PARTITION_LINEAGE_SCHEMA = pa.schema([
    pa.field("stage", pa.string(), nullable=False),
    pa.field("partition_id", pa.int32(), nullable=False),
    pa.field("n_rows", pa.int64(), nullable=False),
])


def _append(work_dir: str, table: str, rows: pa.Table) -> None:
    """Add ``rows`` to ``table`` as one new file, atomically."""
    path = checkpoint.table_path(work_dir, table)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}")
    pq.write_table(rows, tmp)
    os.replace(tmp, os.path.join(path, name))


def peak_memory_mb(spark: SparkSession) -> tuple[float, float]:
    """(python_peak_rss_mb, jvm_heap_used_mb) — the A9 memory sample.

    The reference samples process RSS per stage (``run_pipeline.py:83-126``);
    the analog here is the driver Python's high-water RSS plus the live JVM
    heap (in ``local[*]`` the driver JVM *is* every executor, so this covers
    execution memory too).  On a real multi-executor cluster, extend with a
    SparkListener consuming ``executorMetricsUpdate.peakMemoryMetrics`` —
    same row schema, one row per executor."""
    import resource
    ru_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss  # KiB (linux)
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    jvm_mb = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    return ru_kib / 1024.0, float(jvm_mb)


def append_stage_metrics(spark: SparkSession, work_dir: str, stage: str,
                         n_rows: int, wall_sec: float,
                         extra: dict | None = None) -> None:
    py_mb, jvm_mb = peak_memory_mb(spark)
    row = {
        "stage": stage,
        "n_rows": int(n_rows),
        "wall_sec": float(wall_sec),
        "peak_rss_mb": round(py_mb, 3),
        "jvm_heap_mb": round(jvm_mb, 3),
        "ts": _dt.datetime.now(_dt.timezone.utc).isoformat(),
        "extra": str(extra or {}),
    }
    _append(work_dir, STAGE_METRICS_TABLE,
            pa.Table.from_pylist([row], schema=STAGE_METRICS_SCHEMA))


def append_partition_lineage(work_dir: str, stage: str) -> None:
    """One row per data file of the committed stage table ``stage``;
    ``partition_id`` is the file's position in name order."""
    counts = checkpoint.file_row_counts(work_dir, stage)
    _append(work_dir, PARTITION_LINEAGE_TABLE, pa.Table.from_pydict(
        {"stage": [stage] * len(counts),
         "partition_id": list(range(len(counts))),
         "n_rows": counts},
        schema=PARTITION_LINEAGE_SCHEMA))


def read_stage_metrics(spark: SparkSession, work_dir: str) -> DataFrame:
    return spark.read.parquet(
        checkpoint.table_path(work_dir, STAGE_METRICS_TABLE))
