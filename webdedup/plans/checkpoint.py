"""Stage-table checkpointing: write-once parquet tables with atomic markers.

Stand-in for Iceberg snapshots (no Iceberg runtime in the sandbox): a stage
table is "committed" iff Spark's ``_SUCCESS`` marker exists, which Spark
writes only after all tasks commit — so a killed job never half-resumes.
Resume-from-checkpoint (north_rule) = ``exists() ? read : compute+write``.

``work_dir`` must be storage the driver can see as a POSIX path: the
commit marker and the footer row counts are read with ``os`` and pyarrow on
the driver, never through a Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_path(work_dir: str, name: str) -> str:
    return os.path.join(work_dir, f"{name}.parquet")


def exists(work_dir: str, name: str) -> bool:
    return os.path.exists(os.path.join(table_path(work_dir, name), "_SUCCESS"))


def write(df: DataFrame, work_dir: str, name: str,
          partitions: int | None = None) -> None:
    out = df.repartition(partitions) if partitions else df
    out.write.mode("overwrite").parquet(table_path(work_dir, name))


def read(spark: SparkSession, work_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(table_path(work_dir, name))


def file_row_counts(work_dir: str, name: str) -> list[int]:
    """Row count of each data file of a table, in file-name order (for a
    Spark-written table, the order of the write tasks), from the parquet
    footers — no Spark job.  Hidden (``.``/``_``) files are skipped, as
    Spark's reader skips them."""
    import pyarrow.parquet as pq

    path = table_path(work_dir, name)
    return [pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def row_count(work_dir: str, name: str) -> int:
    """Row count from parquet footers — no Spark job."""
    return sum(file_row_counts(work_dir, name))


def materialize(df: DataFrame, work_dir: str, name: str,
                resume: bool = True,
                partitions: int | None = None) -> DataFrame:
    """Compute-or-load: the core resume primitive.

    Returns a DataFrame backed by the stage table either way, so downstream
    stages read a stable, shuffle-free scan instead of recomputing lineage.
    ``partitions`` controls the written file count (one read partition per
    file for small tables — keeps downstream parallelism up).  A table this
    call wrote is read back with the schema it was written with: parquet
    schema inference costs a Spark job per read.  A resumed table is
    inferred from its files.
    """
    spark = df.sparkSession
    if resume and exists(work_dir, name):
        return read(spark, work_dir, name)
    write(df, work_dir, name, partitions=partitions)
    return spark.read.schema(df.schema).parquet(table_path(work_dir, name))
