"""Per-stage bookkeeping runs on the driver, with no Spark job.

Contracts: ``metrics.append_stage_metrics`` and
``metrics.append_partition_lineage`` against a committed stage table fire
no job; the rows they write read back identically through Spark
(``metrics.read_stage_metrics``) and through ``tools/status.py`` (pyarrow,
no session), with the table schemas Spark wrote before the rows moved to
pyarrow; lineage holds one row per written file of the stage table.  All of
it also holds in a work_dir whose metrics tables already hold Spark-written
rows from an older run (a ``resume=True`` upgrade).  A stage table
``checkpoint.materialize`` writes reads back with the inferred schema and
no inference job.
"""

from __future__ import annotations

import os
import sys
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from status import status  # noqa: E402

from webdedup.plans import checkpoint, metrics  # noqa: E402

STAGE_SCHEMA = ("struct<stage:string,n_rows:bigint,wall_sec:double,"
                "peak_rss_mb:double,jvm_heap_mb:double,ts:string,"
                "extra:string>")
LINEAGE_SCHEMA = "struct<stage:string,partition_id:int,n_rows:bigint>"


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; the ids of the jobs it fired."""
    sc = spark.sparkContext
    group = f"bookkeeping-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bookkeeping probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write_legacy_rows(spark, work_dir):
    """What the Spark-job implementation appended for one stage."""
    spark.createDataFrame(
        [("old_stage", 7, 0.5, 100.0, 200.0,
          "2020-01-01T00:00:00+00:00", "{}")],
        schema="stage string, n_rows long, wall_sec double, "
               "peak_rss_mb double, jvm_heap_mb double, ts string, "
               "extra string",
    ).coalesce(1).write.mode("append").parquet(
        checkpoint.table_path(work_dir, metrics.STAGE_METRICS_TABLE))
    (spark.range(0, 10, 1, 2)
     .groupBy(F.spark_partition_id().alias("partition_id"))
     .agg(F.count(F.lit(1)).alias("n_rows"))
     .withColumn("stage", F.lit("old_stage"))
     .select("stage", "partition_id", "n_rows")
     .coalesce(1).write.mode("append").parquet(
         checkpoint.table_path(work_dir, metrics.PARTITION_LINEAGE_TABLE)))


def _rows(rows):
    return sorted((tuple(sorted(r.items())) for r in rows), key=repr)


@pytest.mark.parametrize("legacy", [False, True],
                         ids=["fresh", "spark_rows_from_older_run"])
def test_bookkeeping_fires_no_job_and_reads_back(spark, tmp_path, legacy):
    wd = str(tmp_path)
    if legacy:
        _write_legacy_rows(spark, wd)
    checkpoint.write(spark.range(1000).withColumn("x", F.col("id") * 2),
                     wd, "documents", partitions=3)
    n = checkpoint.row_count(wd, "documents")
    assert n == 1000

    def bookkeeping():
        metrics.append_stage_metrics(spark, wd, "documents", n, 1.25,
                                     extra={"k": 1})
        metrics.append_partition_lineage(wd, "documents")
    assert _jobs_in_group(spark, bookkeeping) == []

    # no partial or temp file is left visible to either reader
    for table in (metrics.STAGE_METRICS_TABLE,
                  metrics.PARTITION_LINEAGE_TABLE):
        path = checkpoint.table_path(wd, table)
        assert not [f for f in os.listdir(path)
                    if f.startswith(".") and not f.endswith(".crc")]

    # stage metrics: Spark and pyarrow see the same rows and schema
    m = metrics.read_stage_metrics(spark, wd)
    assert m.schema.simpleString() == STAGE_SCHEMA
    spark_rows = [r.asDict() for r in m.collect()]
    arrow_rows = pq.read_table(checkpoint.table_path(
        wd, metrics.STAGE_METRICS_TABLE)).to_pylist()
    assert _rows(spark_rows) == _rows(arrow_rows)
    assert len(spark_rows) == (2 if legacy else 1)
    new = next(r for r in spark_rows if r["stage"] == "documents")
    assert new["n_rows"] == 1000 and new["wall_sec"] == 1.25
    assert new["peak_rss_mb"] > 0 and new["jvm_heap_mb"] > 0
    assert new["extra"] == str({"k": 1})

    st = status(wd)
    want = {r["stage"]: {"wall_sec": round(r["wall_sec"], 3),
                         "n_rows": r["n_rows"],
                         "peak_rss_mb": r["peak_rss_mb"], "ts": r["ts"]}
            for r in spark_rows}
    assert st["stage_metrics"] == want

    # lineage: one row per written file of the stage table
    lin_path = checkpoint.table_path(wd, metrics.PARTITION_LINEAGE_TABLE)
    lin = spark.read.parquet(lin_path)
    assert lin.schema.simpleString() == LINEAGE_SCHEMA
    spark_lin = [r.asDict() for r in lin.collect()]
    assert _rows(spark_lin) == _rows(pq.read_table(lin_path).to_pylist())
    files = checkpoint.file_row_counts(wd, "documents")
    assert len(files) == 3 and sum(files) == n
    assert sorted((r["partition_id"], r["n_rows"]) for r in spark_lin
                  if r["stage"] == "documents") == list(enumerate(files))
    assert len(spark_lin) == 3 + (2 if legacy else 0)
    skew = st["partition_skew_max_over_mean"]
    assert skew["documents"] == round(max(files) / (n / len(files)), 2)
    assert ("old_stage" in skew) == legacy


def test_materialize_reads_back_without_inference_job(spark, tmp_path):
    wd = str(tmp_path)
    df = spark.range(50).select(
        "id", F.array("id").alias("arr"), F.lit("s").alias("s"),
        F.struct(F.col("id").alias("a")).alias("st"))
    out = {}

    def write_and_read():
        out["df"] = checkpoint.materialize(df, wd, "t", resume=False)
    jobs = _jobs_in_group(spark, write_and_read)
    # the write's jobs only; an inferring read would add one more
    assert out["df"].schema == checkpoint.read(spark, wd, "t").schema
    assert len(jobs) == len(_jobs_in_group(
        spark, lambda: checkpoint.write(df, wd, "u")))
    assert sorted(out["df"].select("id").collect()) == sorted(
        df.select("id").collect())
