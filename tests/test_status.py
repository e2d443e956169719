"""tools/status.py — the job-status surface (VERDICT r5 #8).

Contracts: a finished pipeline work_dir reports ``complete`` with every
spine stage committed + metrics attached; a half-resumed dir (a stage's
``_SUCCESS`` removed mid-chain) reports ``in-progress`` with the correct
resume point; a streaming work dir reports store/pair batch partitions;
an empty dir reports ``empty``.  The probe itself must never need Spark.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from status import status  # noqa: E402

from webdedup.config import DEFAULT as CFG  # noqa: E402
from webdedup.plans import pipeline  # noqa: E402
from webdedup.sources import corpus  # noqa: E402


@pytest.fixture(scope="module")
def finished_dir(spark):
    rows = corpus.corpus_rows(CFG.seed, 6)
    pages = spark.createDataFrame(rows, schema=corpus.PAGE_KIND_SCHEMA)
    d = tempfile.mkdtemp(prefix="webdedup_status_")
    pipeline.run(pages, d, cfg=CFG, resume=False, record_metrics=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_status_complete(finished_dir):
    st = status(finished_dir)
    assert st["state"] == "complete"
    for name in ("documents", "signatures", "assignments",
                 "representatives", "cluster_sizes", "report"):
        assert name in st["stages_committed"], name
        assert st["tables"][name]["rows"] >= 0
    # metrics attached per recorded stage; lineage skew computed
    assert st["stage_metrics"]["assignments"]["wall_sec"] > 0
    assert st["partition_skew_max_over_mean"].get("documents", 0) >= 1.0
    assert st["next_stage"] is None


def test_metrics_rows_per_stage_and_written_file(finished_dir):
    """A finished run records one metrics row per stage and one lineage row
    per data file of each stage table, matching the footers status reads."""
    import pyarrow.parquet as pq

    from webdedup.plans import checkpoint

    st = status(finished_dir)
    stages = pq.read_table(os.path.join(
        finished_dir, "metrics_stages.parquet")).column("stage").to_pylist()
    assert sorted(stages) == sorted(st["stages_committed"])
    lineage = pq.read_table(os.path.join(
        finished_dir, "metrics_partitions.parquet")).to_pylist()
    for name in stages:
        got = sorted((r["partition_id"], r["n_rows"]) for r in lineage
                     if r["stage"] == name)
        counts = checkpoint.file_row_counts(finished_dir, name)
        assert got == list(enumerate(counts)), name
        assert sum(counts) == st["tables"][name]["rows"]


def test_status_half_resumed(finished_dir):
    """Simulate a mid-run kill: assignments' commit marker gone and every
    later stage absent — exactly the state pipeline.run(resume=True)
    encounters after a kill during the CC stage."""
    half = tempfile.mkdtemp(prefix="webdedup_status_half_")
    try:
        for name in ("documents", "signatures", "edges_exact",
                     "edges_simhash", "edges_minhash", "edges_substring",
                     "assignments"):
            src = os.path.join(finished_dir, f"{name}.parquet")
            shutil.copytree(src, os.path.join(half, f"{name}.parquet"))
        os.remove(os.path.join(half, "assignments.parquet", "_SUCCESS"))
        st = status(half)
        assert st["state"] == "in-progress"
        assert "signatures" in st["stages_committed"]
        assert st["stages_uncommitted"] == ["assignments"]
        assert st["next_stage"] == "assignments"
        assert "rows" not in st["tables"]["assignments"]
    finally:
        shutil.rmtree(half, ignore_errors=True)


def test_status_empty_and_streaming(tmp_path):
    assert status(str(tmp_path))["state"] == "empty"
    # a streaming work dir: store + pairs with batch partitions
    store = tmp_path / "sig_store.parquet" / "_batch_id=0"
    store.mkdir(parents=True)
    (tmp_path / "sig_store.parquet" / "_batch_id=1").mkdir()
    (tmp_path / "incremental_pairs.parquet" / "_batch_id=1").mkdir(
        parents=True)
    st = status(str(tmp_path))
    assert st["state"] == "streaming"
    assert st["streaming"]["sig_store"]["batch_partitions"] == 2
    assert st["streaming"]["sig_store"]["latest_batch_id"] == 1
    assert st["streaming"]["sig_store"]["compacted_base"] is False


def test_status_cli_runs(finished_dir, capsys):
    from status import main

    assert main([finished_dir]) == 0
    out = capsys.readouterr().out
    assert "complete" in out and "assignments" in out
    assert main([finished_dir, "--json"]) == 0
    import json
    line = capsys.readouterr().out.strip()
    assert json.loads(line)["state"] == "complete"
