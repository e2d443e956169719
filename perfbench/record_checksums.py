"""Record the canonical clustering checksum of ``batch_9k`` per seed.

Usage (from the repository root):

    python3 perfbench/record_checksums.py FIRST_SEED LAST_SEED

Runs the workload's pipeline for each seed in the range and merges the
checksums into ``batch_checksums.json``; a ``batch_9k`` run whose seed is
recorded there fails its check when its clustering differs.  Record with
the code whose clustering is the reference.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import sparkenv  # noqa: E402
import workloads  # noqa: E402


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    work = os.path.join(ROOT, ".perfbench", "work", "record_checksums")
    shutil.rmtree(work, ignore_errors=True)
    host = sparkenv.host_settings(ROOT)
    spark = sparkenv.start(ROOT, work, host, trace=False)
    sums = workloads._load_json(workloads.BATCH_CHECKSUMS)
    try:
        from webdedup.sources.corpus import corpus_df
        for seed in range(first, last + 1):
            wl = workloads.Batch()
            wl.pages_dir = os.path.join(work, "pages.parquet")
            corpus_df(spark, seed, workloads.BATCH_GROUPS).write.mode(
                "overwrite").parquet(wl.pages_dir)
            result = wl._pipeline(spark.read.parquet(wl.pages_dir))
            got = {r["id"]: r["cluster_id"] for r in
                   result.assignments.select("id", "cluster_id").collect()}
            sums[str(seed)] = workloads.clustering_checksum(got)
            print(seed, sums[str(seed)], flush=True)
            with open(workloads.BATCH_CHECKSUMS, "w") as f:
                json.dump(dict(sorted(sums.items(), key=lambda kv:
                                      int(kv[0]))), f, indent=1)
                f.write("\n")
    finally:
        sparkenv.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
