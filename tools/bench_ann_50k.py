"""ANN scale/skew evidence: lsh_cosine_pairs on a 50k-vector table with a
REAL hot-bucket workload (5,000 planted near-identical duplicates collapse
into the same band keys), run with a chosen ``block_rows`` cap — the
per-side block size at which ``similarity.blocked_pairs`` cuts a hot
bucket inside the kernel.

Comparing caps re-validates at the r3 scale (BENCH.md §ANN-at-25x) that
(a) the pairs are identical whatever the block size, (b) wall time does
not regress, (c) planted recall stays 1.0 — measured with a semi-join
count, never collecting the ~4M pair rows.  Expected at the defaults:
5,001 pairs, planted recall 1.0.

Usage:  python tools/bench_ann_50k.py [cores] [threshold] [probe_bits] [cap]
One config per invocation (cap = block_rows; a cap above the largest
bucket, e.g. 10000000, scores every bucket as one block); prints one JSON
line.

``--ivf`` (r7) instead benches the IVF family on the same 50k table:
``ivf2_cosine_pairs`` through the shared blocked gemm kernel A/B'd against
the r6 join-shaped verify (candidate equi-join + distinct + two vector
joins + per-pair interpreted ``aggregate(zip_with())`` fold), asserting
identical outputs — the VERDICT r6 "what's wrong #1" evidence run.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BASE, N_DUP, DIM, K = 45_000, 5_000, 64, 24
CACHE = os.path.join(REPO, ".cache", "ann_50k.parquet")


def ensure_table() -> None:
    """Write the 50k table with pyarrow directly (driver-side createDataFrame
    of 50k float lists measured minutes; this is seconds).

    Geometry: cluster noise σ=0.75 per dim over ||center||≈8 puts the bulk
    of same-cluster cosines ≈0.6-0.7 — hot BAND BUCKETS (the skew stress)
    without a threshold-0.9 output explosion; the 5,000 planted
    near-identical dups (noise 1e-3) are the true >=0.9 pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.exists(os.path.join(CACHE, "_SUCCESS")):
        return
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (K, DIM))
    assign = rng.integers(0, K, N_BASE)
    X = centers[assign] + rng.normal(0.0, 0.75, (N_BASE, DIM))
    dups = X[:N_DUP] + rng.normal(0.0, 1e-3, (N_DUP, DIM))
    allv = np.vstack([X, dups]).astype(np.float32)
    os.makedirs(CACHE, exist_ok=True)
    n = len(allv)
    per = -(-n // 16)
    for f in range(16):
        lo, hi = f * per, min(n, (f + 1) * per)
        tbl = pa.table({
            "vec_id": pa.array(range(lo, hi), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(allv[lo:hi].ravel(), pa.float32()), DIM).cast(
                pa.list_(pa.float32())),
        })
        pq.write_table(tbl, os.path.join(CACHE, f"part-{f:05d}.parquet"))
    open(os.path.join(CACHE, "_SUCCESS"), "w").close()


def ivf_main() -> None:
    """A/B the r7 blocked-kernel IVF verify against the r6 fold verify."""
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    cores = int(args[0]) if args else 4
    thr = float(args[1]) if len(args) > 1 else 0.9
    # k1=64/k2=16 (1024 cells) keeps the fold side's candidate volume
    # (~10M pairs) finishable: at the coarser 16x8 quantizer the r6 shape
    # pushed its interpreted cosine fold into a hash-join condition over
    # ~78M candidate rows and was killed unfinished after 20 minutes of
    # 100%-CPU JVM time — the kernel path completes the same work in
    # seconds (see OPTIMIZATION_r07.md)
    k1, k2, np1, np2 = (int(args[2]) if len(args) > 2 else 64,
                        int(args[3]) if len(args) > 3 else 16, 2, 2)

    from pyspark.sql import functions as F

    from webdedup.operators import similarity
    from webdedup.session import get_spark

    ensure_table()
    spark = get_spark(f"webdedup-ann50k-ivf-{cores}", cores=cores,
                      shuffle_partitions=max(cores * 2, 8))
    emb = spark.read.parquet(CACHE).localCheckpoint()
    emb.count()
    planted = spark.range(N_DUP).select(
        F.col("id").alias("a"), (F.col("id") + N_BASE).alias("b"))

    def fold_ivf2() -> "F.DataFrame":
        # the r6 shape, reconstructed: candidates materialized through an
        # equi-join + distinct, vectors joined back, per-pair interpreted
        # Catalyst fold (similarity.py @ r6 ivf2_cosine_pairs)
        cells = similarity._ivf2_assign(emb, "vec_id", "embedding",
                                        k1, k2, np1, np2
                                        ).localCheckpoint(eager=False)
        probe_arm = cells.select(F.col("id").alias("a"), "cid", "cid2")
        store = (cells.filter(F.col("ex"))
                 .select(F.col("id").alias("b"), "cid", "cid2"))
        cands = (probe_arm.join(store, ["cid", "cid2"])
                 .select(F.least("a", "b").alias("a"),
                         F.greatest("a", "b").alias("b"))
                 .filter(F.col("a") != F.col("b")).distinct())
        v = emb.select(F.col("vec_id").alias("id"),
                       F.col("embedding").alias("vec"))
        vecs = similarity.with_norm(v, "vec", "nrm")
        va = vecs.select(F.col("id").alias("a"), F.col("vec").alias("va"),
                         F.col("nrm").alias("na"))
        vb = vecs.select(F.col("id").alias("b"), F.col("vec").alias("vb"),
                         F.col("nrm").alias("nb"))
        cos = similarity._dot(F.col("va"), F.col("vb")) / (
            F.col("na") * F.col("nb"))
        return (cands.join(va, "a").join(vb, "b")
                .withColumn("cosine", F.round(cos, 6))
                .filter(F.col("cosine") >= thr)
                .select("a", "b", "cosine"))

    out: dict = {"metric": "ann50k_ivf2", "cores": cores, "threshold": thr,
                 "k1": k1, "k2": k2, "nprobe1": np1, "nprobe2": np2}
    t0 = time.time()
    new = similarity.ivf2_cosine_pairs(
        emb, threshold=thr, k1=k1, k2=k2, nprobe1=np1, nprobe2=np2
    ).localCheckpoint(eager=False)
    out["pairs_kernel"] = new.count()
    out["wall_kernel_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    old = fold_ivf2().localCheckpoint(eager=False)
    out["pairs_fold"] = old.count()
    out["wall_fold_sec"] = round(time.time() - t0, 1)
    out["identical"] = (new.exceptAll(old).unionAll(old.exceptAll(new))
                        .isEmpty())
    hit = new.join(planted, ["a", "b"], "left_semi").count()
    out["planted_recall"] = round(hit / N_DUP, 4)
    print(json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    thr = float(sys.argv[2]) if len(sys.argv) > 2 else 0.9
    probe = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    cap = int(sys.argv[4]) if len(sys.argv) > 4 else 2048

    from pyspark.sql import functions as F

    from webdedup.config import DEFAULT as CFG
    from webdedup.operators import similarity
    from webdedup.session import get_spark

    ensure_table()
    spark = get_spark(f"webdedup-ann50k-{cores}", cores=cores,
                      shuffle_partitions=max(cores * 2, 8))
    emb = spark.read.parquet(CACHE).localCheckpoint()
    emb.count()
    planted = spark.range(N_DUP).select(
        F.col("id").alias("a"), (F.col("id") + N_BASE).alias("b"))

    t0 = time.time()
    pairs = similarity.lsh_cosine_pairs(
        emb, threshold=thr, cfg=CFG, probe_bits=probe,
        block_rows=cap).localCheckpoint(eager=False)
    n = pairs.count()
    wall = round(time.time() - t0, 1)
    hit = pairs.join(planted, ["a", "b"], "left_semi").count()
    print(json.dumps({"metric": "ann50k_lsh", "cores": cores,
                      "threshold": thr, "probe_bits": probe,
                      "block_rows": cap, "wall_sec": wall,
                      "pairs": n,
                      "planted_recall": round(hit / N_DUP, 4)}),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    ivf_main() if "--ivf" in sys.argv else main()
