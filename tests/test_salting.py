"""Salted hot-bucket candidate generation must be EXACTLY lossless."""

from __future__ import annotations

from pyspark.sql import functions as F

from webdedup.config import DEFAULT as CFG
from webdedup.operators import simhash_lsh


def _pairs(df):
    return {(r["a"], r["b"]) for r in df.collect()}


def test_salted_equals_unsalted_with_hot_bucket(spark):
    # one giant bucket (60 ids in table 0 / key 7), several cold buckets
    rows = [(i, 0, 7) for i in range(60)]
    rows += [(100 + i, 1, i % 5) for i in range(20)]
    bands = spark.createDataFrame(rows, ["id", "table_id", "band_key"])
    exact = _pairs(simhash_lsh.band_candidates(bands))
    for hot_threshold in (5, 30, 1000):
        salted = _pairs(simhash_lsh.salted_band_candidates(
            bands, hot_threshold, salt_factor=4))
        assert salted == exact, f"hot_threshold={hot_threshold}"


def test_blocked_verify_equals_join_verify(spark):
    """blocked_hamming_pairs (the r6 1M-cliff fix, simhash_edges default)
    must be BIT-IDENTICAL to the join-shaped verify — including hot
    buckets larger than the block size (forces multi-block scoring and
    the Arrow-batch carry-over), cross-table dedup, and both
    long and string id types."""
    import random

    rng = random.Random(5)
    # 90 sigs in one hot bucket (several within Hamming<=5 of each other),
    # plus cold buckets across a second table; duplicate (table,key)
    # membership across tables exercises the cross-table distinct
    rows = []
    base = rng.getrandbits(60)
    for i in range(90):
        sig = base
        for _ in range(rng.randrange(0, 8)):
            sig ^= 1 << rng.randrange(62)
        rows.append((i, sig, 0, 7))
        if i < 40:
            rows.append((i, sig, 1, 3))  # same pair may collide twice
    for i in range(30):
        rows.append((200 + i, rng.getrandbits(60), 2, i % 6))
    bands = spark.createDataFrame(
        rows, "id long, simhash long, table_id int, band_key long")

    def canon(df):
        return {(r["a"], r["b"], r["hamming"]) for r in df.collect()}

    exp = canon(simhash_lsh.hamming_verify(
        simhash_lsh.band_candidates(bands),
        bands.select("id", "simhash").distinct(), CFG.hamming_threshold))
    # tiny blocks force multi-block iteration inside one bucket;
    # tiny Arrow batches force the bucket carry-over across batch bounds
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got = canon(simhash_lsh.blocked_hamming_pairs(
            bands, CFG.hamming_threshold, block_rows=7))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       "10000")
    assert got == exp and len(exp) > 0
    # string ids: canonicalization must match Spark's least/greatest
    srows = [(f"d{i:03d}", s, t, k) for (i, s, t, k) in rows]
    sbands = spark.createDataFrame(
        srows, "id string, simhash long, table_id int, band_key long")
    exp_s = canon(simhash_lsh.hamming_verify(
        simhash_lsh.band_candidates(sbands),
        sbands.select("id", "simhash").distinct(), CFG.hamming_threshold))
    got_s = canon(simhash_lsh.blocked_hamming_pairs(
        sbands, CFG.hamming_threshold))
    assert got_s == exp_s and len(exp_s) > 0


def test_simhash_edges_blocked_default_components(docs, corpus_texts):
    """the blocked default yields the same components as brute force."""
    from webdedup import oracle
    e, overflow = simhash_lsh.simhash_edges(docs, cfg=CFG, scheme="combo")
    assert overflow.count() == 0
    got = {(r["a"], r["b"]) for r in e.collect()}
    ids = sorted(corpus_texts)
    exp = oracle.simhash_pairs(corpus_texts, CFG)
    assert oracle.union_find_clusters(ids, got) == \
        oracle.union_find_clusters(ids, exp)
