"""SimHash fingerprints + bit-sampling LSH band join + Hamming verify.

Reference semantics: 64-bit text SimHash (``simhash.cpp:82-122``) indexed
into 8 hash tables, candidates gathered by scanning *every* bucket of every
table and keeping buckets within the Hamming ball (``simhash.cpp:229-247``)
— an O(#buckets) probe per query that cannot scale.  The graft replaces the
scan with key-expansion equi-joins that have **provably equal-or-better
recall** (SURVEY §2.3 J2):

- ``scheme='single'`` — split the 64-bit fingerprint into B=8 disjoint 8-bit
  blocks, one table per block.  If two fingerprints differ in <= 5 bits, the
  differing bits touch <= 5 blocks, so >= 3 blocks are identical and the pair
  collides in >= 1 table (pigeonhole; B > k).  Recall 1.0.  Keyspace per
  table is 2^8, so candidate volume grows ~n^2/256 — fine to ~1M docs,
  wrong at web scale.

- ``scheme='combo'`` — Manku et al. (WWW'07 "Detecting Near-Duplicates for
  Web Crawling") style block combinations: one table per C(8,3)=56 choice of
  3 blocks, key = the 24 concatenated bits.  A pair within Hamming 5 has its
  differing bits inside <= 5 blocks, so some 3-block combination avoids all
  of them -> collides on that table.  Recall 1.0 with a 2^24 keyspace:
  at 10^12 docs each table bucket holds ~n/2^24 docs, candidate volume is
  ~56 * n^2 / 2^24 ~ 3.3e-6 * n^2 — 13,000x fewer candidates per table pair
  than 'single'.  This is the 100 TB path.

Hot buckets (boilerplate pages collapsing to one fingerprint region) are
handled upstream by fingerprint-dedup (``simhash_edges``) and by the
bucket-local verify (``blocked_hamming_pairs``, a popcount scorer over
``similarity.blocked_pairs``, the kernel the cosine verifies share), which
scores a big bucket in bounded blocks without dropping pairs — where the
reference caps candidates (``max_candidates``, ``simhash.cpp:243-245``)
and loses them.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions.signatures import signature_view
from webdedup.operators.similarity import blocked_pairs


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         cfg: DedupConfig = DEFAULT) -> DataFrame:
    """(id, simhash:long) — the ``simhash`` view of the signature kernel."""
    return signature_view(df, cfg, id_col, text_col, ("simhash",))


def _block(i: int, width: int) -> str:
    """SQL for the unsigned block i (low-to-high) of `width` bits."""
    return f"(shiftrightunsigned(`simhash`, {i * width}) & {(1 << width) - 1})"


def simhash_bands(sigs: DataFrame, cfg: DedupConfig = DEFAULT,
                  scheme: str = "single") -> DataFrame:
    """(id, simhash, table_id, band_key) — the exploded LSH 'index'.

    The reference's in-memory ``std::vector<std::map<uint64,vector<int>>>``
    (``simhash.cpp:362``) disappears: a bucket is just a group of this frame.
    """
    # The explode below multiplies rows 8-56x, which the planner cannot see:
    # if AQE coalesced the upstream (tiny) frame to 1-2 partitions, the whole
    # band table + candidate join would run on 1-2 tasks (measured: 1.67M
    # band rows on ONE task, bands+candidates scaling 1.6x at 4 cores).
    # Re-expand ONLY when under-partitioned — see plans.partitions.
    from webdedup.plans.partitions import ensure_min_partitions
    sigs = ensure_min_partitions(sigs)
    width = cfg.simhash_bits // cfg.simhash_bands
    if scheme == "single":
        keys = [_block(t, width) for t in range(cfg.simhash_bands)]
    elif scheme == "combo":
        n_keep = cfg.simhash_bands - cfg.hamming_threshold  # 3 blocks kept
        keys = [" | ".join(f"shiftleft({_block(bi, width)}, {j * width})"
                           for j, bi in enumerate(combo))
                for combo in combinations(range(cfg.simhash_bands), n_keep)]
    else:
        raise ValueError(scheme)
    # one SQL expression instead of a Column tree: building the 56-table
    # combo index from Column calls costs ~850 py4j round trips per call
    pairs = F.expr("array(" + ", ".join(
        f"named_struct('table_id', {t}, 'band_key', CAST({k} AS BIGINT))"
        for t, k in enumerate(keys)) + ")")
    return (
        sigs.select("id", "simhash", F.explode(pairs).alias("tb"))
        .select("id", "simhash", "tb.table_id", "tb.band_key")
    )


def band_candidates(bands: DataFrame) -> DataFrame:
    """distinct (a, b) id pairs (a < b) colliding in >= 1 table.

    Shuffle equi-join on (table_id, band_key); AQE skew-join handles residual
    hot buckets.  The distinct collapses multi-table duplicates before the
    (cheap) verify — candidate dedup A7 in SURVEY §2.4.
    """
    left = bands.select(F.col("id").alias("a"), "table_id", "band_key")
    right = bands.select(F.col("id").alias("b"), "table_id", "band_key")
    return (
        left.join(right, ["table_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def hamming_verify(cands: DataFrame, sigs: DataFrame,
                   threshold: int) -> DataFrame:
    """Exact Hamming on candidates: (a, b, hamming) with hamming <= threshold.

    Pure Catalyst — ``bit_count(a XOR b)`` stays in WholeStageCodegen
    (reference: popcount intrinsic, ``simhash.cpp:17-28``).
    """
    sa = sigs.select(F.col("id").alias("a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("b"), F.col("simhash").alias("sig_b"))
    return (
        cands.join(sa, "a").join(sb, "b")
        .withColumn("hamming",
                    F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= threshold)
        .select("a", "b", "hamming")
    )


def _as_uint64(values: np.ndarray) -> np.ndarray:
    return values.astype(np.int64).view(np.uint64)


def _popcount_at_most(threshold: int):
    """Block scorer: Hamming distance of every pair with distance <=
    ``threshold`` (XOR + byte-LUT popcount, ~1e9/s/core)."""
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

    def score(L: np.ndarray, R: np.ndarray):
        x = (L[:, None] ^ R[None, :]).view(np.uint8)
        h = lut[x.reshape(len(L), len(R), 8)].sum(axis=2, dtype=np.uint16)
        ii, jj = np.nonzero(h <= threshold)
        return ii, jj, h[ii, jj].astype(np.int32)
    return score


def blocked_hamming_pairs(bands: DataFrame, threshold: int,
                          block_rows: int = 2048) -> DataFrame:
    """(a, b, hamming): every distinct within-bucket pair with Hamming <=
    threshold — verified INSIDE each bucket with vectorized popcount,
    never materializing the candidate pair set through a shuffle.

    WHY (r6 1M-doc scale cliff, BENCH.md §1m): the join-shaped verify
    (``band_candidates`` -> ``.distinct()`` -> two signature joins) pays
    the quadratic in-bucket candidate volume THROUGH FOUR SHUFFLES.  On
    the low-entropy synthetic vocabulary, bucket sizes grow linearly with
    the corpus, so candidates grow quadratically — measured 9.6M pairs at
    250k docs -> 147.9M at 1M (15.4x for 4x the data); at 1M the stage
    spent 1,400 s mostly sorting/spilling candidate rows.  Verifying
    in-bucket turns those 148M shuffled rows into 148M numpy popcounts
    inside one pass over the band table, emitting only the verified pairs
    (~0.3% of candidates).

    The scan is ``similarity.blocked_pairs`` with every row right-eligible,
    so each bucket's pairs are scored once, in the upper triangle, in
    blocks of at most ``block_rows`` rows per side — a pathological
    mega-bucket runs in bounded memory on one task (at 1M docs the largest
    rep bucket holds 670 rows).

    Output is canonicalized (a < b) and ``.distinct()`` deduplicates
    across tables on VERIFIED rows only.  Bit-identical to the join
    verify (pytest-pinned; the sf0.01 oracle rows check it end-to-end).
    """
    rows = bands.select("id", F.col("simhash").alias("value"),
                        "table_id", "band_key", F.lit(True).alias("ex"))
    return blocked_pairs(rows, ["table_id", "band_key"], "hamming int",
                         _as_uint64, _popcount_at_most(int(threshold)),
                         block_rows).distinct()


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", cfg: DedupConfig = DEFAULT,
                  scheme: str = "single") -> DataFrame:
    """Full exact result: ALL pairs within Hamming <= threshold.

    Because both band schemes have recall 1.0 inside the Hamming ball, this
    equals the brute-force O(n^2) join — which is exactly what the DuckDB
    oracle computes (see ``__spark_entry__``).

    Verification is bucket-local (``blocked_hamming_pairs``, r6): the
    fingerprint rides the band row, so no candidate set and no signature
    join ever materializes.  The signature frame is lazily
    localCheckpoint-ed: the band explode would otherwise re-run the
    signature pass under AQE re-planning."""
    sigs = simhash_fingerprints(df, id_col, text_col, cfg).localCheckpoint(
        eager=False)
    return blocked_hamming_pairs(simhash_bands(sigs, cfg, scheme),
                                 cfg.hamming_threshold)


def simhash_edges(df: DataFrame | None, id_col: str = "doc_id",
                  text_col: str = "text", cfg: DedupConfig = DEFAULT,
                  scheme: str = "combo",
                  sigs: DataFrame | None = None
                  ) -> tuple[DataFrame, DataFrame]:
    """Scale path for the pipeline: returns (edges, overflow_quarantine).

    Docs are first collapsed to *distinct fingerprints* (exact clones and
    identical-fingerprint docs form star edges directly — the boilerplate
    hot group contributes ONE representative to the LSH join instead of
    millions of rows), then LSH runs over fingerprint representatives and
    verifies inside each bucket (``blocked_hamming_pairs``: vectorized
    popcount, bounded memory via chunking).  Edge set is equivalent for
    connected components.  The verify is lossless, so the overflow frame
    is always empty; it keeps the ``*_bucket_overflow`` stage table's
    shape.

    ``sigs``: optional materialized (id, simhash) stage table; strongly
    recommended — it keeps the signature pass out of the self-join plan.
    """
    if sigs is None:
        # lazy checkpoint: keep the signature pass out of the multi-arm join
        sigs = simhash_fingerprints(df, id_col, text_col, cfg).localCheckpoint(
            eager=False)
    w = Window.partitionBy("simhash")
    tagged = sigs.withColumn("rep", F.min("id").over(w))
    clone_edges = (
        tagged.filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("a"), F.col("id").alias("b"))
    )
    reps = tagged.filter(F.col("id") == F.col("rep")).select("id", "simhash")
    bands = simhash_bands(reps, cfg, scheme)
    rep_pairs = blocked_hamming_pairs(
        bands, cfg.hamming_threshold).select("a", "b")
    return clone_edges.unionByName(rep_pairs), bands.limit(0)


def salted_band_candidates(bands: DataFrame, hot_threshold: int,
                           salt_factor: int) -> DataFrame:
    """Exact candidate pairs with EXPLICIT SALTING of hot buckets.

    ``band_candidates`` leaves hot buckets (boilerplate fingerprint regions)
    as single shuffle keys: one reducer gets an O(m^2) pair explosion.  This
    variant splits every bucket larger than ``hot_threshold`` into
    ``salt_factor`` deterministic sub-groups (salt = xxhash64(id) % k) and
    produces the SAME pair set with bounded per-key work:

    - left side:  each hot-bucket member keyed by its own salt;
    - right side: each member REPLICATED once per salt value;
    - join on (table_id, band_key, salt), keep a < b.

    Every pair (a, b) collides exactly under salt(a) (and salt(b) on the
    mirrored arm, deduped by ``a < b`` + distinct), so recall is unchanged —
    the hot key's quadratic work is spread over k reducers at the cost of
    k-times replication of hot-bucket rows only.  Cold buckets skip the
    machinery entirely.  This is the north_rule's "explicit salting of hot
    LSH bands"; the reference's analog is the max_candidates cap
    (simhash.cpp:243-245), which silently LOSES pairs — salting doesn't.
    """
    spark = bands.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bands = bands.localCheckpoint(eager=False)  # probe + split + join arms
    hot_sizes = (bands.groupBy("table_id", "band_key")
                 .agg(F.count(F.lit(1)).alias("_bsz"))
                 .filter(F.col("_bsz") > hot_threshold)
                 .localCheckpoint(eager=False))  # probe action + broadcast
    # Adaptive skip: ONE tiny agg action decides whether any bucket is hot.
    # When none is (the common case outside boilerplate storms), the
    # tag/split/salt machinery — 4-5 small sequential shuffles whose fixed
    # per-stage latency dominated edges_simhash's 1->4-core scaling (1.7x
    # recorded in r02) — is skipped entirely.  When data IS skewed the probe
    # cost is noise next to the salted join it enables; at web scale the
    # probe is one partial-agg job over the band table.
    if hot_sizes.isEmpty():
        return band_candidates(bands)
    tagged = bands.join(F.broadcast(hot_sizes),
                        ["table_id", "band_key"], "left")
    cold = tagged.filter(F.col("_bsz").isNull()).drop("_bsz")
    hot = tagged.filter(F.col("_bsz").isNotNull()).drop("_bsz")

    cold_pairs = band_candidates(cold)

    salt = (F.xxhash64("id") % salt_factor + salt_factor) % salt_factor
    hot_left = hot.select("id", "table_id", "band_key",
                          salt.alias("_salt")).withColumnRenamed("id", "a")
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt_factor)]))
    hot_right = (hot.select("id", "table_id", "band_key")
                 .withColumn("_salt", salts)
                 .withColumnRenamed("id", "b"))
    hot_pairs = (
        hot_left.repartition(n_part, "table_id", "band_key", "_salt")
        .join(hot_right, ["table_id", "band_key", "_salt"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return cold_pairs.unionByName(hot_pairs).distinct()
