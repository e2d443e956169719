"""Signature projections: ONE text-signature kernel, plus vector SimHash.

``all_signatures`` is the only code that hashes document text.  Every
text-signature operator (``simhash_lsh.simhash_fingerprints``,
``minhash_lsh.minhash_signatures``, ``jaccard.shingle_sets``,
``substring.anchor_index``, the entry's ``_sigsets``) is a ``kinds`` view of
it, and the stream's scalar column binding (``simhash64_udf``) calls the
same per-document function.  Each Arrow batch crosses the Python boundary
once; within a batch the only Python-level loop is over documents, with
per-token work done by md5 and numpy bit arithmetic.

Reference semantics being reproduced:

- text SimHash  : ``simhash.cpp:82-122``  — lowercase whitespace tokens,
  term-frequency weights, per-bit sign vote, 64-bit fingerprint.  Token hash
  is portable md5 (not ``std::hash``) — see ``webdedup.functions.hashing``.
- vector SimHash: ``simhash.cpp:373-391`` — seeded random hyperplanes, sign of
  dot product per bit.
- MinHash       : ``minhash_search.py:12-40`` — 128 permutations; our input is
  5-gram token shingles of webtext rather than top-|dim| indices of a CNN
  embedding (the webtext graft, SURVEY §2.2 P8).

``_simhash_of_text`` and ``_minhash_of_text`` are the driver-side
references the local oracle and the tests compare the kernel against.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from webdedup.config import DedupConfig, DEFAULT
from webdedup.functions import hashing
from webdedup.functions.tokenize import shingles_py, tokenize_py

KINDS = ("simhash", "minhash", "shingles", "anchors")
_KIND_TYPES = {"simhash": LongType(), "minhash": ArrayType(LongType()),
               "shingles": ArrayType(LongType()),
               "anchors": ArrayType(LongType())}

_BITPOS = np.arange(64, dtype=np.uint64)
_MIX = np.uint64(0x9E3779B97F4A7C15)   # golden-ratio odd multiplier


def _simhash_of_text(text: str, cache: dict | None = None,
                     tokenizer=tokenize_py) -> int:
    """64-bit SimHash of one document (term-frequency weighted bit vote).

    ``cache`` is an optional token->uint64 dict shared across one Arrow
    batch — word vocabularies repeat heavily within a batch, and a
    batch-scoped dict cannot poison reused workers the way a global
    lru_cache does (see hashing.py note).  ``tokenizer`` dispatches the
    registry scheme (functions.registry); default = the oracle-checked
    whitespace split."""
    return _simhash_of_tokens(tokenizer(text), cache)


def _hash_tokens(toks, cache: dict) -> None:
    """Fill ``cache`` with the 64-bit md5 hash of every token not in it."""
    for t in toks:
        if t not in cache:
            a, b = hashing.h64_split_py(t)
            cache[t] = (a << 32) | b


def _simhash_of_tokens(toks: list[str], cache: dict | None = None) -> int:
    """SimHash from an already-tokenized document (tokens contain no
    whitespace, so this is bit-identical to re-joining and re-splitting)."""
    counts = Counter(toks)
    if not counts:
        return 0
    if cache is None:
        cache = {}
    _hash_tokens(counts, cache)
    n = len(counts)
    h = np.fromiter((cache[t] for t in counts), dtype=np.uint64, count=n)
    w = np.fromiter(counts.values(), dtype=np.int64, count=n)
    bits = ((h[:, None] >> _BITPOS) & np.uint64(1)).astype(np.int64)
    votes = ((2 * bits - 1) * w[:, None]).sum(axis=0)    # per-bit signed vote
    # strict >, ties -> 0 (simhash.cpp:114-121); distinct bits, so the
    # sum is their OR
    fp = int(((votes > 0).astype(np.uint64) << _BITPOS).sum())
    return hashing.to_signed64(fp)


def _minhash_of_text(text: str, cfg: DedupConfig = DEFAULT,
                     perms: tuple | None = None,
                     tokenizer=tokenize_py) -> list[int]:
    """Driver-side reference for the kernel's ``minhash`` column —
    IDENTICAL values under ``hash_scheme='md5'``, used by the brute-force
    oracle and tests.  ``perms`` lets a caller hoist the coefficient
    generation out of a loop.

    ``sig_i = min over shingles s of (a_i * h32(s) + b_i) mod (2^61-1)``;
    empty docs get the modulus (an impossible hash) at every position so
    they never collide with real content.
    """
    a, b = (perms if perms is not None
            else hashing.minhash_perms(cfg.minhash_perms, cfg.seed))
    sh = shingles_py(tokenizer(text or ""), cfg.shingle_k)
    if not sh:
        return [int(hashing.MERSENNE61)] * cfg.minhash_perms
    hs = np.fromiter((hashing.h32_py(s) for s in set(sh)), dtype=np.uint64)
    # exact (a*h + b) mod p over the full 61-bit field — the rotate-based
    # modmul (see hashing.perm_mod_p; the narrow-a formula let tiny h32
    # values win every permutation, r5 fix)
    vals = hashing.perm_mod_p(a, b, hs)
    return [int(v) for v in vals.min(axis=1)]


def _window_mix(th: np.ndarray, k: int) -> np.ndarray:
    """Vectorized k-gram window hashes over per-token 64-bit hashes:
    S_j = ((h_j·M ⊕ h_{j+1})·M ⊕ ...) over window j..j+k-1 (mod 2^64, numpy
    wrapping).  Position-sensitive (multiply-xor chain), one slice op per
    window position instead of one md5 per shingle string.  Docs shorter
    than k tokens yield ONE window over all tokens — same convention as
    ``shingles_py``."""
    n = th.size
    if n == 0:
        return th[:0]
    kk = min(k, n)
    m = n - kk + 1
    S = th[0:m].copy()
    for i in range(1, kk):
        S = S * _MIX ^ th[i:m + i]
    return S


def _kinds(kinds) -> tuple[str, ...]:
    """Validated ``kinds`` in ``KINDS`` order."""
    unknown = set(kinds) - set(KINDS)
    if unknown or not kinds:
        raise ValueError(f"kinds must be a non-empty subset of {KINDS}, "
                         f"got {tuple(kinds)!r}")
    return tuple(k for k in KINDS if k in kinds)


def _signer(cfg: DedupConfig, kinds: tuple[str, ...]):
    """The per-document signature function ``sign(text, cache) -> tuple``
    (one value per kind, in ``kinds`` order; ``cache`` is the batch-scoped
    token-hash dict).  Work for kinds not requested is skipped."""
    import hashlib

    from webdedup.functions.registry import get_tokenizer

    tokenizer = get_tokenizer(cfg.tokenizer)
    want_sim = "simhash" in kinds
    want_min = "minhash" in kinds
    want_sh = "shingles" in kinds
    want_anc = "anchors" in kinds
    want_grams = want_min or want_sh
    tokmix = cfg.hash_scheme == "tokmix"
    a, b = hashing.minhash_perms(cfg.minhash_perms, cfg.seed)
    empty_sig = [int(hashing.MERSENNE61)] * cfg.minhash_perms
    K, mod, k = cfg.anchor_tokens, cfg.anchor_mod, cfg.shingle_k
    md5 = hashlib.md5
    from_bytes = int.from_bytes
    u4, u28, u32 = np.uint64(4), np.uint64(28), np.uint64(32)

    def minsig(h32: np.ndarray) -> list[int]:
        if not h32.size:
            return empty_sig
        return [int(v) for v in hashing.perm_mod_p(a, b, h32).min(axis=1)]

    def sign(text, cache: dict) -> tuple:
        toks = tokenizer(text or "")
        out = {}
        if want_sim:
            out["simhash"] = _simhash_of_tokens(toks, cache)
        if tokmix and toks:
            # cfg.hash_scheme='tokmix': a vectorized _window_mix over the
            # cached per-token hashes replaces every per-shingle md5 (see
            # all_signatures)
            _hash_tokens(toks, cache)
            th = np.fromiter((cache[t] for t in toks), dtype=np.uint64,
                             count=len(toks))
            if want_grams:
                s5 = _window_mix(th, k)
                if want_sh:
                    out["shingles"] = [int(v) for v in np.unique(s5 >> u4)]
                if want_min:
                    out["minhash"] = minsig(np.unique(s5 >> u32))
            if want_anc:
                a60 = _window_mix(th, K) >> u4
                out["anchors"] = [int(v) for v in np.unique(
                    a60[a60 % np.uint64(mod) == 0])]
            return tuple(out[c] for c in kinds)
        if want_grams:
            # md5 scheme: ONE digest per 5-gram serves both hash widths —
            # 60 digest bits == 15 hex chars (h60), h32 = h60 >> 28; the
            # shingle list keeps first-occurrence order
            sh60: dict[int, None] = {}
            for g in shingles_py(toks, k):
                v = from_bytes(md5(g.encode()).digest()[:8], "big") >> 4
                sh60[v] = None
            if want_sh:
                out["shingles"] = list(sh60)
            if want_min:
                h60 = np.fromiter(sh60, dtype=np.uint64, count=len(sh60))
                out["minhash"] = minsig(np.unique(h60 >> u28))
        if want_anc:
            # 16-gram winnowing sample (substring module doc)
            anch: dict[int, None] = {}
            for g in shingles_py(toks, K):
                h = from_bytes(md5(g.encode()).digest()[:8], "big") >> 4
                if h % mod == 0:
                    anch[h] = None
            out["anchors"] = list(anch)
        return tuple(out[c] for c in kinds)

    return sign


def all_signatures(df, cfg: DedupConfig = DEFAULT,
                   id_col: str = "doc_id", text_col: str = "text",
                   kinds: tuple[str, ...] = KINDS):
    """One ``mapInPandas`` pass computing the requested per-doc signatures:

        (id, simhash:long, minhash:array<long>, shingles:array<long>,
         anchors:array<long>)

    ``kinds`` selects a non-empty subset of ``KINDS``; the output holds
    ``id`` plus the requested columns in ``KINDS`` order, and the work for
    the other kinds is skipped.  Unknown kinds raise ``ValueError``.  Any
    subset equals the full pass projected to it.

    Fusing matters twice at scale: (1) tokenization runs once per document
    instead of once per signature kind; (2) the 5-gram md5 digest is shared
    between the 60-bit shingle hash and the 32-bit MinHash input — md5 work
    for the two heaviest signals is halved.  And operationally it is ONE
    stage (one scan, one Python roundtrip, one write).

    Under the default ``cfg.hash_scheme='md5'`` the values equal the
    driver-side references (``_simhash_of_text``, ``_minhash_of_text``,
    first-occurrence ``h60_py`` shingles, ``oracle`` anchors) and the
    DuckDB twins.

    ``cfg.hash_scheme='tokmix'`` (production opt-in, VERDICT r3 #3): the
    per-shingle md5 — the measured floor of this stage — is replaced by a
    vectorized ``_window_mix`` over the per-token 64-bit hashes (the ones
    SimHash uses, computed whether or not ``simhash`` is requested).  md5
    calls drop from O(#shingles · shingle_chars) to O(#distinct tokens ·
    token_chars); shingle identity is preserved (equal token windows ⟹
    equal hashes, 60-bit collision mass negligible), so dedup SEMANTICS
    are unchanged while hash VALUES differ — no DuckDB twin, recall gate
    pytest-covered (``test_pipeline_recall_tokmix``), measured in BENCH.md
    §tokmix.

    No partition guard here: the pipeline's ``signatures`` stage reads a
    documents table spread to ``defaultParallelism`` partitions, fewer than
    ``spark.sql.shuffle.partitions``, so a guard would add an Exchange to
    that stage.  The operator views guard their inputs (``signature_view``).
    """
    from collections.abc import Iterator

    cols = _kinds(kinds)
    out_schema = StructType(
        [StructField("id", df.schema[id_col].dataType)]
        + [StructField(c, _KIND_TYPES[c]) for c in cols])
    sign = _signer(cfg, cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            cache: dict = {}
            rows = [sign(t, cache) for t in batch[text_col]]
            out = {"id": batch[id_col].to_numpy()}
            for j, c in enumerate(cols):
                out[c] = [r[j] for r in rows]
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def signature_view(df, cfg: DedupConfig = DEFAULT, id_col: str = "doc_id",
                   text_col: str = "text", kinds: tuple[str, ...] = KINDS):
    """``all_signatures`` over an input re-expanded when under-partitioned
    (r7): a small parquet scan arrives as 1-2 partitions and would run the
    tokenize+md5 pass — every signature operator's floor — on 1-2 cores;
    at scale the guard is a no-op (plans.partitions).  The operator views
    (``simhash_fingerprints``, ``minhash_signatures``, ``anchor_index``,
    the entry's ``_sigsets``) read the corpus through this."""
    from webdedup.plans.partitions import ensure_min_partitions
    df = ensure_min_partitions(df.select(id_col, text_col))
    return all_signatures(df, cfg, id_col, text_col, kinds=kinds)


def simhash64_udf(cfg: DedupConfig = DEFAULT) -> Column:
    """pandas UDF factory: text:string -> simhash:long — the scalar column
    binding of the kernel's per-document function, for projections that
    must keep every other row column (the stream's enrich step)."""
    sign = _signer(cfg, ("simhash",))

    @F.pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.map(lambda t: sign(t, cache)[0])

    return _udf


def vector_simhash_udf(cfg: DedupConfig = DEFAULT) -> Column:
    """pandas UDF factory: embedding:array<float> -> hyperplane simhash:long.

    Seeded projection matrix generated once on the driver and shipped in the
    UDF closure (the distributed analog of ``simhash.cpp:152-174``'s
    ``srand(42)`` hyperplanes); per batch it is a single matmul.
    """
    planes = hashing.hyperplanes(cfg.hyperplane_bits, cfg.embedding_dim, cfg.seed)
    nbits = cfg.hyperplane_bits

    @F.pandas_udf(LongType())
    def _udf(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)   # (batch, dim)
        bits = (X @ planes.T) > 0                          # (batch, nbits)
        # pack in uint64 (bit 63 would overflow int64 weights), then view
        # as two's-complement signed — Spark LongType semantics
        weights = np.uint64(1) << np.arange(nbits, dtype=np.uint64)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1).view(np.int64)
        return pd.Series(packed)

    return _udf
