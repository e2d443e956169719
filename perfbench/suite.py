"""The query-suite workload's fixed inputs, query list and result hashing.

The suite replays the 18 headline queries of ``__spark_entry__.queries()``
(the list the frozen ``bench.py`` times) over one fixed pair of tables
shaped like sf0.1's at half their size.  The tables are generated from
``SUITE_SEED`` rather than from the run's ``--seed``: the DuckDB twins of
the pair and cluster queries take minutes (``record_oracle.py``), so their
result hashes are recorded once in ``suite_oracle.json`` and every run
compares against them.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the shape of the sf0.1 `documents`/`embeddings` test tables at half their
# size: uniform tokens over a 30-word vocabulary, 5% planted near-dups that
# append one marker token, 5 languages, 20 sources; unit-norm 64-d vectors
# under 10 labels
SUITE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SUITE_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
SUITE_DIM = 64
SUITE_LABELS = 10


def suite_tables(seed: int, n_docs: int, n_vecs: int
                 ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(documents, embeddings) frames for the query suite."""
    rng = np.random.RandomState(seed % (2**31 - 1))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.rand() < 0.05:
            texts.append(texts[int(rng.randint(i))] + " dup")
            continue
        n = int(rng.randint(10, 101))
        texts.append(" ".join(SUITE_VOCAB[j] for j in
                              rng.randint(len(SUITE_VOCAB), size=n)))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [SUITE_LANGS[j] for j in
                 rng.randint(len(SUITE_LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vecs, SUITE_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.randint(SUITE_LABELS, size=n_vecs).astype(np.int32),
    })
    return docs, emb


def write_suite_tables(sf_dir: str, docs: pd.DataFrame,
                       emb: pd.DataFrame) -> None:
    """Write the frames as `<sf_dir>/{documents,embeddings}.parquet`, the
    layout `webdedup.sources.tables` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    emb_schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(pa.Table.from_pandas(emb, schema=emb_schema,
                                        preserve_index=False),
                   os.path.join(sf_dir, "embeddings.parquet"))


SUITE_SEED = 42
SUITE_DOCS = 2_500
SUITE_VECS = 1_000
ORACLE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "suite_oracle.json")

HEADLINE = (
    "token_stats", "subtoken_stats", "quality_scores", "lang_id",
    "doc_fingerprint",
    "simhash64", "simhash_pairs_combo", "minhash_lsh_pairs",
    "minhash_est_jaccard", "jaccard_pairs", "substring_pairs",
    "cluster_assignments", "representatives", "duplicate_sets",
    "pipeline_eval",
    "vector_signatures", "lsh_cosine_pairs", "ivf2_cosine_pairs",
)


def make_suite_dir(sf_dir: str) -> str:
    """Write the fixed suite tables; returns the sha256 of their content."""
    docs, emb = suite_tables(SUITE_SEED, SUITE_DOCS, SUITE_VECS)
    write_suite_tables(sf_dir, docs, emb)
    h = hashlib.sha256()
    h.update(docs.to_json(orient="values").encode())
    h.update(emb.to_json(orient="values").encode())
    return h.hexdigest()


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, under the normalisation
    ``tools/check_oracles.py`` compares with: columns sorted by name, floats
    at six decimals, rows sorted."""
    from tools.check_oracles import norm_rows
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in norm_rows(cols, rows):
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def load_oracle() -> dict:
    with open(ORACLE_FILE) as f:
        return json.load(f)
