"""The benchmark's trace hooks (``perfbench/hooks.py``) find the functions
they wrap by name.  A rename in ``webdedup`` would silently drop a
per-layer count such as ``operators.minhash_lsh.verified_per_candidate``;
these tests fail instead."""

from __future__ import annotations

import importlib
import inspect
import sys
from pathlib import Path

from pyspark.sql import DataFrame

from webdedup.config import DEFAULT as CFG

# the benchmark's modules import each other by plain name, as run.py does
_PERFBENCH = str(Path(__file__).resolve().parent.parent / "perfbench")
sys.path.insert(0, _PERFBENCH)
try:
    import hooks
    import spans
finally:
    sys.path.remove(_PERFBENCH)

# the argument each hook reads from the call it wraps
HOOK_ARGS = {
    "operators.simhash_lsh.hamming_verify": "cands",
    "operators.simhash_lsh.blocked_hamming_pairs": "bands",
    "operators.minhash_lsh.minhash_edges": "cands",
    "plans.checkpoint.write": "work_dir",
    "plans.checkpoint.materialize": "work_dir",
    "plans.metrics.append_stage_metrics": "work_dir",
    "plans.metrics.append_partition_lineage": "work_dir",
}


def _resolve(key: str):
    layer, _, attr = key.rpartition(".")
    mod = importlib.import_module(spans.LAYERS[layer])
    return mod, getattr(mod, attr, None)


def test_every_hook_key_resolves_to_a_webdedup_function():
    keys = hooks.default_hooks()
    assert keys
    for key in keys:
        mod, fn = _resolve(key)
        assert inspect.isfunction(fn), key
        assert fn.__module__ == mod.__name__, key  # wrapped where defined
        arg = HOOK_ARGS.get(key)
        if arg is not None:
            assert arg in inspect.signature(fn).parameters, (key, arg)


def test_minhash_edges_returns_pairs_frame_first(spark):
    from webdedup.operators import minhash_lsh

    docs = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog again today"),
         ("b", "the quick brown fox jumps over the lazy dog again tonight")],
        ["doc_id", "text"])
    out = minhash_lsh.minhash_edges(docs, cfg=CFG, threshold=0.3)
    assert isinstance(out[0], DataFrame)  # MinhashVerify counts out[0]
    assert {(r["a"], r["b"]) for r in out[0].collect()} == {("a", "b")}
