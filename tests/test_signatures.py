"""The signature kernel: every kind equals its driver-side reference, every
``kinds`` subset equals the full pass projected to it, and the operator
views pass ``cfg`` through to it."""

from __future__ import annotations

from dataclasses import replace
from itertools import combinations

import pytest

from webdedup import oracle
from webdedup.config import DEFAULT as CFG
from webdedup.functions.hashing import h60_py, minhash_perms
from webdedup.functions.signatures import (
    KINDS, _minhash_of_text, _simhash_of_text, all_signatures,
)
from webdedup.functions.tokenize import shingles_py, tokenize_py

from test_hashing import UNICODE_WS_SAMPLES

DEGENERATE = ["", "   ", " \t\n\x0b ", "one", "two words",
              "only four short tokens"]  # the last three: < shingle_k tokens

SUBSETS = [c for n in range(1, len(KINDS) + 1)
           for c in combinations(KINDS, n)]


def _texts(corpus_texts, n=None):
    fixture = sorted(corpus_texts.items())[:n]
    extra = [(f"z{i:02d}", t)
             for i, t in enumerate(DEGENERATE + UNICODE_WS_SAMPLES)]
    return dict(fixture + extra)


def _rows(spark, texts, cfg, kinds=KINDS):
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id string, text string")
    out = all_signatures(docs, cfg, kinds=kinds)
    assert out.columns == ["id", *kinds]
    return {r["id"]: r for r in out.collect()}


def test_kernel_equals_driver_references(spark, corpus_texts):
    texts = _texts(corpus_texts)
    got = _rows(spark, texts, CFG)
    assert set(got) == set(texts)
    perms = minhash_perms(CFG.minhash_perms, CFG.seed)
    for i, t in texts.items():
        r = got[i]
        assert r["simhash"] == _simhash_of_text(t), i
        assert r["minhash"] == _minhash_of_text(t, CFG, perms), i
        first = list(dict.fromkeys(
            h60_py(s) for s in shingles_py(tokenize_py(t), CFG.shingle_k)))
        assert r["shingles"] == first, i
        assert len(set(r["anchors"])) == len(r["anchors"]), i
        assert set(r["anchors"]) == oracle.anchor_set(t, CFG), i
    # non-vacuous: the fixture exercises sampled anchors and empty docs
    assert any(got[i]["anchors"] for i in got)
    assert got["z00"]["shingles"] == [] and got["z00"]["simhash"] == 0


@pytest.mark.parametrize("scheme", ["md5", "tokmix"])
def test_every_kinds_subset_equals_full_projection(spark, corpus_texts,
                                                   scheme):
    cfg = replace(CFG, hash_scheme=scheme)
    texts = _texts(corpus_texts, 40)
    full = _rows(spark, texts, cfg)
    for kinds in SUBSETS:
        part = _rows(spark, texts, cfg, kinds)
        assert {i: tuple(r) for i, r in part.items()} == {
            i: (i, *(full[i][k] for k in kinds)) for i in full}, kinds


def test_kinds_validation_and_canonical_order(spark):
    docs = spark.createDataFrame([("a", "x y")], "doc_id string, text string")
    assert all_signatures(docs, kinds=("anchors", "simhash")).columns == [
        "id", "simhash", "anchors"]
    for bad in ((), ("simhash", "bogus")):
        with pytest.raises(ValueError, match="kinds"):
            all_signatures(docs, kinds=bad)


def test_simhash_matchers_honour_tokenizer(spark):
    """The SimHash operators hash with ``cfg.tokenizer``: under 'alnum' the
    two punctuation variants of
    ``test_alnum_tokenizer_changes_signatures_only_with_punctuation`` are
    within the Hamming threshold, under the default whitespace split they
    are not."""
    from webdedup.operators import simhash_lsh

    clean = "the quick brown fox jumps over the lazy dog near the river bank"
    dirty = "the quick, brown fox; jumps over the lazy dog... near the river!"
    docs = spark.createDataFrame([("c", clean), ("d", dirty)],
                                 ["doc_id", "text"])
    alnum = replace(CFG, tokenizer="alnum")

    def pairs(frame):
        return {(r["a"], r["b"]) for r in frame.select("a", "b").collect()}

    assert pairs(simhash_lsh.simhash_pairs(docs, cfg=alnum)) == {("c", "d")}
    assert pairs(simhash_lsh.simhash_edges(docs, cfg=alnum)[0]) == {("c", "d")}
    assert pairs(simhash_lsh.simhash_pairs(docs, cfg=CFG)) == set()
    fps = {r["id"]: r["simhash"] for r in
           simhash_lsh.simhash_fingerprints(docs, cfg=alnum).collect()}
    sigs = _rows(spark, {"c": clean, "d": dirty}, alnum, ("simhash",))
    assert fps == {i: r["simhash"] for i, r in sigs.items()}
