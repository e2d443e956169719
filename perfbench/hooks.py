"""Counts taken at layer boundaries in the traced run.

- ``verified_per_candidate`` of the two LSH layers: pairs a verify step
  kept over the candidate pairs it was given;
- ``bytes_written`` of the stage-table layers: growth of the ``work_dir``
  a call writes into.

Row counts are deferred until the op has finished (``Tracer.deferred``):
counting a lazy frame inside the op would materialise memoised frames
early and move their cost out of the layer that pays it.
"""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F

from spans import dir_bytes

SIMHASH = "operators.simhash_lsh"
MINHASH = "operators.minhash_lsh"
MINHASH_VERIFY = (f"{MINHASH}.minhash_edges",)


def _arg(fn, args, kwargs, name):
    return inspect.signature(fn).bind(*args, **kwargs).arguments.get(name)


def _count(df):
    return lambda: df.count()


def _bucket_pairs(bands):
    # the blocked kernel compares every pair inside a (table, band) bucket
    return lambda: (bands.groupBy("table_id", "band_key").count()
                    .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
                    .first()[0] or 0)


def _nearest(tracer, names):
    """The innermost open span of the calling thread named in ``names``,
    below the span of the call itself."""
    for sp in reversed(tracer.open_spans()[:-1]):
        if sp.name in names:
            return sp
    return None


class Hook:
    """Runs around a traced call: ``before`` returns a state that ``after``
    receives with the call's result."""

    def before(self, tracer, sp, fn, args, kwargs):
        return None

    def after(self, tracer, sp, fn, args, kwargs, out, state):
        pass


class HammingVerify(Hook):
    """``simhash_lsh.hamming_verify(cands, sigs, threshold)``: the
    join-shaped verify (the streaming path)."""

    def after(self, tracer, sp, fn, args, kwargs, out, _):
        tracer.deferred.append(
            (SIMHASH, "candidates", _count(_arg(fn, args, kwargs, "cands"))))
        tracer.deferred.append((SIMHASH, "verified", _count(out)))


class BlockedHamming(Hook):
    """``simhash_lsh.blocked_hamming_pairs(bands, ...)``: the bucket-local
    verify (the batch path)."""

    def after(self, tracer, sp, fn, args, kwargs, out, _):
        tracer.deferred.append(
            (SIMHASH, "candidates",
             _bucket_pairs(_arg(fn, args, kwargs, "bands"))))
        tracer.deferred.append((SIMHASH, "verified", _count(out)))


class MinhashVerify(Hook):
    """``minhash_lsh.minhash_edges``: verified pairs over candidates, counted
    at the innermost call (the identical-set collapse recurses once and
    expands cliques that were never candidates).  Candidates are the
    ``cands`` argument or the output of the candidate generator the call
    ran."""

    def before(self, tracer, sp, fn, args, kwargs):
        outer = _nearest(tracer, MINHASH_VERIFY)
        if outer is not None:
            tracer.marks.setdefault(outer.id, {})["nested"] = True
        cands = _arg(fn, args, kwargs, "cands")
        if cands is not None:
            tracer.marks.setdefault(sp.id, {}).setdefault(
                "cands", []).append(cands)
        return None

    def after(self, tracer, sp, fn, args, kwargs, out, _):
        mark = tracer.marks.pop(sp.id, {})
        if mark.get("nested"):
            return
        for c in mark.get("cands", ()):
            tracer.deferred.append((MINHASH, "candidates", _count(c)))
        tracer.deferred.append((MINHASH, "verified", _count(out[0])))


class CandidateGenerator(Hook):
    """``band_candidates``/``salted_band_candidates``/``minhash_candidates``
    called inside a ``minhash_edges`` call feed its verify."""

    def after(self, tracer, sp, fn, args, kwargs, out, _):
        owner = _nearest(tracer, MINHASH_VERIFY)
        if owner is not None:
            tracer.marks.setdefault(owner.id, {}).setdefault(
                "cands", []).append(out)


class WorkDirBytes(Hook):
    """Bytes a stage-table call adds under its ``work_dir``, measured at the
    outermost call of the layer.  The span is named after the stage table
    it writes (``plans.checkpoint.write[signatures]``), which breaks the
    lazily executed pipeline down by stage in the trace file."""

    def __init__(self, layer: str):
        self.layer = layer

    def before(self, tracer, sp, fn, args, kwargs):
        bound = inspect.signature(fn).bind(*args, **kwargs).arguments
        if "name" in bound:
            sp.name = f"{sp.name}[{bound['name']}]"
        elif "stage" in bound:
            sp.name = f"{sp.name}[{bound['stage']}]"
        if any(s.layer == self.layer for s in tracer.open_spans()[:-1]):
            return None
        wd = bound.get("work_dir")
        return (wd, dir_bytes(wd)) if wd else None

    def after(self, tracer, sp, fn, args, kwargs, out, before):
        if before is not None:
            wd, n0 = before
            tracer.counters[(self.layer, "bytes_written")] += max(
                0, dir_bytes(wd) - n0)


def default_hooks() -> dict:
    gen = CandidateGenerator()
    hooks = {
        f"{SIMHASH}.hamming_verify": HammingVerify(),
        f"{SIMHASH}.blocked_hamming_pairs": BlockedHamming(),
        f"{SIMHASH}.band_candidates": gen,
        f"{SIMHASH}.salted_band_candidates": gen,
        f"{MINHASH}.minhash_candidates": gen,
        f"{MINHASH}.minhash_edges": MinhashVerify(),
    }
    for layer, fns in (("plans.checkpoint", ("write", "materialize")),
                       ("plans.metrics", ("append_stage_metrics",
                                          "append_partition_lineage"))):
        for f in fns:
            hooks[f"{layer}.{f}"] = WorkDirBytes(layer)
    return hooks
