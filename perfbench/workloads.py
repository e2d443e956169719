"""The benchmark's workloads, each run against the public API of webdedup.

A workload has a set-up, an op that the timed window repeats until
``--seconds`` have passed, and an output check run after the window.  A
failed check fails the ops whose output it covers.

- ``batch_9k``: ``plans.pipeline.run`` with ``driver.py``'s defaults over a
  seeded synthetic corpus; one op is one pipeline run up to the counted
  assignments.  The signature kernel and the matchers do most of the work.
  The run is cold, as every ``driver.py`` job is: no pipeline ran before.
- ``stream_backfill``: a signature store seeded from the corpus, then one
  ``incremental_dedup(once=True, max_files_per_trigger=1)`` query per op
  drains a backlog of page-drop files (closed loop: a micro-batch starts
  when the previous one commits); the timing unit is the micro-batch.
  Reads beside writes, and the stream's join-shaped SimHash matcher on the
  blocking path.
- ``query_suite``: one pass over the 18 headline queries of
  ``__spark_entry__.queries()``, each forced with ``count()`` after
  ``reset_memo()``.  Small inputs, so per-job floors, driver probes, the
  shared memo frames and ``operators.similarity`` dominate.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from contextlib import nullcontext
from itertools import combinations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import suite as suite_mod
from spans import ENTRY_LAYER, dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))

BATCH_GROUPS = 2_000          # about 9k docs
STREAM_GROUPS = 4_000         # about 18k pages: store seed + backlog
STREAM_STORE_PAGES = 8_000
STREAM_FILE_PAGES = 500
STREAM_WARMUP_FILES = 1
# files drained by one op: --seconds / this, about a micro-batch's time
# against the store on a 4-core host; a fixed number, so every run does
# the same work.  When micro-batches get faster the backlog, not the clock,
# ends the window (see ``Workload.can_run``).
STREAM_BATCH_S = 2.0
SETUP_REPEATS = 3
BATCH_CHECKSUMS = os.path.join(HERE, "batch_checksums.json")


class Workload:
    """Interface of a workload: ``setup``, ``op`` and ``check``.

    ``op`` returns ``(wall_s, docs, unit_times)``: ``unit_times`` holds one
    time per op unit (a pipeline run, a micro-batch, a suite pass), which
    the median and tail are taken over.
    """

    name = ""
    unit = ""

    def setup(self, run) -> None:
        raise NotImplementedError

    def op(self, run) -> tuple[float, int, list[float]]:
        raise NotImplementedError

    def units(self, n_ops: int) -> int:
        """Op units (attempted ops) in ``n_ops`` ops."""
        return n_ops

    def can_run(self, n_ops: int) -> bool:
        """Whether the inputs can feed ``n_ops`` more ops."""
        return True

    def check(self, run, n_ops: int) -> tuple[list[str], int]:
        """Problems found in the outputs, and how many of the op units of
        the ``n_ops`` timed ops they fail."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

class Batch(Workload):
    name = "batch_9k"
    unit = "pipeline run"

    def setup(self, run) -> None:
        from webdedup.sources.corpus import corpus_df
        spark = run.spark
        self.pages_dir = run.path("pages.parquet")

        def generate():
            corpus_df(spark, run.seed, BATCH_GROUPS).write.mode(
                "overwrite").parquet(self.pages_dir)
        run.setup_step("generate_s", generate)
        self.pages = spark.read.parquet(self.pages_dir)
        self.n_docs = _parquet_rows(self.pages_dir)
        run.detail("docs", self.n_docs, "count")

    def _pipeline(self, pages):
        from webdedup.plans import pipeline
        stages = fresh_dir(os.path.join(os.path.dirname(
            self.pages_dir), "stages"))
        # driver.py's defaults: 4 matchers, combo SimHash with the 0.3
        # estimate confirm, exact MinHash verify, metrics recorded
        result = pipeline.run(pages, stages, resume=False)
        result.assignments.count()
        return result

    def op(self, run):
        t0 = time.perf_counter()
        self.result = self._pipeline(self.pages)
        wall = time.perf_counter() - t0
        return wall, self.n_docs, [wall]

    def check(self, run, n_ops):
        from webdedup.sources.corpus import golden_pairs
        got = {r["id"]: r["cluster_id"] for r in
               self.result.assignments.select("id", "cluster_id").collect()}
        recall, precision = planted_scores(
            got, {(a, b) for a, b, _ in golden_pairs(run.seed, BATCH_GROUPS)})
        run.detail("recall", recall, "ratio")
        run.detail("precision", precision, "ratio")
        problems = []
        if recall < 0.99:
            problems.append(f"recall {recall:.6f} < 0.99")
        digest = clustering_checksum(got)
        run.detail("clustering_checksum", digest, "sha256")
        recorded = _load_json(BATCH_CHECKSUMS).get(str(run.seed))
        if recorded is None:
            run.detail("clustering_checksum_recorded", "none for this seed",
                       "")
        elif recorded != digest:
            problems.append(f"clustering checksum {digest[:12]} != recorded "
                            f"{recorded[:12]}")
        # every op clusters the same input; the last one's output is checked
        return problems, self.units(n_ops) if problems else 0


def planted_scores(assign: dict, truth: set) -> tuple[float, float]:
    """Pairwise recall and precision of a clustering against the planted
    duplicate pairs ``(a, b)``, ``a < b``."""
    clusters: dict = {}
    for url, cid in assign.items():
        clusters.setdefault(cid, []).append(url)
    pred = {tuple(sorted(p)) for urls in clusters.values()
            for p in combinations(urls, 2)}
    hit = len(truth & pred)
    return (hit / len(truth) if truth else 1.0,
            hit / len(pred) if pred else 1.0)


def clustering_checksum(assign: dict) -> str:
    """sha256 of the clustering in canonical form: each id with the least
    id of its cluster, sorted, so the cluster ids themselves do not
    matter."""
    least: dict = {}
    for url, cid in assign.items():
        if cid not in least or url < least[cid]:
            least[cid] = url
    h = hashlib.sha256()
    for url in sorted(assign):
        h.update(f"{url}\t{least[assign[url]]}\n".encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

DROP_SCHEMA = pa.schema([
    ("url", pa.string()),
    # microseconds, UTC: pandas' default nanosecond timestamps fail against
    # WEB_PAGES_SCHEMA with PARQUET_COLUMN_DATA_TYPE_MISMATCH
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def write_drop_file(pdf, path: str) -> None:
    table = pa.Table.from_pydict({
        "url": pdf["url"].tolist(),
        "warc_ts": pa.array(
            pdf["warc_ts"].to_numpy().astype("datetime64[us]"),
            type=pa.timestamp("us", tz="UTC")),
        "html": pdf["html"].tolist(),
        "text": pdf["text"].tolist(),
        "lang": pdf["lang"].tolist(),
    }, schema=DROP_SCHEMA)
    pq.write_table(table, path)


def drop_cuts(n_pages: int) -> list[int]:
    """Page offsets of the stream's files: the store seed, then the
    backlog of ``STREAM_FILE_PAGES``-page drop files."""
    return ([0] + list(range(STREAM_STORE_PAGES, n_pages, STREAM_FILE_PAGES))
            + [n_pages])


# a traced run drains a warm op and one untraced/traced pair at least
STREAM_MIN_OPS = 3


def stream_files_per_op(seconds: int, backlog: int) -> int:
    """Files drained by one op: ``seconds / STREAM_BATCH_S``, capped so
    that a backlog of ``backlog`` files feeds ``STREAM_MIN_OPS`` ops."""
    return min(max(2, round(seconds / STREAM_BATCH_S)),
               backlog // STREAM_MIN_OPS)


class Stream(Workload):
    name = "stream_backfill"
    unit = "micro-batch"

    def setup(self, run) -> None:
        from webdedup.sources.corpus import corpus_df
        spark = self.spark = run.spark
        self.staged = run.path("staged")      # complete files wait here
        self.drop = run.path("drop")          # the stream's input dir
        self.store = run.path("store")
        self.ckpt = run.path("checkpoint")

        def generate():
            for d in (self.staged, self.drop, self.store, self.ckpt):
                fresh_dir(d)
            pdf = corpus_df(spark, run.seed, STREAM_GROUPS).toPandas()
            pdf = pdf.iloc[np.random.RandomState(run.seed % 2**31)
                           .permutation(len(pdf))].reset_index(drop=True)
            names = []
            cuts = drop_cuts(len(pdf))
            for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
                name = f"{i:05d}.parquet"
                write_drop_file(pdf.iloc[a:b], os.path.join(self.staged,
                                                            name))
                names.append(name)
            self.queue = names
        run.setup_step("generate_s", generate)
        self.fed_bytes = 0
        # the store seed is the first file: micro-batch 0
        run.setup_step("seed_store_s", lambda: self._drain(1))
        run.setup_step("warmup_s", lambda: self._drain(STREAM_WARMUP_FILES))
        self.files_per_op = stream_files_per_op(run.seconds, len(self.queue))
        run.detail("store_pages", STREAM_STORE_PAGES, "count")
        run.detail("files_per_op", self.files_per_op, "count")

    def _feed(self, n: int) -> int:
        if len(self.queue) < n:
            raise RuntimeError("stream backlog exhausted")
        size = 0
        for name in self.queue[:n]:
            src = os.path.join(self.staged, name)
            size += os.path.getsize(src)
            # atomic: the file source never lists a half-written file
            os.rename(src, os.path.join(self.drop, name))
        self.queue = self.queue[n:]
        return size

    def _drain(self, n_files: int):
        from webdedup.streaming.incremental import incremental_dedup
        self.fed_bytes += self._feed(n_files)
        t0 = time.perf_counter()
        q = incremental_dedup(self.spark, self.drop, self.store, self.ckpt,
                              max_files_per_trigger=1, once=True)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        rows = sum(p.numInputRows for p in prog)
        return wall, rows, [p.durationMs["triggerExecution"] / 1000.0
                            for p in prog]

    def op(self, run):
        before = dir_bytes(self.store)
        fed = self.fed_bytes
        out = self._drain(self.files_per_op)
        run.count("streaming.incremental", "bytes_written",
                  dir_bytes(self.store) - before)
        run.count("streaming.incremental", "input_bytes",
                  self.fed_bytes - fed)
        return out

    def units(self, n_ops: int) -> int:
        return n_ops * self.files_per_op

    def can_run(self, n_ops: int) -> bool:
        return len(self.queue) >= n_ops * self.files_per_op

    def check(self, run, n_ops):
        from webdedup.operators.simhash_lsh import simhash_pairs
        from webdedup.streaming.incremental import (
            PAIRS_TABLE, compact_store, read_store,
        )
        spark = run.spark
        t0 = time.perf_counter()
        with run.traced("bench.compact"):
            compact_store(spark, self.store)
        run.detail("compact_store_s", time.perf_counter() - t0, "s")
        fed = spark.read.parquet(self.drop)
        n_fed = fed.select("url").distinct().count()
        want = {(r["a"], r["b"]) for r in simhash_pairs(
            fed, id_col="url", scheme="combo").select("a", "b").collect()}
        got = spark.read.parquet(os.path.join(self.store, PAIRS_TABLE))
        got_rows = [(r["a"], r["b"]) for r in got.select("a", "b").collect()]
        run.detail("stream_pairs", len(got_rows), "count")
        run.detail("batch_pairs", len(want), "count")
        problems = []
        if len(set(got_rows)) != len(got_rows):
            problems.append("stream emitted a pair twice")
        if set(got_rows) != want:
            problems.append(f"stream pairs != batch simhash_pairs "
                            f"({len(set(got_rows) - want)} extra, "
                            f"{len(want - set(got_rows))} missing)")
        snap = read_store(spark, self.store)
        n_rows, n_ids = snap.count(), snap.select("id").distinct().count()
        if not n_rows == n_ids == n_fed:
            problems.append(f"store after compaction: {n_rows} rows, "
                            f"{n_ids} urls, {n_fed} fed")
        # one pair set covers every micro-batch
        return problems, self.units(n_ops) if problems else 0


# ---------------------------------------------------------------------------
# query suite
# ---------------------------------------------------------------------------

class Suite(Workload):
    name = "query_suite"
    unit = "suite pass"

    def setup(self, run) -> None:
        import __spark_entry__ as entry
        self.entry = entry
        self.spark = run.spark
        self.sf_dir = run.path("sf")
        self.oracle = suite_mod.load_oracle()
        digests = []
        run.setup_step("generate_s",
                       lambda: digests.append(
                           suite_mod.make_suite_dir(self.sf_dir)),
                       SETUP_REPEATS)
        self.inputs_ok = digests[-1] == self.oracle["input_sha256"]
        self.problems: list[str] = []
        self.queries = entry.queries()
        self.query_times: dict[str, list[float]] = {
            q: [] for q in suite_mod.HEADLINE}
        self.bad: set[str] = set()
        # the warm-up pass collects every result and compares its hash with
        # the DuckDB twin's; timed passes force with count() and compare
        # the row count
        run.setup_step("warmup_s", lambda: self._pass(None, check_rows=True))
        run.detail("docs", suite_mod.SUITE_DOCS, "count")

    def _pass(self, tracer, check_rows=False) -> float:
        self.entry.reset_memo()
        t0 = time.perf_counter()
        for name in suite_mod.HEADLINE:
            want = self.oracle["queries"][name]
            if check_rows:
                df = self.queries[name](self.spark, self.sf_dir)
                got = suite_mod.result_hash(
                    df.columns, [tuple(r) for r in df.collect()])
                if got != want["hash"]:
                    self.bad.add(name)
                    self.problems.append(f"{name}: result hash != DuckDB twin")
                continue
            tq = time.perf_counter()
            with (tracer.span(f"{ENTRY_LAYER}.{name}", ENTRY_LAYER)
                  if tracer else nullcontext()):
                n = self.queries[name](self.spark, self.sf_dir).count()
            self.query_times[name].append(time.perf_counter() - tq)
            if n != want["rows"]:
                self.bad.add(name)
                self.problems.append(f"{name}: {n} rows != DuckDB twin's "
                                     f"{want['rows']}")
        return time.perf_counter() - t0

    def op(self, run):
        wall = self._pass(run.tracer)
        return wall, suite_mod.SUITE_DOCS, [wall]

    def units(self, n_ops: int) -> int:
        return n_ops * len(suite_mod.HEADLINE)

    def check(self, run, n_ops):
        for q, t in self.query_times.items():
            run.detail(f"query.{q}_s", float(np.median(t)), "s")
        run.detail("queries_matching_twin",
                   len(suite_mod.HEADLINE) - len(self.bad), "count")
        if not self.inputs_ok:
            # every result is suspect when the inputs are not the recorded
            return (["suite tables differ from the recorded inputs"]
                    + self.problems, self.units(n_ops))
        return sorted(set(self.problems)), len(self.bad) * n_ops


WORKLOADS = {w.name: w for w in (Batch, Stream, Suite)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _load_json(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}
