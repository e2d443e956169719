"""webdedup benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_9k --seed 1 --seconds 10 --trace 0

Workloads: ``batch_9k``, ``stream_backfill``, ``query_suite`` (see
``workloads.py``).  The run
sets up its session and inputs, repeats the workload's op for about
``--seconds`` seconds, checks the outputs, and prints one line per metric
followed, as the last line, by a JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run
and writes its spans to ``.perfbench/traces/``.  The exit code is 0 only
when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming.readwriter import DataStreamWriter

import hooks
import procfs
import sparkenv
import spans
import stats
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics: (name, unit).  An "op" is the workload's timing unit:
# a pipeline run (batch_9k), a micro-batch (stream_backfill), a suite pass
# (query_suite).
E2E = (
    ("setup_s", "s"),
    ("docs_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("cpu_s_per_op", "s"),
    ("peak_rss_mb", "MB"),
)
LAYER_KEYS = (
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("executor_cpu_s", "s"), ("python_cpu_s", "s"),
    ("shuffle_write_bytes", "B"),
)
LAYER_EXTRAS = (
    ("operators.simhash_lsh.verified_per_candidate", "ratio"),
    ("operators.minhash_lsh.verified_per_candidate", "ratio"),
    ("plans.checkpoint.bytes_written", "B"),
    ("plans.metrics.bytes_written", "B"),
    ("streaming.incremental.bytes_written_per_input_byte", "ratio"),
    ("spark.jobs", "count"),
    ("spark.local_checkpoints", "count"),
    ("trace.overhead_s", "s"),
)


# the end-to-end metric (and workload) each layer should move; a change to a
# layer is expected to leave the other pairings alone
LAYER_MOVES = {
    "functions.signatures": "docs_per_s, cpu_s_per_op on batch_9k",
    "operators.simhash_lsh":
        "docs_per_s on batch_9k; op_p50_s on stream_backfill",
    "operators.minhash_lsh": "docs_per_s on batch_9k; op_p50_s on query_suite",
    "operators.jaccard": "docs_per_s on batch_9k; op_p50_s on query_suite",
    "operators.substring": "docs_per_s on batch_9k; op_p50_s on query_suite",
    "operators.exact": "docs_per_s on batch_9k; op_p50_s on query_suite",
    "operators.components":
        "docs_per_s on batch_9k; op_p50_s on query_suite",
    "operators.represent": "docs_per_s on batch_9k; op_p50_s on query_suite",
    "operators.similarity": "op_p50_s on query_suite only",
    "operators.textstats": "op_p50_s on query_suite only",
    "plans.checkpoint": "docs_per_s on batch_9k only",
    "plans.metrics": "docs_per_s on batch_9k only",
    "plans.partitions": "docs_per_s on batch_9k only",
    "plans.pipeline": "docs_per_s on batch_9k only",
    "streaming.incremental":
        "docs_per_s, op_p50_s on stream_backfill only",
    "spark_entry": "op_p50_s on query_suite only",
    "spark": "op_p50_s on query_suite most; docs_per_s on batch_9k",
}


def layer_names() -> list[str]:
    return list(spans.LAYERS) + [spans.ENTRY_LAYER]


def per_layer_metrics() -> list[tuple[str, str]]:
    return ([(f"{layer}.{k}", u) for layer in layer_names()
             for k, u in LAYER_KEYS] + list(LAYER_EXTRAS))


class Run:
    """One benchmark run: its session, set-up timings, details and, when
    traced, its tracer."""

    def __init__(self, args, host: dict, sampler):
        self.seed, self.seconds = args.seed, args.seconds
        self.tracing = bool(args.trace)
        self.host, self.sampler = host, sampler
        self.work = os.path.join(ROOT, ".perfbench", "work", args.workload)
        self.spark = None
        self.tracer = None
        self.setup_parts: dict[str, float] = {}
        self.details: list[tuple[str, object, str]] = []

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_step(self, name: str, fn, repeats: int = 1) -> None:
        """Time ``fn`` ``repeats`` times and keep the median."""
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        self.setup_parts[name] = statistics.median(times)

    def detail(self, name: str, value, unit: str) -> None:
        self.details.append((name, value, unit))

    def count(self, layer: str, key: str, value: float) -> None:
        if self.tracer is not None and self.tracer.active:
            self.tracer.counters[(layer, key)] += value

    @contextmanager
    def traced(self, name: str):
        """A benchmark span with the tracer on (a no-op when not tracing)."""
        if self.tracer is None:
            yield
            return
        self.tracer.active = True
        try:
            with self.tracer.span(name, spans.BENCH_LAYER):
                yield
        finally:
            self.tracer.active = False


def timed_window(seconds: float, op, more) -> tuple[list, str]:
    """Repeat ``op`` for about ``seconds``: at least once, no op started
    that is expected to end after 1.5 x ``seconds``, and none once
    ``more()`` says the inputs cannot feed another.  Returns the ops'
    results and why the window ended."""
    out, t0 = [], time.perf_counter()
    while True:
        out.append(op())
        elapsed = time.perf_counter() - t0
        per_op = elapsed / len(out)
        if elapsed >= seconds:
            return out, "seconds reached"
        if elapsed + per_op > 1.5 * seconds:
            return out, "next op would end after 1.5 x seconds"
        if not more():
            return out, "inputs exhausted"


def measure(run: Run, wl) -> dict:
    run.sampler.reset_peak()
    c0 = run.sampler.cpu_s()
    ops, why = timed_window(run.seconds, lambda: wl.op(run),
                            lambda: wl.can_run(1))
    cpu = run.sampler.cpu_s() - c0
    run.detail("window_end", why, "")
    walls = [w for w, _, _ in ops]
    units = [u for _, _, us in ops for u in us]
    docs = sum(d for _, d, _ in ops)
    tail = stats.tail(units)
    run.detail("op_unit", wl.unit, "")
    run.detail("op_samples", len(units), "count")
    run.detail("op_times_s", " ".join(f"{u:.3f}" for u in units), "s")
    run.detail("op_tail_s", f"p{tail[0]}={tail[1]:.4f}" if tail
               else "n/a (fewer than 11 samples)", "s")
    run.detail("window_s", sum(walls), "s")
    run.detail("cpu_s", cpu, "s")
    run.detail("peak_rss_by_process", ", ".join(
        f"{comm} x{n} {mb:.0f} MB"
        for comm, (n, mb) in sorted(run.sampler.peak_by_comm.items())), "")
    return {
        "n_ops": len(ops),
        "metrics": {
            "setup_s": sum(run.setup_parts.values()),
            "docs_per_s": docs / sum(walls),
            "op_p50_s": statistics.median(units),
            "cpu_s_per_op": cpu / len(units),
            "peak_rss_mb": run.sampler.peak_mb,
        },
    }


def measure_traced(run: Run, wl) -> dict:
    """After one untraced op, so that both sides are warm, alternate an
    untraced and a traced op; per-layer numbers are per traced op, and the
    tracing overhead is the difference of the medians."""
    wl.op(run)

    def pair():
        plain = wl.op(run)[0]
        with run.traced(f"bench.{wl.name}_op"):
            traced = wl.op(run)[0]
        # row counts for the ratios, in a span of their own so their jobs
        # are claimed and no layer pays for them
        with run.traced("trace.counters"):
            run.tracer.run_deferred()
        return plain, traced

    ops, why = timed_window(run.seconds, pair, lambda: wl.can_run(2))
    run.detail("window_end", why, "")
    return {"n_ops": 1 + 2 * len(ops), "traced_ops": len(ops),
            "plain": [p for p, _ in ops],
            "traced": [t for _, t in ops],
            "overhead_s": statistics.median([t for _, t in ops])
            - statistics.median([p for p, _ in ops])}


def layer_metrics(run: Run, res: dict) -> tuple[dict, dict]:
    """Per-layer metrics per traced op, and the trace file's content."""
    jobs, stages = sparkenv.status_store(run.spark.sparkContext)
    tr = run.tracer
    acc = spans.attribute_jobs(tr.spans, jobs, stages)
    layers = spans.layer_totals(tr.spans, acc)
    n = res["traced_ops"]
    m = {}
    for layer in layer_names():
        t = layers.get(layer, {})
        for k, _ in LAYER_KEYS:
            m[f"{layer}.{k}"] = t.get(k, 0.0) / n
    c = tr.counters

    def ratio(layer, a, b):
        return c[(layer, a)] / c[(layer, b)] if c[(layer, b)] else 0.0
    for layer in ("operators.simhash_lsh", "operators.minhash_lsh"):
        m[f"{layer}.verified_per_candidate"] = ratio(layer, "verified",
                                                     "candidates")
    for layer in ("plans.checkpoint", "plans.metrics"):
        m[f"{layer}.bytes_written"] = c[(layer, "bytes_written")] / n
    m["streaming.incremental.bytes_written_per_input_byte"] = ratio(
        "streaming.incremental", "bytes_written", "input_bytes")
    m["spark.jobs"] = sum(a["jobs"] for a in acc.values()) / n
    m["spark.local_checkpoints"] = c[("spark", "local_checkpoints")] / n
    m["trace.overhead_s"] = res["overhead_s"]
    trace = {
        "per_layer": m, "traced_ops": n, "plain_op_s": res["plain"],
        "traced_op_s": res["traced"],
        "layers": layers, "functions": spans.by_name(tr.spans, acc),
        "counters": {f"{k[0]}.{k[1]}": v for k, v in c.items()},
        "spans": [s.as_dict() for s in tr.spans],
    }
    return m, trace


def start_tracer(run: Run) -> None:
    """Install the tracer: spans around the layers' public functions, a
    span around each ``foreachBatch`` call of a layer's micro-batch
    function, and a count of ``DataFrame.localCheckpoint`` calls."""
    sc = run.spark.sparkContext
    tr = run.tracer = spans.Tracer(
        set_group=lambda g: sparkenv.set_job_group(sc, g),
        py_cpu=sparkenv.python_worker_cpu_s)
    spans.install(tr, hooks.default_hooks())
    layer_of = {mod: layer for layer, mod in spans.LAYERS.items()}

    orig_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        layer = layer_of.get(getattr(func, "__module__", None))
        if layer is None:
            return orig_fb(self, func)

        def micro_batch(df, batch_id):
            with tr.span(f"{layer}.micro_batch", layer):
                return func(df, batch_id)
        return orig_fb(self, micro_batch)
    DataStreamWriter.foreachBatch = foreach_batch

    df_cls = type(run.spark.range(1))
    orig_lc = df_cls.localCheckpoint

    def local_checkpoint(self, *a, **kw):
        run.count("spark", "local_checkpoints", 1)
        return orig_lc(self, *a, **kw)
    df_cls.localCheckpoint = local_checkpoint


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def report(run: Run, wl, res: dict, metrics: dict, problems: list[str],
           failed: int, trace: dict | None) -> dict:
    """Print the metric lines and return the result object."""
    units = dict(per_layer_metrics() if run.tracing else E2E)
    for k, v in run.host.items():
        print(f"host.{k} {v}")
    for k, v in run.setup_parts.items():
        print(f"setup.{k} {v:.4f} s")
    for name, value, unit in run.details:
        print(f"{name} {value:.6g} {unit}" if isinstance(value, float)
              else f"{name} {value} {unit}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    if trace is not None:
        path = os.path.join(ROOT, ".perfbench", "traces",
                            f"{wl.name}-seed{run.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(trace, f)
        print(f"trace {os.path.relpath(path, ROOT)}")
        print(f"{'layer':24s} {'wall_s':>8s} {'self_s':>8s} {'jobs':>6s} "
              f"{'exec_cpu':>8s} {'py_cpu':>8s}  moves")
        for layer in layer_names():
            print(f"{layer:24s} {metrics[layer + '.wall_s']:8.3f} "
                  f"{metrics[layer + '.self_s']:8.3f} "
                  f"{metrics[layer + '.jobs']:6.0f} "
                  f"{metrics[layer + '.executor_cpu_s']:8.3f} "
                  f"{metrics[layer + '.python_cpu_s']:8.3f}  "
                  f"{LAYER_MOVES[layer]}")
    for name, unit in units.items():
        print(f"metric {name} {metrics[name]:.6g} {unit}")
    attempted = wl.units(res["n_ops"])
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    host = sparkenv.host_settings(ROOT)
    wl = WORKLOADS[args.workload]()
    trace = None
    with procfs.TreeSampler() as sampler:
        run = Run(args, host, sampler)
        shutil.rmtree(run.work, ignore_errors=True)
        t0 = time.perf_counter()
        run.spark = sparkenv.start(ROOT, run.work, host, run.tracing)
        run.setup_parts["session_start_s"] = time.perf_counter() - t0
        try:
            if run.tracing:
                start_tracer(run)
            wl.setup(run)
            res = (measure_traced if run.tracing else measure)(run, wl)
            t0 = time.perf_counter()
            problems, failed = wl.check(run, res["n_ops"])
            run.detail("check_s", time.perf_counter() - t0, "s")
            if run.tracing:
                metrics, trace = layer_metrics(run, res)
                trace.update(workload=wl.name, seed=run.seed, host=host,
                             moves=LAYER_MOVES)
            else:
                metrics = res["metrics"]
        finally:
            t0 = time.perf_counter()
            sparkenv.stop(run.spark)
            run.detail("stop_s", time.perf_counter() - t0, "s")
        shutil.rmtree(run.work, ignore_errors=True)
    out = report(run, wl, res, metrics, problems, failed, trace)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "webdedup", "__init__.py")):
        print(f"perfbench: no webdedup package under {ROOT}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
