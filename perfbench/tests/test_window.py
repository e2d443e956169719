"""The timed window, and the stream backlog that feeds it."""

import json
import os

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_window_stops_when_inputs_run_out():
    left = [4]

    def op():
        left[0] -= 1
        return "done"

    out, why = run.timed_window(60, op, lambda: left[0] >= 1)
    assert out == ["done"] * 4 and why == "inputs exhausted"


def test_window_runs_one_op_even_without_inputs_for_more():
    out, why = run.timed_window(60, lambda: 1, lambda: False)
    assert out == [1] and why == "inputs exhausted"


def test_window_stops_at_seconds():
    out, why = run.timed_window(0, lambda: 1, lambda: True)
    assert out == [1] and why == "seconds reached"


def test_stream_files_per_op_is_capped_by_the_backlog():
    assert workloads.stream_files_per_op(10, 19) == 5
    assert workloads.stream_files_per_op(60, 19) == 6
    assert workloads.stream_files_per_op(2, 19) == 2


def test_stream_backlog_covers_a_traced_run_at_run_seconds():
    from webdedup.sources.corpus import corpus_rows
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    n_pages = len(corpus_rows(1, workloads.STREAM_GROUPS))
    # every file after the store seed (file 0) and the warm-up
    backlog = (len(workloads.drop_cuts(n_pages)) - 2
               - workloads.STREAM_WARMUP_FILES)
    per_op = workloads.stream_files_per_op(seconds, backlog)
    # the cap does not bind at run_seconds: each op drains seconds / 2 files
    assert per_op == round(seconds / workloads.STREAM_BATCH_S)
    assert backlog >= workloads.STREAM_MIN_OPS * per_op
