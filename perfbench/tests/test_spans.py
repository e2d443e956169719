import threading

import pytest

import spans
from spans import GROUP_PREFIX, Span


def S(id, start, end, parent=None, layer="L", py0=0.0, py1=0.0, name=None):
    return Span(id, name or f"{layer}.f{id}", layer, 1, parent, start, end,
                py0, py1)


def test_self_time_subtracts_covered_part_of_children():
    # parent 0..10; children 1..3 and 2..6 overlap (union 1..6), a child
    # reaching past the parent's end counts only inside it
    spans_ = [S(0, 0, 10), S(1, 1, 3, 0), S(2, 2, 6, 0), S(3, 9, 12, 0),
              S(4, 1.5, 2.5, 1)]
    selfs = spans.self_times(spans_)
    assert selfs[0][0] == pytest.approx(10 - 5 - 1)
    assert selfs[1][0] == pytest.approx(2 - 1)
    assert selfs[4][0] == pytest.approx(1)


def test_self_python_cpu_subtracts_children():
    spans_ = [S(0, 0, 10, py0=0, py1=5), S(1, 1, 2, 0, py0=1, py1=3)]
    assert spans.self_times(spans_)[0][1] == pytest.approx(3)


def test_layer_wall_counts_recursion_once():
    spans_ = [S(0, 0, 10, layer="A"), S(1, 1, 9, 0, layer="A"),
              S(2, 2, 4, 1, layer="B")]
    t = spans.layer_totals(spans_, {})
    assert t["A"]["wall_s"] == pytest.approx(10)
    assert t["A"]["self_s"] == pytest.approx(2 + 6)
    assert t["B"]["wall_s"] == pytest.approx(2)


def _job(jid, t, group=None, stages=()):
    return {"jobId": jid, "jobGroup": group, "submissionTime": t * 1000,
            "stageIds": list(stages)}


def _stage(sid, status="COMPLETE", cpu_ns=0, tasks=1, sw=0):
    return {"stageId": sid, "status": status, "executorCpuTime": cpu_ns,
            "numCompleteTasks": tasks, "shuffleWriteBytes": sw,
            "shuffleReadBytes": 0, "diskBytesSpilled": 0}


def test_jobs_attributed_by_group_over_time():
    # job 1 carries span 1's group although it is submitted inside span 2
    spans_ = [S(0, 0, 10), S(1, 1, 3, 0), S(2, 4, 8, 0)]
    jobs = [_job(1, 5, f"{GROUP_PREFIX}1", [1])]
    acc = spans.attribute_jobs(spans_, jobs, [_stage(1, cpu_ns=2e9)])
    assert acc[1]["jobs"] == 1 and acc[1]["executor_cpu_s"] == 2.0
    assert 2 not in acc


def test_jobs_without_group_go_to_innermost_span_at_submission():
    # a foreachBatch thread's spans nest under the op on the main thread
    spans_ = [S(0, 0, 10), S(1, 2, 6, 0), S(2, 3, 4, 1), S(3, 7, 9, 0)]
    jobs = [_job(1, 3.5, "stream-run-id", [1]), _job(2, 5, None, [2]),
            _job(3, 6.5, None, [3]), _job(4, 20, None, [4])]
    acc = spans.attribute_jobs(
        spans_, jobs, [_stage(i) for i in (1, 2, 3, 4)])
    assert acc[2]["jobs"] == 1
    assert acc[1]["jobs"] == 1
    assert acc[0]["jobs"] == 1
    # job 4 is submitted after every span: no span is charged for it
    assert 3 not in acc and sum(a["jobs"] for a in acc.values()) == 3


def test_shared_and_skipped_stages_count_once():
    spans_ = [S(0, 0, 10), S(1, 1, 2, 0), S(2, 3, 4, 0)]
    jobs = [_job(1, 1.5, f"{GROUP_PREFIX}1", [7]),
            _job(2, 3.5, f"{GROUP_PREFIX}2", [7, 8, 9])]
    stages = [_stage(7, tasks=4, sw=100), _stage(8, status="SKIPPED", tasks=4),
              _stage(9, tasks=2)]
    acc = spans.attribute_jobs(spans_, jobs, stages)
    assert acc[1]["tasks"] == 4 and acc[1]["shuffle_write_bytes"] == 100
    assert acc[2]["tasks"] == 2 and acc[2]["shuffle_write_bytes"] == 0


def test_tracer_nests_threads_under_the_main_threads_span():
    groups = []
    tr = spans.Tracer(set_group=groups.append)
    tr.active = True
    done = threading.Event()

    def side():
        with tr.span("S.batch", "S"):
            pass
        done.set()

    with tr.span("B.op", "B") as op:
        with tr.span("A.f", "A") as f:
            assert f.parent == op.id
        t = threading.Thread(target=side)
        t.start()
        t.join(timeout=10)
    assert done.is_set() and not t.is_alive()
    side_span = [s for s in tr.spans if s.name == "S.batch"][0]
    assert side_span.parent == op.id
    # only the main thread moves the job group, and restores it on exit
    assert groups == [f"{GROUP_PREFIX}{op.id}", f"{GROUP_PREFIX}{f.id}",
                      f"{GROUP_PREFIX}{op.id}", None]


def test_wrapped_function_is_plain_call_when_inactive():
    tr = spans.Tracer()
    calls = []
    traced = tr.wrap(lambda x: calls.append(x) or x, "L")
    assert traced(1) == 1
    assert tr.spans == []
    tr.active = True
    assert traced(2) == 2
    assert [s.layer for s in tr.spans] == ["L"] and calls == [1, 2]
