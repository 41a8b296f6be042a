"""The benchmark's own arithmetic, on hand-written event logs and spans.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
No test here starts Spark.
"""

import json

import pytest

from perfbench import stats, trace


def _ev(kind, **fields):
    return json.dumps({"Event": kind, **fields})


def _job(jid, t_ms, tags=""):
    return _ev("SparkListenerJobStart", **{
        "Job ID": jid, "Submission Time": t_ms,
        "Properties": {"spark.job.tags": tags} if tags else {}})


def _stage_sub(sid, t_ms, tags="", attempt=0):
    return _ev("SparkListenerStageSubmitted", **{
        "Stage Info": {"Stage ID": sid, "Stage Attempt ID": attempt,
                       "Submission Time": t_ms},
        "Properties": {"spark.job.tags": tags} if tags else {}})


def _stage_done(sid, t0_ms, t1_ms, attempt=0):
    return _ev("SparkListenerStageCompleted", **{
        "Stage Info": {"Stage ID": sid, "Stage Attempt ID": attempt,
                       "Submission Time": t0_ms, "Completion Time": t1_ms}})


def _task(sid, run_ms, cpu_ns=0, gc_ms=0, sr=0, sw=0, spill=0, attempt=0):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": sid, "Stage Attempt ID": attempt,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}})


@pytest.fixture
def log():
    """Two tagged stages of one layer, one stage of another layer tagged
    twice (nested call), one stage with only Spark SQL's own tags, and one
    stage outside the window; times in ms since the epoch."""
    lines = [
        _job(0, 1_000, "ast_pass"),
        _stage_sub(0, 1_000, "ast_pass"),
        _task(0, 100, cpu_ns=50_000_000, gc_ms=10, sw=2_000_000),
        _task(0, 300, cpu_ns=150_000_000, gc_ms=20, sw=1_000_000),
        _task(0, 200, cpu_ns=100_000_000),
        _stage_done(0, 1_000, 2_000),
        _job(1, 1_500, "ast_pass"),
        _stage_sub(1, 1_500, "ast_pass"),
        _task(1, 50, sr=3_000_000, spill=4_000_000),
        _stage_done(1, 1_500, 2_500),
        _job(2, 3_000, "scan,dataflow"),
        _stage_sub(2, 3_000, "scan,dataflow"),
        _task(2, 400),
        _stage_done(2, 3_000, 3_500),
        _job(3, 4_000, "spark-session-1,spark-session-1-execution-root-id-7"),
        _stage_sub(3, 4_000, "spark-session-1"),
        _task(3, 600),
        _stage_done(3, 4_000, 4_200),
        _job(4, 9_000, "ast_pass"),
        _stage_sub(4, 9_000, "ast_pass"),
        _task(4, 1_000),
        _stage_done(4, 9_000, 9_500),
        '{"Event": "SparkListenerTaskEnd", "Stage ID"',  # torn last line
    ]
    return trace.parse_events(lines)


def test_parse_reads_tags_times_and_task_metrics(log):
    st = log.stages[(0, 0)]
    assert st.tags == {"ast_pass"}
    assert (st.submit, st.complete) == (1.0, 2.0)
    assert st.run_ms == [100, 300, 200]
    assert st.cpu_ns == 300_000_000 and st.gc_ms == 30
    assert log.stages[(2, 0)].tags == {"scan", "dataflow"}
    assert log.stages[(3, 0)].tags == frozenset()
    assert log.jobs[2] == (frozenset({"scan", "dataflow"}), 3.0)


def test_window_selects_stages_and_jobs(log):
    window = [(0.5, 5.0)]
    assert len(trace.stages_in(log, window)) == 4
    assert trace.jobs_in(log, window) == 4
    assert trace.jobs_in(log, window, "ast_pass") == 2
    assert trace.jobs_in(log, window, "dataflow") == 1


def test_layer_metrics_fold(log):
    m = trace.layer_metrics(trace.stages_in(log, [(0.5, 5.0)]), "ast_pass")
    # stage intervals [1, 2] and [1.5, 2.5] overlap: union is 1.5 s
    assert m["busy_s"] == pytest.approx(1.5)
    assert m["task_run_s"] == pytest.approx(0.65)
    assert m["jvm_cpu_s"] == pytest.approx(0.3)
    assert m["tasks"] == 4
    # heaviest stage is stage 0 (600 ms): max 300 / median 200
    assert m["task_skew"] == pytest.approx(1.5)
    assert m["shuffle_write_mb"] == pytest.approx(3.0)
    assert m["shuffle_read_mb"] == pytest.approx(3.0)
    assert m["spill_mb"] == pytest.approx(4.0)
    assert m["gc_s"] == pytest.approx(0.03)


def test_layer_without_stages_is_zero(log):
    m = trace.layer_metrics(trace.stages_in(log, [(0.5, 5.0)]), "callgraph")
    assert len(m) == 9 and all(v == 0 for v in m.values())


def test_untagged_share(log):
    stages = trace.stages_in(log, [(0.5, 5.0)])
    # 600 ms untagged of 650 + 400 + 600 ms
    assert trace.untagged_share(stages) == pytest.approx(600 / 1650)


def test_driver_gap(log):
    stages = trace.stages_in(log, [(0.5, 5.0)])
    # span [0.5, 5.0]; stages cover [1, 2.5], [3, 3.5], [4, 4.2] = 2.2 s
    assert trace.driver_gap((0.5, 5.0), stages) == pytest.approx(4.5 - 2.2)
    # a stage reaching past the span is clipped to it
    assert trace.driver_gap((2.0, 3.2), stages) == pytest.approx(1.2 - 0.7)


def test_self_time_subtracts_children_union():
    parent = trace.Span(0, "scan", 10.0, 20.0, None)
    kids = [trace.Span(1, "dataflow.flow", 11.0, 13.0, 0),
            trace.Span(2, "dataflow.flow", 12.0, 14.0, 0),
            trace.Span(3, "dataflow.flow", 19.0, 25.0, 0)]
    # children cover [11, 14] and [19, 20] inside the parent
    assert trace.self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)
    assert trace.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_spans_nest_per_thread_and_noop_when_disabled():
    class FakeSc:
        def __init__(self):
            self.tags, self.log = set(), []

        def addJobTag(self, t):
            self.tags.add(t)
            self.log.append(("+", t))

        def removeJobTag(self, t):
            self.tags.discard(t)
            self.log.append(("-", t))

    sc = FakeSc()
    off = trace.Tracer(sc=sc, enabled=False)
    with off.span("scan", tag="scan"):
        pass
    assert off.spans == [] and sc.log == []

    tr = trace.Tracer(sc=sc, enabled=True)
    with tr.span("scan", tag="scan"):
        with tr.span("dataflow.flow", tag="dataflow"):
            assert sc.tags == {"scan", "dataflow"}
    assert sc.tags == set()
    (outer,) = tr.named("scan")
    (inner,) = tr.named("dataflow.flow")
    assert inner.parent == outer.sid and outer.parent is None
    assert tr.children(outer) == [inner]


@pytest.mark.parametrize("n, want", [
    (1, None), (19, None), (20, (50.0, 10)), (39, (50.0, 20)),
    (40, (75.0, 30)), (100, (90.0, 90)), (1000, (99.0, 990)),
    (10_000, (99.9, 9990)),
])
def test_high_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.high_percentile(range(1, n + 1)) == want


def test_median_and_union_length():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([]) == 0.0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3
    assert stats.union_length([]) == 0
    assert stats.uncovered(0, 10, [(-5, 1), (9, 20)]) == 8


def test_benchmark_json_lists_what_a_traced_run_prints():
    """BENCHMARK.json's per-layer list is exactly the per-layer part of a
    traced run's JSON line, in the same units."""
    import os

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    names = list(run._layer_metrics(trace.Tracer(), trace.EventLog(),
                                    (0.0, 1.0)))
    names += ["session.start_s", "synth.gen_s", "trace.overhead_s"]
    assert listed == {n: run._unit(n) for n in names if run.in_json(n)}
