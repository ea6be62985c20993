"""The event-log reader and self-time split on a small canned log.

    python3 -m pytest perfbench/tests -q

The log (canned_eventlog.jsonl) holds one job of two stages on a
2-slot executor: stage 0 scans (2 tasks), stage 1 runs Python, sorts
and writes (2 tasks); a second job starts after the pass and must be
dropped. Times are epoch seconds 1000..1010; the expected numbers are
worked out by hand in the comments."""

from __future__ import annotations

import os

import pytest

from perfbench.eventlog import (
    LAYERS,
    Span,
    coverage,
    link,
    pass_metrics,
    read_events,
    self_times,
    spark_spans,
)

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "canned_eventlog.jsonl")
CORES = 2


@pytest.fixture()
def traced():
    runner = [
        Span("pass-0", None, "pass", "pass-0", 1000.0, 1010.0),
        Span("call-1", "pass-0", "call", "sources.write_extracted", 1001.0, 1009.0),
    ]
    spark, acc = spark_spans(read_events(LOG))
    return runner, link(runner, spark), acc


def test_spans_have_parent_links(traced):
    _, spans, _ = traced
    parent = {s.id: s.parent for s in spans}
    assert parent["job-0"] == "call-1"
    assert parent["stage-0.0"] == parent["stage-1.0"] == "job-0"
    assert parent["task-0"] == parent["task-1"] == "stage-0.0"
    assert parent["task-2"] == parent["task-3"] == "stage-1.0"
    # job 1 starts at 1020, outside every runner span
    assert "job-1" not in parent and "stage-2.0" not in parent and "task-4" not in parent


def test_self_times_split_the_pass(traced):
    runner, spans, acc = traced
    got = self_times(spans, runner[0], CORES, acc)
    # idle slots: [1000,1001] pass -> bench 1.0; [1001,1002] and
    # [1008,1009] call -> driver 2.0; [1003,1004] one of two slots and
    # [1006.5,1008] one slot in a stage -> stage_tail 0.5 + 0.75;
    # [1004,1004.5] job between stages -> scheduler 0.5; [1009,1010]
    # pass -> bench 1.0.
    # task shares are half their duration (2 slots, never oversubscribed)
    # and split by their metrics: task0 scan 1.0, exchange 0.5, jvm
    # remainder 0.5; task1 scan 0.5, jvm remainder 0.5; task2 python
    # 2.0, write remainder 1.5; task3 python 1.0, sort 0.5, write 0.5.
    want = {
        "scan": 0.75,
        "exchange": 0.25,
        "python": 1.5,
        "arrow_jvm": 0.0,
        "sort": 0.25,
        "write": 1.0,
        "jvm": 0.5,
        "stage_tail": 1.25,
        "scheduler": 0.5,
        "driver": 2.0,
        "bench": 2.0,
    }
    assert set(got) == set(LAYERS)
    for layer, secs in want.items():
        assert got[layer] == pytest.approx(secs), layer
    assert sum(got.values()) == pytest.approx(runner[0].duration)


def test_pass_metrics(traced):
    runner, spans, acc = traced
    m = pass_metrics(spans, runner[0], CORES, acc)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 4
    assert m["sources.rows_read"] == 100
    assert m["sources.scan_s"] == pytest.approx(1.5)
    assert m["sources.write_s"] == pytest.approx(2.0)
    assert m["sources.bytes_written"] == 5000
    assert m["pipeline.shuffle_write_s"] == pytest.approx(0.5)
    assert m["pipeline.shuffle_bytes"] == 1000
    assert m["pipeline.py_run_s"] == pytest.approx(3.0)
    assert m["pipeline.sort_s"] == pytest.approx(0.5)
    # MapInPandas rows per task 300 and 100: max over median 300 / 200
    assert m["pipeline.partition_skew"] == pytest.approx(1.5)
    # 2 slots x 10 s minus 2 + 1 + 3.5 + 2 task seconds
    assert m["spark.idle_core_s"] == pytest.approx(11.5)
    assert m["spark.task_s_p50"] == pytest.approx(2.0)
    assert m["spark.task_s_max"] == pytest.approx(3.5)
    assert m["spark.executor_cpu_s"] == pytest.approx(2.0)
    assert m["spark.gc_s"] == pytest.approx(0.1)


def test_coverage_counts_only_metric_backed_time(traced):
    runner, spans, acc = traced
    m = pass_metrics(spans, runner[0], CORES, acc)
    # backed: scan 0.75 + exchange 0.25 + python 1.5 + sort 0.25 +
    # write 1.0 = 3.75; catch-all: jvm 0.5 + stage_tail 1.25 +
    # scheduler 0.5 + driver 2.0 + bench 2.0 = 6.25; over job_s 5.0
    got = coverage(m, job_s=5.0)
    assert got["trace.coverage"] == pytest.approx(0.75)
    assert got["trace.unattributed"] == pytest.approx(1.25)
