"""Tests of the benchmark's own arithmetic: span self time and the event-log
reader.  No Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog
from perfbench.spans import Span, Tracer, layer_self_times, self_times, subtree, union_length

TINY_LOG = os.path.join(os.path.dirname(__file__), "testdata", "eventlog_tiny.jsonl")


def test_union_length_merges_overlaps_and_nesting():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3)]) == 3          # overlap
    assert union_length([(0, 10), (2, 3)]) == 10        # nested
    assert union_length([(5, 6), (0, 1)]) == 2          # disjoint, unsorted
    assert union_length([(0, 1), (1, 2)]) == 2          # touching


def _spans():
    # root [0, 10]
    #   a [1, 4]  (extract)   -> grandchild g [2, 3] (sources)
    #   b [3, 6]  (extract)   overlaps a
    #   c [9, 12] (sink)      runs past the root's end
    return [
        Span(0, "bench", "root", None, 0.0, 10.0),
        Span(1, "extract", "a", 0, 1.0, 4.0),
        Span(2, "extract", "b", 0, 3.0, 6.0),
        Span(3, "sink", "c", 0, 9.0, 12.0),
        Span(4, "sources", "g", 1, 2.0, 3.0),
    ]


def test_self_time_is_span_minus_union_of_children():
    st = self_times(_spans())
    assert st[0] == pytest.approx(10 - (5 + 1))  # children cover [1,6] and [9,10]
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_layer_self_times_and_subtree():
    spans = _spans()
    by_layer = layer_self_times(spans)
    assert by_layer == pytest.approx({"bench": 4, "extract": 5, "sink": 3, "sources": 1})
    assert sorted(subtree(spans, 1)) == [1, 4]
    assert sorted(subtree(spans, 0)) == [0, 1, 2, 3, 4]


def test_layer_self_times_add_up_to_root_for_sequential_calls():
    spans = [
        Span(0, "bench", "root", None, 0.0, 8.0),
        Span(1, "checkpoint", "w", 0, 0.5, 7.5),
        Span(2, "extract", "x", 1, 1.0, 2.0),
        Span(3, "sink", "p", 1, 2.5, 6.0),
        Span(4, "extract", "x", 1, 6.0, 7.0),
    ]
    assert sum(layer_self_times(spans).values()) == pytest.approx(8.0)


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_tracer_tags_jobs_with_innermost_span_and_restores_parent():
    sc = _FakeContext()
    tracer = Tracer(sc)
    seen = []

    class Mod:
        @staticmethod
        def call():
            seen.append(sc.props["spark.jobGroup.id"])
            return 7

    tracer.wrap(Mod, "call", "extract")
    with tracer.span("bench") as root:
        seen.append(sc.props["spark.jobGroup.id"])
        assert Mod.call() == 7
        seen.append(sc.props["spark.jobGroup.id"])
    tracer.unwrap_all()
    assert seen == ["bench-0", "bench-1", "bench-0"]
    assert sc.props["spark.jobGroup.id"] is None
    assert tracer.spans[1].parent == root.sid and tracer.spans[1].layer == "extract"
    assert Mod.call() == 7 and len(tracer.spans) == 2  # unwrapped: no new span


def test_event_log_reader_on_recorded_log():
    # recorded with local[2] (only the events and fields the reader uses kept):
    # group bench-0 ran spark.range(1000, numPartitions=2)
    # .repartition(2).count(); group bench-1 ran a mapInPandas over 2 partitions
    log = eventlog.read_event_log(TINY_LOG)
    assert set(j.group for j in log.jobs.values()) == {"bench-0", "bench-1"}
    assert all(j.end_ms >= j.start_ms for j in log.jobs.values())

    plain = log.stages_in(["bench-0"])
    python = log.stages_in(["bench-1"])
    assert plain and python
    assert not any(eventlog.is_decode_stage(s) for s in plain)
    assert any(eventlog.is_decode_stage(s) for s in python)

    t = eventlog.totals(plain)
    assert t["tasks"] == sum(len(s.tasks) for s in plain) > 0
    assert t["shuffle_write_bytes"] > 0
    assert t["python_bytes_sent"] == 0
    assert eventlog.totals(python)["python_bytes_sent"] > 0
    for s in plain + python:
        assert eventlog.task_skew(s) >= 1.0


def test_task_skew_is_max_over_median():
    stage = eventlog.Stage(0, 0, None, 0, tasks=[
        eventlog.Task(0, 10), eventlog.Task(0, 20), eventlog.Task(0, 60)])
    assert eventlog.task_skew(stage) == pytest.approx(3.0)
    assert eventlog.task_skew(eventlog.Stage(1, 0, None, 0)) == 0.0


def test_benchmark_json_lists_the_metrics_the_runs_print():
    import json

    from perfbench.workloads import PER_LAYER

    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == PER_LAYER
    assert [m["name"] for m in bench["end_to_end"]] == [
        "job_s", "docs_per_sec", "setup_s", "peak_rss_mb"]
