"""Tests of the benchmark's own machinery (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import types

import pytest

from perfbench import eventlog, run
from perfbench.reference import min_label_components
from perfbench.spans import Span, Tracer, assign_jobs, covered, self_times

DATA = os.path.join(os.path.dirname(__file__), "data")


# ------------------------------------------------------- union-find reference

def test_union_find_chain_with_out_of_order_ids():
    pairs = [(5, 3), (3, 9), (9, 1), (1, 7)]
    assert min_label_components(pairs) == {i: 1 for i in (1, 3, 5, 7, 9)}


def test_union_find_star():
    pairs = [("m", "z"), ("m", "b"), ("y", "m"), ("m", "q")]
    assert set(min_label_components(pairs).values()) == {"b"}


def test_union_find_two_components():
    pairs = [(10, 11), (21, 20), (12, 11)]
    assert min_label_components(pairs) == {10: 10, 11: 10, 12: 10,
                                           20: 20, 21: 20}


def test_union_find_chain_built_from_both_ends():
    # the two halves meet in the middle: the root must still be the min
    pairs = [(8, 9), (1, 2), (7, 8), (2, 3), (3, 7)]
    assert set(min_label_components(pairs).values()) == {1}


# --------------------------------------------------------------- self time

def _span(sid, name, start, end, parent=None, op=0):
    s = Span(sid, name, start, parent, op)
    s.end = end
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6), (8, 12)], 0, 10) == pytest.approx(7)
    assert covered([], 0, 10) == 0
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_with_overlapping_children():
    spans = [_span(0, "root", 0.0, 10.0),
             _span(1, "a", 1.0, 4.0, parent=0),
             _span(2, "b", 3.0, 6.0, parent=0),      # overlaps a
             _span(3, "a.x", 2.0, 3.0, parent=1),
             _span(4, "late", 8.0, 12.0, parent=0)]  # runs past root's end
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (5 + 2))
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(4)


def test_assign_jobs_picks_innermost_open_span():
    spans = [_span(0, "op", 0.0, 10.0), _span(1, "inner", 2.0, 5.0, parent=0)]
    jobs = [{"submit_s": 3.0, "counters": {"jobs": 1.0}},
            {"submit_s": 7.0, "counters": {"jobs": 1.0}},
            {"submit_s": 11.0, "counters": {"jobs": 1.0}}]
    assert assign_jobs(spans, jobs) == [1, 0, None]
    assert spans[0].spark == {"jobs": 1.0}
    assert spans[1].spark == {"jobs": 1.0}


def test_tracer_wraps_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    clock = iter([0.0, 1.0, 5.0, 7.0]).__next__
    t = Tracer(clock=clock)
    t.wrap(mod, "f", "mod.f")
    t.op = 3
    with t.span("op"):
        assert mod.f(1) == 2
    t.restore()
    assert mod.f is orig
    outer, inner = t.spans
    assert (outer.name, outer.start, outer.end, outer.op) == ("op", 0.0, 7.0, 3)
    assert (inner.name, inner.parent, inner.duration) == ("mod.f", 0, 4.0)


# ---------------------------------------------------------- event-log fold

def test_fold_canned_event_log():
    jobs = eventlog.fold(eventlog.read_events(os.path.join(DATA, "eventlog")))
    assert [j["job_id"] for j in jobs] == [0, 1]
    j0, j1 = (j["counters"] for j in jobs)
    assert jobs[0]["submit_s"] == pytest.approx(1000.5)
    assert j0["jobs"] == 1 and j0["stages"] == 2
    assert j0["executor_run_s"] == pytest.approx(3.0)
    assert j0["executor_cpu_s"] == pytest.approx(1.75)
    assert j0["jvm_gc_s"] == pytest.approx(0.1)
    assert j0["shuffle_write_mib"] == pytest.approx(3.0)
    assert j0["shuffle_read_mib"] == pytest.approx(3.0)
    assert j0["python_sent_mib"] == pytest.approx(1.0)
    assert j0["python_returned_mib"] == pytest.approx(0.5)
    # 250 ms ("timing") + 5e8 ns ("nsTiming") of worker start/init
    assert j0["python_worker_init_s"] == pytest.approx(0.75)
    # job 1 re-lists the finished stage 1 (skipped) and runs only stage 2
    assert j1["stages"] == 1
    assert j1["executor_run_s"] == pytest.approx(0.2)
    assert j1["shuffle_read_mib"] == 0


# ------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
