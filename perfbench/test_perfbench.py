"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import math
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads as wl  # noqa: E402


# -- percentiles and geomean -------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 90) == pytest.approx(3.7)
    assert stats.median([5.0]) == 5.0
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    # a 2x change on one of 12 values moves the geomean by 2**(1/12)
    base = [1.0] * 12
    assert stats.geomean([2.0] + base[1:]) / stats.geomean(base) \
        == pytest.approx(2 ** (1 / 12))
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


# -- failure accounting ------------------------------------------------------

def test_outcomes_count_errors_wrong_answers_and_deadlines():
    o = stats.Outcomes(deadline_s=1.0)
    assert o.record(0.5)
    assert not o.record(0.5, "wrong answer: values differ")
    assert not o.record(1.5)                      # past the deadline
    assert o.attempted == 3 and o.failed == 2
    assert o.error_rate == pytest.approx(2 / 3)
    assert o.reasons == {"wrong answer: values differ": 1,
                         "deadline exceeded": 1}


def test_outcomes_fail_everything_after_a_lost_session():
    o = stats.Outcomes(deadline_s=10.0)
    o.record(0.1)
    o.lose_session()
    assert not o.record(0.1)                      # even a clean reply
    assert o.failed == 1 and o.reasons == {"after lost session": 1}
    assert stats.Outcomes(1.0).error_rate == 0.0


def _bench(deadline_s=10.0):
    stats_ = types.SimpleNamespace(begin=lambda group: None)
    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(
        statusTracker=lambda: types.SimpleNamespace(
            getActiveJobsIds=lambda: [])))
    bench = run.Bench(spark, stats_, None, None)
    bench.outcomes = stats.Outcomes(deadline_s)
    return bench


def test_failed_operations_never_make_a_kind_faster():
    bench = _bench()

    def boom():
        raise RuntimeError("boom")

    def wrong(out):
        raise wl.CheckFailed("values differ")

    assert bench.op("q", lambda: 1, measured=True) == 1
    assert bench.op("q", boom, measured=True) is None
    assert bench.op("q", lambda: 1, measured=True, check=wrong) is None
    assert bench.op("r", boom, measured=True) is None
    ok = bench.samples["q"][0]
    assert bench.samples["q"][1:] == [run.DEADLINE_S, run.DEADLINE_S]
    assert ok < run.DEADLINE_S
    # a kind whose every sample failed stays in the result, at the deadline
    assert bench.samples["r"] == [run.DEADLINE_S]
    assert bench.outcomes.attempted == 4 and bench.outcomes.failed == 3
    bench.outcomes.lose_session()
    assert bench.op("r", lambda: 1, measured=True) is None
    assert bench.samples["r"] == [run.DEADLINE_S] * 2
    # unmeasured operations add no sample
    bench.op("s", boom)
    assert "s" not in bench.samples


def test_traced_windows_have_a_fixed_length():
    bench = _bench()
    assert run.window_seconds(bench, 5.0) == 5.0
    bench.tracer = spans.Tracer()
    assert run.window_seconds(bench, 5.0) == 0.0
    sent = []
    assert run.run_window(bench, 0.0, 1, sent.append,
                          min_ops=wl.MIN_REQUESTS) == wl.MIN_REQUESTS


def test_plan_nodes_are_read_after_the_second_write():
    pick = run.plan_nodes_after_second_write
    assert pick({"nodes_plan_nodes_after_writes": [34, 115, 400]}) == 115
    assert pick({"nodes_plan_nodes_after_writes": [34]}) == 0
    assert pick({}) == 0


class _FakeBench:
    def __init__(self):
        self.outcomes = stats.Outcomes(deadline_s=10.0)


def test_window_runs_whole_passes():
    bench, sent = _FakeBench(), []
    n = run.run_window(bench, 0.0, 4, sent.append)
    assert n == 4 and sent == [0, 1, 2, 3]
    assert run.run_window(bench, 0.0, 1, sent.append, min_ops=3) == 3


def test_window_fails_the_rest_of_the_pass_after_a_lost_session():
    bench = _FakeBench()

    def send(i):
        bench.outcomes.record(0.01, "Py4JNetworkError" if i == 1 else None)
        if i == 1:
            bench.outcomes.lose_session()

    assert run.run_window(bench, 60.0, 4, send) == 4
    assert bench.outcomes.attempted == 4 and bench.outcomes.failed == 3
    assert bench.outcomes.reasons["after lost session"] == 2


# -- spans and self time -----------------------------------------------------

def _span(layer, start, end, parent=None, jobs=0):
    return spans.Span(layer, start, end, parent, jobs)


def test_self_time_subtracts_children():
    s = [_span("registry", 0.0, 10.0),
         _span("operators.graph", 1.0, 6.0, parent=0),
         _span("spark.action", 2.0, 5.0, parent=1),
         _span("checkpoint", 7.0, 8.0, parent=0)]
    t = spans.layer_totals(s)
    assert t["registry"]["self_s"] == pytest.approx(10 - 5 - 1)
    assert t["operators.graph"]["self_s"] == pytest.approx(5 - 3)
    assert t["spark.action"]["self_s"] == pytest.approx(3)
    assert t["checkpoint"]["self_s"] == pytest.approx(1)
    assert t["registry"]["calls"] == 1


def test_self_time_counts_overlapping_children_once():
    s = [_span("a", 0.0, 10.0), _span("b", 1.0, 5.0, parent=0),
         _span("c", 4.0, 6.0, parent=0)]
    assert spans.layer_totals(s)["a"]["self_s"] == pytest.approx(5.0)


def test_jobs_inside_spark_spans_belong_to_the_calling_layer():
    s = [_span("registry", 0.0, 10.0, jobs=7),
         _span("operators.graph", 1.0, 6.0, parent=0, jobs=5),
         _span("spark.action", 2.0, 5.0, parent=1, jobs=4),
         _span("spark.action", 7.0, 8.0, parent=0, jobs=2)]
    t = spans.layer_totals(s)
    assert t["operators.graph"]["jobs"] == 5
    assert t["registry"]["jobs"] == 2
    assert t["spark.action"]["jobs"] == 0


def test_tracer_records_nested_spans_with_job_deltas():
    jobs = itertools.count()
    tr = spans.Tracer(job_count=lambda: next(jobs))
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert inner.jobs == 1 and outer.jobs == 3
    tr.add("c")
    tr.reset()
    assert tr.spans == [] and tr.counters == {}


def test_wrappers_open_spans_only_at_layer_boundaries():
    mod = types.ModuleType("fake_operators")

    def leaf(x):
        return x + 1

    def entry(x):
        return mod.leaf(x) * 2

    for fn in (leaf, entry):
        fn.__module__ = mod.__name__
        setattr(mod, fn.__name__, fn)
    tr = spans.Tracer()
    inst = spans.Instrumentation(tr)
    seen = []
    inst.wrap_module(mod, "operators.fake",
                     hooks={"entry": lambda a, k, out, s: seen.append(out)})
    assert mod.entry(1) == 4
    assert [s.layer for s in tr.spans] == ["operators.fake"]
    assert seen == [4]
    with tr.span("registry"):
        mod.leaf(1)
    assert [s.layer for s in tr.spans][-2:] == ["registry", "operators.fake"]
    inst.restore()
    assert mod.entry is entry and mod.leaf is leaf


# -- request stream and serve checks -----------------------------------------

IDS = [f"node_{i:03d}" for i in range(50)]
WARM = len(wl.READ_KINDS)


def _take(seed, n):
    """The first n requests after the warm-up."""
    return list(itertools.islice(wl.request_stream(seed, IDS), WARM,
                                 WARM + n))


def test_request_stream_is_deterministic_per_seed():
    assert _take(7, 60) == _take(7, 60)
    assert _take(7, 60) != _take(8, 60)


def test_request_stream_starts_with_one_read_of_each_kind():
    warm = list(itertools.islice(wl.request_stream(3, IDS), WARM))
    assert [k for k, _ in warm] == wl.READ_KINDS


def test_request_stream_mix_does_not_depend_on_the_seed():
    kinds = [k for k, _ in _take(3, 100)]
    assert kinds == [k for k, _ in _take(4, 100)]
    assert [i for i, k in enumerate(kinds) if k == wl.WRITE_KIND] \
        == list(range(wl.WRITE_AT, 100, wl.WRITE_EVERY))
    reads = [k.replace("query_cached", "query") for k in kinds
             if k != wl.WRITE_KIND]
    for i in range(0, len(reads), 5):
        assert sorted(reads[i:i + 5]) == sorted(wl.READ_KINDS)
    assert set(kinds) == set(wl.SERVE_KINDS)
    # the shortest window samples every kind
    assert set(kinds[:wl.MIN_REQUESTS]) == set(wl.SERVE_KINDS)


def test_request_stream_queries_hit_only_templates_sent_since_a_write():
    reqs = list(itertools.islice(wl.request_stream(1, IDS), 1000))
    assert all(c in wl.QUERY_TEMPLATES for k, c in reqs
               if k.startswith("query"))
    assert len({c["filters"][0]["value"] for k, c in reqs
                if k.startswith("query")}) == len(wl.QUERY_TEMPLATES)
    sent, previous = [], None
    for kind, cmd in reqs:
        if kind == wl.WRITE_KIND:
            sent = []
        elif kind == "query_cached":
            assert cmd in sent and previous == "query"
        elif kind == "query":
            assert cmd not in sent
            sent.append(cmd)
        if kind.startswith("query"):
            previous = kind


def test_serve_model_checks_read_your_write():
    model = wl.ServeModel()
    write = {"action": "update_rating", "node_id": "n1",
             "confirmation": 1.0, "contradiction": 0.25}
    assert model.wrote(write) == pytest.approx(0.5 + 0.2 - 0.05)
    get = {"action": "get_node", "node_id": "n1"}
    model.check(get, {"status": "ok", "node": {
        "node_id": "n1", "rating_truthfulness": 0.65}})
    with pytest.raises(wl.CheckFailed):
        model.check(get, {"status": "ok", "node": {
            "node_id": "n1", "rating_truthfulness": 0.5}})
    with pytest.raises(wl.CheckFailed):
        model.check(get, {"status": "ok", "node": {
            "node_id": "n2", "rating_truthfulness": 0.5}})
    assert wl.truthfulness_after(0.95, 1.0, 0.0) == 1.0
    assert wl.truthfulness_after(0.05, 0.0, 1.0) == 0.0


def test_serve_model_checks_order_and_depth():
    model = wl.ServeModel()
    search = {"action": "search", "query": "join"}
    model.check(search, {"status": "ok", "results": [
        {"combined_score": 0.9}, {"combined_score": 0.9},
        {"combined_score": 0.1}]})
    with pytest.raises(wl.CheckFailed):
        model.check(search, {"status": "ok", "results": [
            {"combined_score": 0.1}, {"combined_score": 0.9}]})
    trav = {"action": "traverse", "node_ids": ["a"], "max_depth": 2}
    model.check(trav, {"status": "ok", "nodes": [
        {"node_id": "a", "hop_distance": 0},
        {"node_id": "b", "hop_distance": 2}]})
    with pytest.raises(wl.CheckFailed):
        model.check(trav, {"status": "ok", "nodes": [
            {"node_id": "a", "hop_distance": 0},
            {"node_id": "b", "hop_distance": 3}]})
    with pytest.raises(wl.CheckFailed):
        model.check(search, {"status": "error", "error": "boom"})


# -- inputs ------------------------------------------------------------------

def test_datagen_is_deterministic_and_seeded():
    a, b, c = datagen.tables(1), datagen.tables(1), datagen.tables(2)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    for name, rows in datagen.ROWS.items():
        assert a[name].num_rows == rows == c[name].num_rows


def test_datagen_near_duplicates_and_unit_embeddings():
    t = datagen.tables(5)
    texts = t["documents"].column("text").to_pylist()
    dups = [x for x in texts if x.endswith(" dup")]
    assert dups and all(x.split(" dup")[0] in texts for x in dups)
    vec = t["embeddings"].column("embedding").to_pylist()[0]
    assert len(vec) == datagen.EMB_DIM
    assert math.sqrt(sum(v * v for v in vec)) == pytest.approx(1.0, abs=1e-5)
    assert wl.expected_units(texts) == len(set(texts))

