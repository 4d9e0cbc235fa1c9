"""Self-tests for the benchmark's arithmetic; no Spark needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import random
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
import tracing  # noqa: E402
from gen_kgx import KgxModel, KgxSize  # noqa: E402


# -- percentile rule ---------------------------------------------------------

def test_tail_level_keeps_ten_samples_beyond():
    assert stats.tail_level(100) == pytest.approx(0.90)
    assert stats.tail_level(1000) == pytest.approx(0.99)
    assert stats.tail_level(20) == pytest.approx(0.50)
    assert stats.tail_level(19) is None


@pytest.mark.parametrize("n", [20, 37, 100, 250, 1000])
def test_tail_has_at_least_ten_samples_above(n):
    xs = list(range(n))
    value, label = stats.tail(xs)
    assert sum(1 for x in xs if x > value) >= 10
    assert label.endswith(f"of {n}")


def test_tail_falls_back_to_max_and_says_so():
    value, label = stats.tail([3.0, 1.0, 2.0])
    assert value == 3.0
    assert label == "max of 3"


def test_quantile_interpolates_like_numpy():
    assert stats.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert stats.quantile([10], 0.9) == 10
    assert stats.quantile([0, 10], 0.25) == 2.5


# -- open-loop due-time latency ----------------------------------------------

def test_open_loop_latency_counts_from_due_time():
    latency, late = stats.open_loop_latency(due=10.0, sent=12.5, done=13.0)
    assert latency == pytest.approx(3.0)  # includes the 2.5 s the send slipped
    assert late == pytest.approx(2.5)


def test_open_loop_latency_rejects_time_travel():
    with pytest.raises(ValueError):
        stats.open_loop_latency(due=1.0, sent=0.5, done=2.0)


def test_poisson_arrivals_fixed_count_and_window():
    rng = random.Random(7)
    due = stats.poisson_arrivals(40, 5.0, rng)
    assert len(due) == 40
    assert due == sorted(due)
    assert all(0.0 <= d < 5.0 for d in due)
    assert due == stats.poisson_arrivals(40, 5.0, random.Random(7))


# -- span self time ----------------------------------------------------------

def _span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0, 10, "root"), _span(2, 1, 2, 5, "a"),
             _span(3, 1, 6, 7, "b")]
    own = stats.self_times(spans)
    assert own == {1: pytest.approx(6.0), 2: pytest.approx(3.0), 3: pytest.approx(1.0)}


def test_self_time_counts_overlapping_children_once():
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 6), _span(3, 1, 4, 8)]
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, None, 0, 4), _span(2, 1, 3, 9)]
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


def test_layer_self_times_sum_to_root_wall():
    spans = [_span(1, None, 0, 10, "root"), _span(2, 1, 1, 4, "a"),
             _span(3, 2, 2, 3, "b"), _span(4, 1, 5, 9, "a")]
    layers = stats.layer_self_times(spans)
    assert layers == {"root": pytest.approx(3.0), "a": pytest.approx(6.0),
                      "b": pytest.approx(1.0)}
    assert sum(layers.values()) == pytest.approx(10.0)


def test_union_length():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_spark_jobs_attach_under_the_span_that_ran_them():
    tracer = tracing.Tracer()
    tracer.spans = [
        {"id": 1, "parent": None, "name": "api.handle", "rid": "r1",
         "start": 0.0, "end": 10.0, "group": "g1"},
        {"id": 2, "parent": 1, "name": "query.compiler.lookup", "rid": "r1",
         "start": 1.0, "end": 4.0},
        {"id": 3, "parent": None, "name": "api.handle", "rid": "r2",
         "start": 0.0, "end": 10.0, "group": "g2"},
    ]
    tracer._ids = iter(range(4, 100))  # noqa: SLF001
    tracing.attach_jobs(tracer, [
        {"job": 7, "group": "g1", "start": 2.0, "end": 5.0},
        {"job": 8, "group": "g1", "start": 6.0, "end": 7.0},
        {"job": 9, "group": "g2", "start": 2.0, "end": 3.0},
        {"job": 10, "group": "other", "start": 2.0, "end": 3.0},
    ])
    jobs = {s["job"]: s for s in tracer.spans if s["name"] == tracing.SPARK_JOB}
    assert (jobs[7]["parent"], jobs[7]["end"]) == (2, 4.0)  # clipped to lookup
    assert jobs[8]["parent"] == 1
    assert (jobs[9]["parent"], jobs[9]["rid"]) == (3, "r2")
    assert 10 not in jobs
    own = stats.layer_self_times(tracer.spans)
    assert own["query.compiler.lookup"] == pytest.approx(1.0)
    assert tracing.spark_time_by_rid(tracer.spans) == {
        "r1": pytest.approx(3.0), "r2": pytest.approx(1.0)}


# -- fanout figure -----------------------------------------------------------

def test_fanout_figure_leaves_out_the_first_of_each_kind():
    from serve_workload import FANOUT_ROUND, ROUNDS, _phase_metrics

    warm = {"hub_one_hop": [4.0, 2.0, 3.0][:ROUNDS],
            "neighbors": [0.1, 0.2, 0.3, 0.4] * ROUNDS}
    it = {k: iter(v) for k, v in warm.items()}
    fanout = [{"kind": "hub_one_hop", "sent": 0.0, "done": 100.0},
              {"kind": "neighbors", "sent": 0.0, "done": 50.0}]
    fanout += [{"kind": k, "sent": 0.0, "done": next(it[k])}
               for k in ROUNDS * FANOUT_ROUND]
    closed = [{"sent": 0.0, "done": 0.5}, {"sent": 1.0, "done": 2.0}]
    got = _phase_metrics({"closed": closed, "fanout": fanout})
    hub = statistics.median(warm["hub_one_hop"])
    assert got["heavy_s"] == pytest.approx((hub * 0.25) ** 0.5)
    assert got["p50_s"] == pytest.approx(0.75)
    assert got["ops_per_s"] == pytest.approx(4 / 0.75)


# -- failed_frac -------------------------------------------------------------

def test_failed_frac_counts_every_attempt():
    attempted, failed, frac = stats.failed_frac([True, False, True, False])
    assert (attempted, failed) == (4, 2)
    assert frac == pytest.approx(0.5)


def test_failed_frac_never_drops_failures_from_the_base():
    # a failure that produced no timing still counts against the total
    attempted, failed, frac = stats.failed_frac([False] + [True] * 9)
    assert attempted == 10 and failed == 1 and frac == pytest.approx(0.1)


def test_failed_frac_of_nothing():
    assert stats.failed_frac([]) == (0, 0, 0.0)


# -- reference answers -------------------------------------------------------

def test_model_flips_noncanonical_predicates():
    m = KgxModel(size=KgxSize(10, 0, 0, 0))
    m.add("SB:1", "biolink:treated_by", "SB:2")
    assert m.triples == {("SB:2", "biolink:treats", "SB:1")}
    assert m.neighbors("SB:1") == ["SB:2"]
    assert m.edges_between(["SB:1"], ["SB:2"]) == m.triples


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
