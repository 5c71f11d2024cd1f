"""The benchmark's own tests: statistics, span arithmetic, seeded
inputs and the metric names it prints. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, workloads  # noqa: E402
from perfbench.spans import Span, Tracer, self_times, span_self_times  # noqa: E402
from perfbench.stats import nearest_rank, quartiles, relative_spread  # noqa: E402


# --- nearest-rank percentile ------------------------------------------


def test_nearest_rank_on_ten_values():
    vals = [7, 1, 10, 3, 5, 2, 9, 4, 8, 6]
    assert nearest_rank(vals, 0.5) == 5
    assert nearest_rank(vals, 0.9) == 9
    assert nearest_rank(vals, 0.91) == 10
    assert nearest_rank(vals, 1.0) == 10
    assert nearest_rank(vals, 0.0) == 1
    assert nearest_rank(vals, 0.1) == 1
    assert nearest_rank(vals, 0.11) == 2


def test_nearest_rank_returns_a_sample_value():
    assert nearest_rank([4.0, 2.0], 0.5) == 2.0
    assert nearest_rank([3.5], 0.99) == 3.5
    with pytest.raises(ValueError):
        nearest_rank([], 0.5)
    with pytest.raises(ValueError):
        nearest_rank([1.0], 1.5)


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert quartiles(vals) == (q1, med, q3)
    assert relative_spread(vals) == pytest.approx((q3 - q1) / med)


def test_batch_latency_weighs_each_query_once():
    runs = [workloads.QueryRun("a", 0, 1.0), workloads.QueryRun("b", 1, 4.0),
            workloads.QueryRun("a", 2, 3.0), workloads.QueryRun("b", 3, 2.0),
            workloads.QueryRun("a", 4, 2.0)]
    # medians: a -> 2.0 s, b -> 2.0 s (nearest rank of two is the lower)
    assert workloads._mean_query_median_ms(runs) == pytest.approx(2000.0)
    assert workloads._mean_query_median_ms(runs[:2]) == pytest.approx(2500.0)


# --- span self time -----------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "search.op", 0.0, 10.0, None, 1),
        Span(1, "search.plan", 1.0, 3.0, 0, 1),
        Span(2, "search.plan", 2.0, 5.0, 0, 1),  # overlaps its sibling
        Span(3, "search.collect", 8.0, 12.0, 0, 1),  # clipped to the parent
        Span(4, "operators.bm25.bm25_scores", 1.5, 2.5, 1, 1),
    ]
    per_id = span_self_times(spans)
    assert per_id[0] == pytest.approx(10.0 - (4.0 + 2.0))  # [1,5] and [8,10]
    assert per_id[1] == pytest.approx(2.0 - 1.0)
    assert per_id[2] == pytest.approx(3.0)
    assert per_id[3] == pytest.approx(4.0)
    assert per_id[4] == pytest.approx(1.0)
    named = self_times(spans)
    assert named["search.plan"] == pytest.approx(4.0)
    # self times of a tree add up to the root's duration when children
    # stay inside their parents and do not overlap
    inner = [s for s in spans if s.id in (0, 1, 4)]
    assert sum(span_self_times(inner).values()) == pytest.approx(10.0)


def test_tracer_nests_per_thread_and_inherits_op():
    t = Tracer(True)
    with t.span("search.op", op=7):
        with t.span("search.plan"):
            pass

    def other():
        with t.span("search.op", op=8):
            pass

    th = threading.Thread(target=other)
    th.start()
    th.join(timeout=10)
    assert not th.is_alive()
    by_name = {(s.name, s.op): s for s in t.spans}
    root, child = by_name[("search.op", 7)], by_name[("search.plan", 7)]
    assert child.parent == root.id and root.parent is None
    assert by_name[("search.op", 8)].parent is None
    assert root.start <= child.start <= child.end <= root.end


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("search.op", op=1):
        pass
    assert t.wrap("x", lambda a: a + 1)(1) == 2
    assert t.spans == []


# --- seeded inputs --------------------------------------------------------


def test_same_seed_same_inputs():
    assert datagen.query_plan(5, 200) == datagen.query_plan(5, 200)
    assert datagen.query_plan(5, 200) != datagen.query_plan(6, 200)
    assert datagen.documents(5, 50) == datagen.documents(5, 50)
    assert datagen.write_texts(5, 4) == datagen.write_texts(5, 4)
    plan = datagen.query_plan(5, 500)
    assert all(3 <= len(q.split()) <= 5 and len(set(q.split())) == len(q.split()) for q in plan)
    assert len(set(plan)) < len(plan)  # some query strings repeat


def test_tables_are_byte_identical_for_a_seed(tmp_path, monkeypatch):
    small = {"documents": 40, "embeddings": 30, "events": 50, "orders": 20, "lineitem": 40}
    monkeypatch.setattr(datagen, "TABLE_ROWS", {**datagen.TABLE_ROWS, **small})
    datagen.write_tables(3, str(tmp_path / "a"))
    datagen.write_tables(3, str(tmp_path / "b"))
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes(), name


@pytest.mark.parametrize("clients", [1, 2, 4])
def test_op_plan_is_the_same_at_any_client_count(clients):
    plan = datagen.query_plan(9, 64)

    def run_op(op):
        time.sleep(0.001)
        return op, plan[op % len(plan)]

    results, busy = workloads.closed_loop(clients, 0.05, run_op)
    done = sorted(r for rs in results for r in rs)
    assert [op for op, _ in done] == list(range(len(done)))  # no gaps, no repeats
    assert all(q == plan[op % len(plan)] for op, q in done)
    assert len(busy) == clients and all(b > 0 for b in busy)


def test_closed_loop_runs_the_minimum_ops_per_client(monkeypatch):
    monkeypatch.setattr(workloads, "MIN_OPS_PER_CLIENT", 2)
    results, _busy = workloads.closed_loop(3, 0.0, lambda op: op)
    assert [len(rs) for rs in results] == [2, 2, 2]
    assert sorted(r for rs in results for r in rs) == list(range(6))


# --- metric names ---------------------------------------------------------


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_benchmark_json():
    bench = _benchmark_json()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == [
        (n, u, b) for n, (u, b) in workloads.END_TO_END.items()
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, (u, b) in workloads.per_layer_metrics().items()
    ]
    assert [w["name"] for w in bench["workloads"]] == ["serve-search", "batch-analytics"]
    assert any(m["name"] == "setup_s" and m["bound"] == max(x["bound"] for x in bench["end_to_end"])
               for m in bench["end_to_end"])


def test_printed_names_are_exactly_the_listed_ones():
    e2e = {"setup_s": (1.0, "s"), "ops_per_s": (2.0, "1/s"), "op_p50_ms": (3.0, "ms"),
           "peak_rss_mb": (4.0, "MB")}
    assert list(workloads.complete_metrics(e2e, trace=False)) == list(workloads.END_TO_END)
    with pytest.raises(ValueError):
        workloads.complete_metrics({k: v for k, v in e2e.items() if k != "setup_s"}, trace=False)
    with pytest.raises(ValueError):
        workloads.complete_metrics({**e2e, "latency_ms": (1.0, "ms")}, trace=False)
    with pytest.raises(ValueError):
        workloads.complete_metrics({**e2e, "setup_s": (1.0, "ms")}, trace=False)
    layered = workloads.complete_metrics({"session.start_s": (9.0, "s")}, trace=True)
    assert list(layered) == list(workloads.per_layer_metrics())
    assert layered["session.start_s"] == (9.0, "s")
    assert layered["engine.add_ms"] == (0.0, "ms")
