"""Tests of the benchmark's own logic on tiny inputs (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import spec
from perfbench.stats import NAME_RE, UNIT_RE, percentile, summarize, tail_percentile
from perfbench.trace import Patcher, Span, Tracer, covered, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------- percentile rule


@pytest.mark.parametrize("n", [1, 10, 11, 20])
def test_no_tail_percentile_below_21_samples(n):
    assert tail_percentile(n) is None
    assert summarize([1.0] * n)["tail"] is None


@pytest.mark.parametrize("n,p", [(21, 52), (40, 75), (100, 90), (200, 95), (1000, 99), (5000, 99)])
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", range(21, 400, 7))
def test_tail_percentile_leaves_ten_samples_beyond_and_no_higher_one_does(n):
    p = tail_percentile(n)
    xs = list(range(n))
    beyond = sum(1 for x in xs if x > percentile(xs, p))
    assert beyond >= 10
    if p < 99:
        assert sum(1 for x in xs if x > percentile(xs, p + 1)) < 10


def test_summarize_reports_median_count_and_tail():
    s = summarize([float(x) for x in range(1, 101)])
    assert s["median"] == 50.5 and s["n"] == 100
    assert s["tail"] == ("p90", 90.0)


# --------------------------------------------------------- span self time


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "t", "r")


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        _span(1, "job", 0.0, 10.0),
        _span(2, "bucket", 1.0, 5.0, 1),  # pool thread A
        _span(3, "bucket", 3.0, 7.0, 1),  # pool thread B, overlaps A
        _span(4, "write", 3.5, 4.0, 3),
        _span(5, "late", 9.0, 12.0, 1),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 6 - 1)  # [1,7] and [9,10] covered
    assert st[3] == pytest.approx(3.5)
    assert st[4] == pytest.approx(0.5)


def test_pool_thread_spans_take_the_creating_threads_open_span_as_parent():
    tr = Tracer("run")

    def bucket(i):
        with tr.span(f"bucket{i}"):
            with tr.span("write"):
                time.sleep(0.05)

    with tr.span("job") as job_id:
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(bucket, range(3)))
    by_name = {s.name: s for s in tr.spans}
    buckets = [s for s in tr.spans if s.name.startswith("bucket")]
    assert all(b.parent == job_id for b in buckets)
    assert {s.parent for s in tr.spans if s.name == "write"} == {b.id for b in buckets}
    assert all(b.thread != threading.current_thread().name for b in buckets)
    job = by_name["job"]
    union = covered([(b.start, b.end) for b in buckets])
    assert self_times(tr.spans)[job.id] == pytest.approx(job.dur - union)
    # three buckets ran concurrently, so the union is far less than their sum
    assert union < 0.8 * sum(b.dur for b in buckets)


def test_patcher_wraps_and_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    p = Patcher()
    p.wrap(Box, "f", lambda fn: lambda x: fn(x) * 10)
    assert Box.f(1) == 20
    p.restore()
    assert Box.f(1) == 2


# ------------------------------------------------- names and BENCHMARK.json


def test_metric_names_and_units_are_well_formed():
    for name, (unit, better, _layer) in {**spec.END_TO_END, **spec.PER_LAYER}.items():
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(unit), (name, unit)
        assert better in ("lower", "higher")
    assert not set(spec.END_TO_END) & set(spec.PER_LAYER)


def test_benchmark_json_lists_the_declared_metrics(bench_json):
    for key, declared in (("end_to_end", spec.END_TO_END), ("per_layer", spec.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in bench_json[key]}
        assert listed == {n: (u, b) for n, (u, b, _l) in declared.items()}
    assert [w["name"] for w in bench_json["workloads"]] == list(spec.WORKLOAD_NAMES)


@pytest.mark.parametrize("trace", [False, True])
def test_printed_metrics_agree_with_benchmark_json(bench_json, trace):
    values = {n: 1.5 for n in spec.declared(trace)}
    line = json.loads(spec.result_line(True, 3, 0, values, trace))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in bench_json["per_layer" if trace else "end_to_end"]}
    assert {n: m["unit"] for n, m in line["metrics"].items()} == want
    with pytest.raises(KeyError):
        spec.result_line(True, 1, 0, dict(list(values.items())[1:]), trace)


def test_benchmark_json_follows_its_contract(bench_json):
    assert set(bench_json) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert 2 <= len(bench_json["workloads"]) <= 8
    for w in bench_json["workloads"]:
        assert set(w) == {"name", "why"} and NAME_RE.match(w["name"]) and len(w["why"]) <= 200
    bounds = {m["name"]: m["bound"] for m in bench_json["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in bench_json["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench_json[k]]
    assert len(names) == len(set(names))
    assert isinstance(bench_json["run_seconds"], int) and 1 <= bench_json["run_seconds"] <= 60


def test_run_without_a_successful_traced_operation_still_prints_its_result():
    from perfbench.run import op_layer_medians

    vals, fails = op_layer_medians([])
    assert fails and all(v == 0.0 for v in vals.values())
    # what remains is measured outside the traced operations
    rest = set(spec.PER_LAYER) - set(vals)
    whole_run = {"spark.stderr_errors", "trace.overhead_s", "mem.peak_rss_mb"}
    assert all(k in whole_run or k.startswith(("codec.", "setup.", "stream.")) for k in rest)
    line = json.loads(
        spec.result_line(False, 3, 2, {**vals, **{k: 1.0 for k in rest}}, trace=True)
    )
    assert line["correct"] is False and set(line["metrics"]) == set(spec.PER_LAYER)


def test_op_layer_medians_take_the_median_per_metric():
    from perfbench.run import op_layer_medians

    vals, fails = op_layer_medians([{"a": 1.0}, {"a": 5.0}, {"a": 2.0}])
    assert vals == {"a": 2.0} and fails == []
