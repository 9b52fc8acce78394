"""The benchmark's own arithmetic, checked without Spark:

    python3 -m pytest perfbench/tests -q
"""

import random
import threading

import pytest

from perfbench.measure import (OpenLoopSample, Span, Tracer, apportion,
                               fail_ratio,
                               layer_self_times, percentile,
                               samples_beyond, self_times,
                               stratified_arrivals,
                               tail_percentile, union_length,
                               within_limit_ratio)
from perfbench.probes import parse_sql_metric


# --- percentiles ------------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)


def test_p90_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 10
    assert samples_beyond(90, 90) == 9
    assert tail_percentile(list(range(100)), 90) == pytest.approx(89.1)
    assert tail_percentile(list(range(90)), 90) is None
    # the median needs 20 samples to have ten beyond it
    assert tail_percentile(list(range(20)), 50) == 9.5
    assert tail_percentile(list(range(19)), 50) is None


# --- ratio bases ------------------------------------------------------------

def test_fail_ratio_is_failed_over_attempted():
    assert fail_ratio(attempted=40, failed=2) == 0.05
    assert fail_ratio(attempted=3, failed=0) == 0.0
    with pytest.raises(ValueError):
        fail_ratio(attempted=0, failed=0)


def test_within_limit_counts_failures_as_misses():
    lat = [0.1, 0.5, 2.5, 0.2]
    ok = [True, False, True, True]
    # base is all four attempts: the fast failure and the slow success
    # both miss the 2 s limit
    assert within_limit_ratio(lat, ok) == 0.5
    assert within_limit_ratio([2.0], [True]) == 1.0
    with pytest.raises(ValueError):
        within_limit_ratio([0.1], [True, False])
    with pytest.raises(ValueError):
        within_limit_ratio([], [])


# --- open loop --------------------------------------------------------------

def test_latency_is_timed_from_the_due_time():
    s = OpenLoopSample(due=10.0, sent=10.4, done=10.9, ok=True)
    assert s.latency == pytest.approx(0.9)
    assert s.late == pytest.approx(0.4)
    early = OpenLoopSample(due=10.0, sent=9.99, done=10.5, ok=True)
    assert early.late == 0.0
    assert early.latency == pytest.approx(0.5)


def test_arrivals_are_seeded_sorted_and_one_per_slot():
    a = stratified_arrivals(random.Random(7), 50, 20.0)
    assert a == stratified_arrivals(random.Random(7), 50, 20.0)
    assert a != stratified_arrivals(random.Random(8), 50, 20.0)
    assert len(a) == 50 and a == sorted(a)
    assert all(0.4 * i <= t < 0.4 * (i + 1) for i, t in enumerate(a))


def test_apportion_splits_exactly_by_largest_remainder():
    shares = {"point": 0.30, "region": 0.15, "stats": 0.15,
              "temporal": 0.10, "trend": 0.10, "anomaly": 0.10,
              "percentiles": 0.10}
    got = apportion(36, shares)
    assert sum(got.values()) == 36
    assert got["point"] == 11 and got["region"] == 5 and got["stats"] == 5
    assert apportion(100, shares)["region"] == 15
    assert apportion(3, {"a": 1, "b": 1}) == {"a": 2, "b": 1}


def test_api_draw_repeats_keys_the_same_way_on_every_seed():
    from perfbench.workloads.api_mixed import draw_urls, key_catalogue
    a = draw_urls(random.Random(1), key_catalogue(1)[0], 36)
    b = draw_urls(random.Random(2), key_catalogue(2)[0], 36)
    assert len(a) == len(b) == 36 and a != b
    assert len(set(a)) == len(set(b))          # same number of repeats
    assert sorted(u.split("?")[0] for u in a) == \
        sorted(u.split("?")[0] for u in b)     # same route counts


# --- spans and self time ----------------------------------------------------

def _span(sid, start, end, parent=None, name="x.y"):
    return Span(sid, name, start, end, parent, None)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0),
             _span(1, 1.0, 4.0, parent=0),
             _span(2, 3.0, 6.0, parent=0),       # overlaps span 1
             _span(3, 9.0, 12.0, parent=0)]      # runs past its parent
    st = self_times(spans)
    # children cover [1, 6] and [9, 10] of the parent: 6 of 10 seconds
    assert st[0] == pytest.approx(4.0)
    assert st[1] == pytest.approx(3.0)
    assert st[3] == pytest.approx(3.0)


def test_layer_self_time_sums_by_layer():
    spans = [_span(0, 0.0, 5.0, name="loadgen.request"),
             _span(1, 1.0, 4.0, parent=0, name="http_server.handle"),
             _span(2, 1.5, 2.0, parent=1, name="sources.catalog_load"),
             _span(3, 2.0, 3.5, parent=1, name="serving.cached")]
    got = layer_self_times(spans)
    assert got == pytest.approx({"loadgen": 2.0, "http_server": 1.0,
                                 "sources": 0.5, "serving": 1.5})


def test_tracer_links_nested_and_cross_thread_spans():
    tr = Tracer(True)
    with tr.span("loadgen.request", op="req0") as outer:
        with tr.span("sources.catalog_load"):
            pass

        def server():
            with tr.span("http_server.handle", parent=outer):
                pass
        t = threading.Thread(target=server)
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    by_name = {s.name: s for s in tr.spans}
    assert by_name["sources.catalog_load"].parent == outer
    assert by_name["http_server.handle"].parent == outer
    assert by_name["loadgen.request"].parent is None
    assert by_name["loadgen.request"].op == "req0"


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("a.b") as sid:
        assert sid is None
    assert tr.spans == []


# --- the closed loop and the suite check -------------------------------------

def test_batch_loop_counts_errors_but_fails_on_a_mismatch():
    from perfbench.workloads import Mismatch, batch_loop

    def broken(i):
        raise RuntimeError("a failed job")

    out = batch_loop(broken, 0.0)
    assert (out.attempted, out.failed, out.items) == (1, 1, 0)

    def wrong(i):
        raise Mismatch("a wrong output")

    with pytest.raises(Mismatch):
        batch_loop(wrong, 0.0)


def test_suite_check_refuses_a_repeated_cell():
    # a repeated cell repeats its rows in the reference's quantiles
    from perfbench.workloads.suite import check_suite
    with pytest.raises(ValueError):
        check_suite("store", "ts", "metrics", [(0.0, 1.0), (0.0, 1.0)])


# --- no process outlives a run -----------------------------------------------

def _orphan(seconds):
    """Start a process whose parent exits at once; return its pid."""
    import subprocess
    out = subprocess.run(
        ["sh", "-c", f"sleep {seconds} >/dev/null 2>&1 & echo $!"],
        capture_output=True, text=True, check=True)
    return int(out.stdout)


def test_stop_processes_waits_for_orphaned_descendants():
    import os
    import time

    from perfbench import run
    run.adopt_orphans()
    pid = _orphan(0.5)
    t0 = time.monotonic()
    run.stop_processes()
    assert time.monotonic() - t0 >= 0.3
    assert not os.path.exists(f"/proc/{pid}")


def test_stop_processes_kills_what_outlives_the_grace():
    import os
    import time

    from perfbench import run
    run.adopt_orphans()
    pid = _orphan(60)
    t0 = time.monotonic()
    run.stop_processes(grace_s=0.2)
    assert time.monotonic() - t0 < 10
    assert not os.path.exists(f"/proc/{pid}")


# --- Spark SQL metric strings -----------------------------------------------

@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n"
     "14.3 s (3.3 s, 3.6 s, 4.1 s (stage 0.0: task 0))", 14.3),
    ("38 ms", 0.038),
    ("total (min, med, max (stageId: taskId))\n"
     "1565.1 KiB (391.3 KiB, 391.3 KiB, 391.3 KiB (stage 0.0: task 0))",
     1565.1 * 1024),
    ("100,000", 100000.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


# --- BENCHMARK.json agrees with the code ------------------------------------

def test_benchmark_json_lists_what_the_runs_print():
    import json
    import os

    from perfbench import run
    from perfbench.workloads import LAYER_UNITS
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
