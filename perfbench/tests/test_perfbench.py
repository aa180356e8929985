"""Tests for the benchmark's own helpers; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
sys.path.insert(0, BENCH_DIR)

import layers  # noqa: E402
import run  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "intervals, window, busy",
    [
        ([(0, 2), (1, 3)], None, 3.0),  # overlapping
        ([(0, 10), (2, 3), (4, 9)], None, 10.0),  # nested
        ([(0, 1), (2, 3)], None, 2.0),  # disjoint
        ([(1, 3), (0, 10), (9, 12)], (2, 11), 9.0),  # clipped to the window
        ([(5, 6)], (0, 4), 0.0),  # outside the window
        ([], None, 0.0),
    ],
)
def test_union_length(intervals, window, busy):
    args = window or ()
    assert layers.union_length(intervals, *args) == pytest.approx(busy)


def test_busy_and_gap_cover_the_window():
    out = {"spark.executor_run_s": 8.0}
    jobs = [(0.0, 2.0), (1.0, 3.0), (1.5, 2.5), (6.0, 7.0)]
    layers.set_busy(out, layers.union_length(jobs, 0.0, 10.0), 10.0, 4)
    assert out["spark.job_busy_s"] == pytest.approx(4.0)
    assert out["spark.driver_gap_s"] == pytest.approx(6.0)
    assert out["spark.slot_util"] == pytest.approx(0.5)


def test_new_jobs_rejects_evicted_ids():
    before = {"jobs": {0: {}, 1: {}}}
    assert set(layers.RestTrace.new_jobs(before, {"jobs": {0: {}, 1: {}, 2: {}, 3: {}}})) == {2, 3}
    # job 2 was allocated but is no longer listed
    with pytest.raises(layers.EvictedError):
        layers.RestTrace.new_jobs(before, {"jobs": {1: {}, 3: {}, 4: {}}})


@pytest.mark.parametrize(
    "text, value",
    [
        ("1.5 KiB", 1536.0),
        ("total (min, med, max (stageId: taskId))\n12 ms (1 ms, 4 ms, 7 ms (stage 3.0: task 9))", 0.012),
        ("total (min, med, max (stageId: taskId))\n2.5 s (0.1 s, 1 s, 1.4 s (stage 1.0: task 2))", 2.5),
        ("1,234", 1234.0),
    ],
)
def test_parse_metric_value(text, value):
    assert layers.parse_metric_value(text) == pytest.approx(value)


def test_streaming_layers_sum_batches_and_keep_final_state():
    events = [
        {"runId": "a", "batchId": 0, "numInputRows": 5,
         "durationMs": {"addBatch": 100, "triggerExecution": 300, "walCommit": 10, "commitOffsets": 20},
         "stateOperators": [{"numRowsTotal": 5, "allUpdatesTimeMs": 7}]},
        {"runId": "a", "batchId": 1, "numInputRows": 3,
         "durationMs": {"addBatch": 50, "triggerExecution": 100, "walCommit": 5, "commitOffsets": 5},
         "stateOperators": [{"numRowsTotal": 8, "allUpdatesTimeMs": 3}]},
    ]
    out = layers.streaming_layers(events)
    assert out["streaming.batches"] == 2
    assert out["streaming.input_rows"] == 8
    assert out["streaming.add_batch_s"] == pytest.approx(0.15)
    assert out["streaming.trigger_s"] == pytest.approx(0.4)
    assert out["streaming.commit_s"] == pytest.approx(0.04)
    assert out["streaming.state_rows"] == 8
    assert out["streaming.state_update_s"] == pytest.approx(0.01)


def test_stat_cpu_reads_ppid_and_ticks():
    # utime 7, stime 3, cutime 2, cstime 1; the name holds ") " and spaces
    line = "42 (a) b (c) S 17 42 42 0 -1 4194560 10 0 0 0 7 3 2 1 20 0 1 0 5 0 0"
    assert layers.stat_cpu(line) == (17, 13)


def test_tree_cpu_counts_this_process():
    t0 = layers.tree_cpu_s()
    end = time.process_time() + 0.2
    while time.process_time() < end:
        pass
    assert layers.tree_cpu_s() - t0 >= 0.1


def test_wrong_output_counts_in_error_rate():
    sc = run._selfcheck()
    cols, types = ["k", "v"], {"k": "bigint", "v": "double"}
    good = [[1, 0.5], [2, 1.5]]
    tally = run.Tally()
    tally.record("q", "check", run.compare_output(
        sc, cols, types, good, ["v", "k"], ["DOUBLE", "BIGINT"], [(1.5, 2), (0.5, 1)]))
    assert tally.error_rate == 0.0
    tally.record("q", "check", run.compare_output(
        sc, cols, types, good, cols, ["BIGINT", "DOUBLE"], [(1, 0.5), (2, 1.25)]))
    tally.record("q", "check", run.compare_output(
        sc, cols, types, good, cols, ["HUGEINT", "DOUBLE"], [(1, 0.5), (2, 1.5)]))
    tally.record("q", "timed", "observed 3 rows, verified 2")
    assert [f["problem"] for f in tally.failures][:2] == [
        "value mismatch", "declared-type mismatch [('k', 'bigint', 'HUGEINT')]"]
    assert tally.error_rate == pytest.approx(3 / 4)
    line = json.loads(run.result_line(tally, {"cpu_s": 1.0}, run.END_TO_END))
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 4, 3)


def _metric_names(section: str) -> list[tuple[str, str]]:
    return [(m["name"], m["unit"]) for m in _benchmark_json()[section]]


def test_printed_metrics_match_benchmark_json():
    bench = _benchmark_json()
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert _metric_names("end_to_end") == list(run.END_TO_END)
    assert _metric_names("per_layer") == list(layers.PER_LAYER)

    setups = [{"session_s": 1.0, "touch_s": 2.0}] * run.SETUPS
    untraced = [{"cpu_s": 5.0, "query_cpu_geomean_s": 0.5}]
    e2e = run.end_to_end_metrics(untraced, setups, 512 * 1024)
    line = json.loads(run.result_line(run.Tally(), e2e, run.END_TO_END))
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == list(run.END_TO_END)

    traced = [{"layers": {n: 1.0 for n, _ in layers.PER_LAYER}}]
    per_layer = run.per_layer_metrics(traced, setups)
    line = json.loads(run.result_line(run.Tally(), per_layer, layers.PER_LAYER))
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == list(layers.PER_LAYER)


def test_command_pins_the_environment():
    command = _benchmark_json()["command"]
    pinned = {a.split("=", 1)[0] for a in command if "=" in a}
    assert set(run.PINNED_ENV) <= pinned
    assert dict(a.split("=", 1) for a in command if "=" in a)["SPARK_GRAFT_CPUS"] == "2"
