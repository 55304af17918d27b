"""Self-tests for the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
from run import layer_unit  # noqa: E402
from workloads import (QUERY_LAYERS, SETUP_LAYERS, WORKLOADS,  # noqa: E402
                       layer_of, pass_order)

RECORDED = os.path.join(HERE, "testdata", "eventlog_pagerank")


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_workload_query_maps_to_a_layer():
    import __spark_entry__

    queries = __spark_entry__.queries()
    seen = set()
    for wl in WORKLOADS.values():
        for name in wl["queries"]:
            seen.add(layer_of(queries[name]))
    # every query layer is measured on at least one workload
    assert seen == set(QUERY_LAYERS)


def test_layer_of_splits_pipeline_by_submodule():
    def fn():
        pass

    fn.__module__ = "big_data_project_spark.pipeline.graph"
    assert layer_of(fn) == "pipeline.graph"
    fn.__module__ = "big_data_project_spark.operators.joins"
    assert layer_of(fn) == "operators"
    fn.__module__ = "big_data_project_spark.functions.math"
    with pytest.raises(ValueError):
        layer_of(fn)


def test_pass_order_is_a_deterministic_permutation():
    queries = WORKLOADS["sql_analyst"]["queries"]
    first = pass_order(queries, 7, 1)
    assert first == pass_order(queries, 7, 1)
    assert sorted(first) == sorted(queries)
    assert pass_order(queries, 7, 2) != first
    assert pass_order(queries, 8, 1) != first


def test_eventlog_reduces_recorded_log_to_known_totals():
    with open(RECORDED + ".json") as fh:
        meta = json.load(fh)
    with open(RECORDED + ".jsonl") as fh:
        totals = eventlog.reduce_log(fh, [tuple(w) for w in meta["windows"]])
    assert totals == meta["expected"]


def test_eventlog_attributes_foreign_group_by_window():
    # a streaming micro-batch runs under its query's run id, not the tag
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 150,
         "Properties": {"spark.jobGroup.id": "6f1c-run-id"}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {},
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                        "Submission Time": 151}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Stage Attempt ID": 0,
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "Executor Run Time": 2500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 64,
                              "Shuffle Records Written": 4}}},
        # outside every window: start-up work, dropped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 900,
         "Properties": {}},
    ]
    totals = eventlog.reduce_log(map(json.dumps, lines),
                                 [("pass1/a", 100, 200), ("pass1/b", 200, 300)])
    assert totals["pass1/a"] == {
        "jobs": 1, "stages": 1, "tasks": 1, "task_cpu_s": 2.0,
        "task_run_s": 2.5, "gc_s": 0.1, "shuffle_write_bytes": 64,
        "shuffle_records": 4}
    assert totals["pass1/b"] == dict.fromkeys(eventlog.COUNTERS, 0)


def test_benchmark_json_matches_the_program():
    bench = _bench()
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        n: wl["why"] for n, wl in WORKLOADS.items()}
    counters = ("calls", "build_s", "exec_s", "pyworker_cpu_s",
                "disk_write_bytes") + eventlog.COUNTERS
    names = [f"{layer}.{c}" for layer in QUERY_LAYERS for c in counters]
    names += list(SETUP_LAYERS)
    assert [m["name"] for m in bench["per_layer"]] == names
    assert all(m["unit"] == layer_unit(m["name"]) for m in bench["per_layer"])
