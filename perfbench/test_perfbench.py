"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import Span, attribute, parse_event_log  # noqa: E402
from steady import quartile_spread  # noqa: E402


def _events(*evs):
    return [json.dumps(e) for e in evs]


def _task(stage, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
        },
    }


def _stage(sid, tasks, parents=()):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": sid, "Number of Tasks": tasks, "Parent IDs": list(parents)},
    }


def test_event_log_jobs_go_to_the_span_they_started_in():
    lines = _events(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500, "Stage IDs": [0, 1]},
        _task(0, shuffle=100), _task(0, shuffle=50), _stage(0, 2),
        _task(1, spill=7), _stage(1, 1, parents=[0]),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [1, 2]},
        _task(2), _task(2), _task(2), _stage(2, 3, parents=[1]),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3]},
        _stage(3, 4),
    )
    jobs, stages = parse_event_log(lines)
    assert [j["id"] for j in jobs] == [0, 1, 2]
    assert stages[0] == {"tasks": 2, "parents": [], "shuffle_bytes": 150, "spill_bytes": 0}
    first, second = attribute([Span("a", 1.0, 2.0), Span("b", 2.2, 3.0)], jobs, stages)
    # job 0 in a; job 1 in b; job 2 outside every span
    assert first == {"jobs": 1, "stages": 2, "tasks": 3, "shuffle_bytes": 150,
                     "spill_bytes": 7, "min_read_partitions": 1}
    # stage 1 was run by job 0 (job 1 skipped it), so b owns stage 2 only
    assert second == {"jobs": 1, "stages": 1, "tasks": 3, "shuffle_bytes": 0,
                      "spill_bytes": 0, "min_read_partitions": 3}


def test_event_log_millisecond_edges_belong_to_the_span():
    jobs = [{"id": 0, "submit_ms": 1000, "stage_ids": []},
            {"id": 1, "submit_ms": 2001, "stage_ids": []}]
    (only,) = attribute([Span("s", 1.0004, 2.0003)], jobs, {})
    assert only["jobs"] == 2
    # a job on the millisecond two spans share goes to the later one
    first, second = attribute([Span("a", 1.0, 2.0004), Span("b", 2.0006, 3.0)], jobs, {})
    assert (first["jobs"], second["jobs"]) == (1, 1)


def test_quartile_spread_matches_statistics_quantiles():
    # quantiles(n=4) of 1..10 (exclusive method): 2.75, 5.5, 8.25
    assert abs(quartile_spread(list(range(1, 11))) - 5.5 / 5.5) < 1e-12


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == run.PER_LAYER
    sys.path.insert(0, os.path.dirname(HERE))
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_gen_lookup_targets_are_seeded():
    from gen import lookup_targets

    blocks = [
        {"block_height": 10 + i, "shards": [{"chunk": {"transactions": [
            {"transaction": {"hash": f"tx{i}_{j}"}} for j in range(3)]}}]}
        for i in range(30)
    ]
    a, b = lookup_targets(blocks, 5), lookup_targets(blocks, 5)
    assert a == b and a["lo"] <= a["hi"] and len(a["tx_hashes"]) == 8
    assert all(a["lo"] <= int(h[2:].split("_")[0]) + 10 <= a["hi"] for h in a["tx_hashes"])
