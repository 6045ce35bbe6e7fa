"""Tests of the benchmark's own helpers: the quartiles that steady.py
reports and the event-log fold, on a canned log. No Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench.eventlog import MEASURES, Call, fold, read_events
from perfbench.harness import load_benchmark_json, quartiles, unit_of

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_quartiles_match_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert quartiles(vals) == (q1, q2, q3)
    assert quartiles(vals)[1] == statistics.median(vals)
    assert quartiles([3.5]) == (3.5, 3.5, 3.5)
    # the spread steady.py reports for ten runs, by hand: positions
    # (n + 1) * p = 2.75 and 8.25 of the sorted values
    ten = [float(v) for v in range(10, 0, -1)]
    assert quartiles(ten) == (2.75, 5.5, 8.25)


def _job(job, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}


def _stage(stage, group):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage}, "Properties": props}


def _task(stage, launch, finish, run_ms, rd=0, wr=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": rd},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": wr},
        },
    }


# Two traced calls and one untraced job. Call "a" (1000-2000 ms) runs two
# jobs: stage 0 with two overlapping tasks (1100-1400, 1300-1500) and
# stage 1 with one task (1700-1800). Job 1 also lists stage 2, which was
# skipped and never submitted. Call "b" (2000-2500) has one job whose
# task starts before the call (1900-2100), so only 100 ms of it covers
# the call. Stage 9 belongs to no traced call.
CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, "g-a", [0]),
    _stage(0, "g-a"),
    _task(0, 1100, 1400, 280, wr=500),
    _task(0, 1300, 1500, 190, wr=700),
    _job(1, "g-a", [1, 2]),
    _stage(1, "g-a"),
    _task(1, 1700, 1800, 90, rd=1200, spill=64),
    _job(2, None, [9]),
    _stage(9, None),
    _task(9, 1000, 3000, 2000, rd=99, wr=99),
    _job(3, "g-b", [3]),
    _stage(3, "g-b"),
    _task(3, 1900, 2100, 150),
]
CALLS = [Call("layer.a", "g-a", 1000.0, 2000.0), Call("layer.b", "g-b", 2000.0, 2500.0)]


def test_fold_canned_log():
    got = fold(CANNED, CALLS)
    assert got["g-a"] == {
        "ms": 1000.0,
        "jobs": 2,
        "stages": 2,
        "tasks": 3,
        "shuffle_read_bytes": 1200,
        "shuffle_write_bytes": 1200,
        "spill_bytes": 64,
        "executor_ms": 560,
        # tasks cover 1100-1500 and 1700-1800: 500 of the 1000 ms
        "driver_ms": 500.0,
    }
    assert got["g-b"]["jobs"] == 1 and got["g-b"]["tasks"] == 1
    assert got["g-b"]["driver_ms"] == 400.0
    assert set(got["g-a"]) == set(MEASURES)


def test_fold_call_without_jobs_is_all_driver_time():
    got = fold(CANNED, [Call("layer.plan", "g-none", 0.0, 40.0)])
    assert got["g-none"]["jobs"] == 0
    assert got["g-none"]["driver_ms"] == 40.0


def test_read_events_rolling_dir_in_part_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = [json.dumps(e) for e in CANNED]
    # parts are ordered by number, not by name ("events_10" after "events_2")
    (app / "events_10_local-1").write_text("\n".join(lines[8:]) + "\n{\"Event\": \"Trunc")
    (app / "events_2_local-1").write_text("\n".join(lines[:8]) + "\n")
    (app / "appstatus_local-1").write_text("")
    (app / ".events_2_local-1.crc").write_text("x")
    events = list(read_events(str(tmp_path)))
    assert events == CANNED
    assert fold(events, CALLS) == fold(CANNED, CALLS)


def test_benchmark_json_matches_the_runner():
    spec = load_benchmark_json(ROOT)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert m["unit"] == unit_of(m["name"]), m["name"]
