"""Tests of the benchmark itself: its helpers, and the smoke mode that runs
every workload and its output checks at toy sizes.

    python3 -m pytest e2ebench -q
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_query_mix_is_a_function_of_the_seed():
    a = workloads.query_mix(random.Random(7), 50)
    assert a == workloads.query_mix(random.Random(7), 50)
    assert a != workloads.query_mix(random.Random(8), 50)
    assert all(1 <= len(t.split()) <= 4 and m in ("any", "all") for t, m in a)


def test_same_topk_tolerates_only_ties():
    a = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert workloads.same_topk(a, [(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)])
    assert not workloads.same_topk(a, [(2, 3.0), (1, 2.0), (3, 2.0), (4, 1.0)])
    assert not workloads.same_topk(a, a[:3])
    assert not workloads.same_topk(a, [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.1)])
    # the k cut may split the last tie group differently
    assert workloads.same_topk([(1, 3.0), (2, 1.0)], [(1, 3.0), (9, 1.0)])


def test_event_log_join_and_self_times(tmp_path):
    tr = tracing.Tracer(enabled=True)
    with tr.span("index.builder", "build"):
        with tr.span("functions", "probe"):
            pass
    group = tr.spans[0].group
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
         "Task Metrics": {"Executor Run Time": 5, "Input Metrics": {"Bytes Read": 100},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}}
        for sid in (0, 1, 1, 2)
    ]
    d = tmp_path / "eventlog_v2_app" / "events_1_app"
    d.parent.mkdir()
    d.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    counters = tracing.group_counters(str(tmp_path))
    calls = tracing.per_call(counters, tr, "index.builder", "build")
    assert calls == [{"jobs": 1, "tasks": 3, "task_ms": 15, "input_bytes": 300,
                      "output_bytes": 0, "shuffle_write_bytes": 21, "spill_bytes": 9}]
    assert counters[tracing.IDLE_GROUP]["tasks"] == 1
    selfs = tr.self_times()
    assert set(selfs) == {"index.builder", "functions"}
    assert selfs["index.builder"] <= tr.spans[0].dur


def test_smoke_runs_every_workload_and_check():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert out.returncode == 0, out.stderr[-3000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 10
    for name in ("serve", "cdc"):
        for metric in ("setup_s", "op_cpu_s", "work_per_cpu_s"):
            assert result["metrics"][f"{name}.{metric}"]["value"] > 0
