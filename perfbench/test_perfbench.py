"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The pure tests need no JVM; the two smoke tests run the real command
once per workload (about a minute each).
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import Agency  # noqa: E402
from tracing import attribute_lag, parse_event_log  # noqa: E402
from workloads import compare_keys, first_slot  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _feed(seed: int) -> str:
    agency = Agency(seed, n_routes=5)
    rng = random.Random(seed)
    parts = [agency.route_list_xml()]
    for route in agency.routes:
        parts.append(agency.route_config_xml(route))
        for k in range(3):
            parts.append(agency.vehicle_doc(route, 1_000_000 + k, rng)[0])
    nxt = agency.mutate(random.Random(seed))
    parts.extend(nxt.route_config_xml(r) for r in nxt.routes)
    return "\n".join(parts)


def test_generator_is_byte_identical_for_a_seed():
    assert _feed(7) == _feed(7)
    assert _feed(7) != _feed(8)


def test_vehicle_doc_keys_round_request_time():
    agency = Agency(1, n_routes=1, n_vehicles=3)
    _xml, keys = agency.vehicle_doc(
        agency.routes[0], 10_499, random.Random(0), max_secs=0
    )
    assert [k[2] for k in keys] == [10, 10, 10]
    _xml, keys = agency.vehicle_doc(
        agency.routes[0], 10_500, random.Random(0), max_secs=0
    )
    assert [k[2] for k in keys] == [11, 11, 11]


def test_repeated_reports_keep_their_key():
    agency = Agency(1, n_routes=1, n_vehicles=4)
    route, rng, last = agency.routes[0], random.Random(0), {}
    _xml, first = agency.vehicle_doc(route, 100_000, rng, last=last)
    xml, second = agency.vehicle_doc(
        route, 110_000, rng, last=last, repeat_share=1.0
    )
    assert second == first
    # the repeat reports an older secsSinceReport for the same fix
    assert all(110 - loc_s >= 10 for _d, _v, loc_s in second)
    assert f'secsSinceReport="{110 - second[0][2]}"' in xml


def test_live_slots_sit_half_a_slot_off_the_trigger_grid():
    # 8 routes, 10 s period: slots at .625 + k * 1.25 past each grid point
    assert first_slot(100.0, 10, 8) == 100.625
    assert first_slot(101.3, 10, 8) == 101.875
    assert first_slot(109.4, 10, 8) == 110.625


def _store_case():
    batches = [{"start": None, "end": {"a": 200}},
               {"start": {"a": 200}, "end": {"a": 300}}]
    expected = [
        ("a", "d", "v1", 90, 100),
        ("a", "d", "v1", 90, 200),   # repeated report: same key
        ("a", "d", "v2", 190, 200),
        ("a", "d", "v1", 290, 300),
        ("a", "d", "v1", 390, 400),  # not committed: not expected
    ]
    return batches, expected


def test_store_check_expects_repeated_reports_once():
    batches, expected = _store_case()
    stored = [("d", "v1", 90), ("d", "v2", 190), ("d", "v1", 290)]
    assert compare_keys(stored, expected, batches) == (set(), 0, 0)


def test_store_check_fails_on_a_doubled_or_lost_key():
    batches, expected = _store_case()
    doubled = [("d", "v1", 90), ("d", "v1", 90), ("d", "v2", 190),
               ("d", "v1", 290)]
    assert compare_keys(doubled, expected, batches) == ({0}, 1, 0)
    lost = [("d", "v1", 90), ("d", "v2", 190)]
    assert compare_keys(lost, expected, batches) == ({1}, 1, 0)
    extra = [("d", "v1", 90), ("d", "v2", 190), ("d", "v1", 290),
             ("d", "v1", 390)]
    assert compare_keys(extra, expected, batches) == (set(), 0, 1)


def test_lag_attribution_uses_half_open_offset_ranges():
    batches = [
        (None, {"a": 100, "b": 50}, 10.0),  # first batch: null start
        ({"a": 100, "b": 50}, {"a": 200, "b": 50}, 20.0),
        ({"a": 200, "b": 50}, {"a": 200, "b": 70}, 30.0),
    ]
    docs = [
        ("a", 100, 1.0),   # end of batch 0 is inclusive
        ("a", 101, 2.0),   # start of batch 1 is exclusive
        ("b", 50, 3.0),
        ("b", 60, 4.0),
        ("a", 250, 5.0),   # never committed: charged to the deadline
        ("c", 1, 6.0),     # a route no batch ever saw
    ]
    assert attribute_lag(docs, batches, deadline=40.0) == [
        9.0, 18.0, 7.0, 26.0, 35.0, 34.0,
    ]


def test_event_log_groups_by_batch_and_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Stage Infos": [
             {"Stage ID": 0, "RDD Info": [{
                 "Name": "DataSourceRDD",
                 "Scope": '{"id":"117","name":"MicroBatchScan"}'}]},
             {"Stage ID": 1, "RDD Info": [{
                 "Name": "MapPartitionsRDD",
                 "Scope": '{"id":"120","name":"Exchange"}'}]},
         ],
         "Properties": {"streaming.sql.batchId": "3",
                        "spark.jobGroup.id": "run-id"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Stage Infos": [], "Properties": {"spark.jobGroup.id": "refresh.x"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 5, "Executor CPU Time": 4_000_000,
            "JVM GC Time": 1, "Peak Execution Memory": 10}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 2,
                                     "Local Bytes Read": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Output Metrics": {"Bytes Written": 13}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    groups = parse_event_log(json.dumps(e) for e in events)
    b = groups["batch:3"]
    assert (b.jobs, b.stages, b.tasks) == (1, 2, 2)
    assert (b.source_tasks, b.source_cpu_ns) == (1, 4_000_000)
    assert (b.run_ms, b.gc_ms, b.peak_exec_mem) == (12, 1, 10)
    assert (b.shuffle_read_bytes, b.shuffle_write_bytes) == (5, 11)
    assert b.bytes_written == 13
    r = groups["refresh.x"]
    assert (r.jobs, r.stages, r.tasks) == (1, 1, 1)


def test_benchmark_json_names():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) and len(n) <= 64 for n in names)
    assert len(spec["per_layer"]) <= 128
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "refresh"]


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True,
        timeout=180,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,trace", [("ingest", 0), ("refresh", 1)])
def test_smoke_run_is_correct_and_emits_the_declared_metrics(workload, trace):
    spec = _spec()
    result = _run(workload, trace)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for name in ("run.py", "gen.py", "tracing.py", "workloads.py"):
        with open(os.path.join(HERE, name), encoding="utf-8") as src:
            (tmp_path / "perfbench" / name).write_text(src.read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(_spec()))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
