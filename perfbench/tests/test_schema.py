"""The benchmark's output schema: metric names, units and workloads in
BENCHMARK.json, in ``schema.py`` and in the emitted result line, and
the span record fields."""

import json
import os

import pytest
import run
import schema
from spans import EventLog, Tracer, exec_stats, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_schema(bench):
    assert tuple(w["name"] for w in bench["workloads"]) == schema.WORKLOADS
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == schema.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == schema.PER_LAYER
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]


def test_end_to_end_bounds(bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert all(m["better"] == "lower" for m in bench["end_to_end"])


def test_every_layer_metric_names_its_workloads():
    assert set(schema.REACHES) == set(schema.PER_LAYER)
    for name, workloads in schema.REACHES.items():
        assert set(workloads) <= set(schema.WORKLOADS), name
    assert schema.REACHES["registry.build_jobs"] == ("headliners_cold",)
    assert schema.REACHES["sources.csv_scans"] == ("pipeline_csv",)
    assert schema.REACHES["exec.wall_s"] == schema.WORKLOADS


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_has_every_metric_with_its_unit(trace):
    result = {
        "attempted": 12, "failed": 0,
        "end_to_end": dict.fromkeys(schema.END_TO_END, 1.5),
        "per_layer": dict.fromkeys(schema.PER_LAYER, 2),
    }
    line = run.result_line(result, trace)
    assert tuple(line) == schema.RESULT_KEYS
    assert line["correct"] is True and line["attempted"] == 12 and line["failed"] == 0
    units = schema.PER_LAYER if trace else schema.END_TO_END
    assert {k: v["unit"] for k, v in line["metrics"].items()} == units
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())
    json.dumps(line)


def test_result_line_reports_failures():
    result = {"attempted": 5, "failed": 2, "end_to_end": dict.fromkeys(schema.END_TO_END, 1.0)}
    line = run.result_line(result, False)
    assert line["correct"] is False and line["failed"] == 2


def test_span_records(tmp_path):
    tr = Tracer(True)
    with tr.span("plans.run_pipeline", "p1/run_pipeline"):
        with tr.span("operators.quality.dq_profile"):
            pass
    path = tmp_path / "spans.json"
    tr.write(str(path))
    spans = json.loads(path.read_text())
    assert [tuple(s) for s in spans] == [schema.SPAN_FIELDS] * 2
    outer, inner = spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == "p1/run_pipeline"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert 0 <= tr.self_time(outer["id"]) <= outer["end"] - outer["start"]


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("exec", "p1/q") as rec:
        assert rec is None
    assert tr.spans == []


def test_tail_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct = run.tail(xs)
    assert pct == 90 and value == 90.0  # 10 samples above the 90th
    assert run.tail([1.0, 2.0, 3.0]) == (2.0, 50)  # too few: the median
    assert run.tail([float(i) for i in range(18)]) == (8.5, 50)  # p44 is below the median
    assert run.tail([float(i) for i in range(25)]) == (14.0, 60)


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_event_log_groups_by_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "RDD Info": [{"Scope": '{"id":"1","name":"Scan csv "}'}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "JVM GC Time": 10, "Disk Bytes Spilled": 0,
                          "Input Metrics": {"Bytes Read": 1 << 20},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog(str(tmp_path))
    jobs = log.jobs_of([3])
    assert len(jobs) == 1 and log.jobs_of([4]) == []
    stats = exec_stats(jobs, cores=2)
    assert stats["exec.wall_s"] == 1.0 and stats["exec.tasks"] == 1
    assert stats["exec.task_s"] == 0.4 and stats["exec.core_util"] == 0.2
    assert stats["exec.idle_s"] == 0.5 and stats["exec.input_mb"] == 1.0
    assert set(stats) == {m for m in schema.PER_LAYER if m.startswith("exec.")} - {
        "exec.fresh_plan_s"}
