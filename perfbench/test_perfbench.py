"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, read_event_log  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == workloads.WORKLOADS
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_METRICS)
    produced = set(layers.pass_layers([], {}, 4)) | set(run.RUN_LAYER_METRICS)
    assert sorted(m["name"] for m in spec["per_layer"]) == sorted(produced)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == [os.path.basename(HERE)]


def test_star_sample_rule():
    profile = workloads.load_star_profile()
    warehouse = workloads.warehouse_queries()
    assert len(warehouse) == 75
    assert sorted(profile["queries"]) == sorted(warehouse)
    sample = workloads.star_ops()
    warm = {n: q["warm_s"] for n, q in profile["queries"].items()}
    ranked = sorted(warm, key=lambda n: (-warm[n], n))
    assert sample[0] == ranked[0]
    assert sample == [ranked[i] for i in range(0, 75, workloads.STAR_STRIDE)]
    cover = workloads.sample_coverage(profile, sample)
    assert cover["of"] == 75 and cover["queries"] == len(sample)
    assert 0 < cover["warm_share"] < 1 and 0 < cover["construct_share"] < 1


def test_percentile_sample_count_rule():
    assert stats.min_samples(50) == 20
    assert stats.min_samples(75) == 40
    assert stats.min_samples(90) == 100
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile([float(v) for v in range(1, 21)], 50) == 10.0
    assert stats.percentile([float(v) for v in range(1, 101)], 90) == 90.0


def test_self_time_arithmetic():
    # children overlap (1-3, 2-5) and stick out of the parent (8-12)
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (3.0, 4.0)]) == 0.0


def test_work_cpu_counts_new_threads_and_drops_ended_ones():
    tick = os.sysconf("SC_CLK_TCK")
    before = {(1, None): 5 * tick, (2, "10"): 1 * tick, (2, "11"): 7 * tick}
    # thread 11 ended, thread 12 started; process 1 used 2 s, thread 10 1 s
    after = {(1, None): 7 * tick, (2, "10"): 2 * tick, (2, "12"): 3 * tick}
    assert run.work_cpu_s(before, after) == pytest.approx(6.0)


class _FakeSc:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value


def test_tracer_nesting_groups_and_self_time():
    sc = _FakeSc()
    tr = Tracer(sc)
    with tr.span("outer", group=True) as outer:
        assert sc.props["spark.jobGroup.id"] == outer["group"]
        with tr.span("inner", group=True) as inner:
            assert sc.props["spark.jobGroup.id"] == inner["group"]
        assert sc.props["spark.jobGroup.id"] == outer["group"]
    assert "spark.jobGroup.id" not in sc.props
    assert inner["parent"] == outer["id"]
    own = tr.self_times()
    assert own[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def test_read_event_log_attributes_by_group(tmp_path):
    g = "pb-7"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": g}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.jobGroup.id": g}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 10**8,
                          "JVM GC Time": 5, "Disk Bytes Spilled": 0,
                          "Input Metrics": {"Bytes Read": 64},
                          "Output Metrics": {"Bytes Written": 32, "Records Written": 4},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
        # a job outside any benchmark group is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1600,
         "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1700},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    accs = read_event_log(str(tmp_path))
    assert list(accs) == [g]
    a = accs[g]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 1)
    assert a["job_s"] == pytest.approx(0.5)
    assert a["task_run_s"] == pytest.approx(0.2)
    assert a["task_cpu_s"] == pytest.approx(0.1)
    assert (a["shuffle_read_bytes"], a["shuffle_write_bytes"]) == (3, 9)
    assert (a["input_bytes"], a["output_rows"]) == (64, 4)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / os.path.basename(HERE),
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workloads.WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_smoke_sf0001(workload, trace, capsys):
    assert run.main(["--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--scale", "0.001"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])
    spec = _spec()
    section = "per_layer" if trace else "end_to_end"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["verdicts"]
    assert set(result["metrics"]) == {m["name"] for m in spec[section]}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert record["seed"] == 3 and record["session_conf"]["spark.master"]
    assert record["inputs"] == os.path.join(os.path.basename(HERE), "data", "sf0.001")
    if trace and workload == workloads.STAR:
        assert result["metrics"]["catalyst.optimization_s"]["value"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}"))
