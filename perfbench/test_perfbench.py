"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog as L  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402


# -- percentile rule -----------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0


@pytest.mark.parametrize("n, tail", [
    (10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, tail):
    assert stats.tail_percentile(n) == tail
    if tail is not None:
        xs = list(range(n))
        beyond = [x for x in xs if x > stats.percentile(xs, tail)]
        assert len(beyond) >= stats.MIN_BEYOND


# -- open-loop latency -----------------------------------------------------------

def _progress(start_s: float, duration_ms: float, rows: int) -> dict:
    ts = dt.datetime.fromtimestamp(start_s, dt.timezone.utc)
    return {"timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
            "durationMs": {"triggerExecution": duration_ms},
            "numInputRows": rows}


def test_latency_runs_from_due_time_and_counts_a_stall_against_later_drops():
    t0 = 1_000.0
    due = [t0, t0 + 0.2, t0 + 0.4, t0 + 0.6]
    # first trigger takes drops 0-1 and ends at t0+1.5; a 3 s stall means
    # drops 2-3, due at +0.4/+0.6, commit only when the next trigger ends
    progress = [_progress(t0 + 0.5, 1000, 20), _progress(t0 + 1.5, 3000, 20)]
    lat, missed = W.drop_latencies([10, 10, 10, 10], due, progress, t0 + 10)
    assert missed == 0
    assert lat == pytest.approx([1500, 1300, 4100, 3900])


def test_uncommitted_drop_is_missed_with_time_waited():
    t0 = 1_000.0
    progress = [_progress(t0, 500, 10)]
    lat, missed = W.drop_latencies([10, 10], [t0, t0 + 1], progress, t0 + 30)
    assert missed == 1
    assert lat == pytest.approx([500, 29_000])


def test_open_loop_feed_keeps_schedule(tmp_path):
    stage, src = tmp_path / "stage", tmp_path / "src"
    stage.mkdir()
    src.mkdir()
    drops = []
    for i in range(5):
        p = stage / f"d{i}.parquet"
        p.write_bytes(b"x")
        drops.append((str(p), 1))
    due, lag = W._feed(drops, str(src), rate=50.0)
    assert sorted(os.listdir(src)) == [f"d{i}.parquet" for i in range(5)]
    assert [round(b - a, 6) for a, b in zip(due, due[1:])] == [0.02] * 4
    assert all(x >= 0 for x in lag)


# -- event-log attribution -----------------------------------------------------------

def _task(stage: int, launch: int, finish: int, run_ms: int, cpu_ms: int,
          gc_ms: int = 0, written: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Accumulables": [{"Name": "task commit time",
                                        "Update": "5"}]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ms * 10**6,
            "JVM GC Time": gc_ms, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0, "Peak Execution Memory": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            "Output Metrics": {"Bytes Written": 100, "Records Written": written},
        },
    }


def _stage(stage: int, desc: str, submit: int, complete: int,
           cached: bool = False) -> list[dict]:
    level = {"Use Memory": cached, "Use Disk": cached}
    return [
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": stage, "Submission Time": submit},
         "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage, "Submission Time": submit,
                        "Completion Time": complete,
                        "RDD Info": [{"RDD ID": 7, "Storage Level": level}]}},
    ]


def _plan(path: str) -> str:
    return ("== Physical Plan ==\nAdaptiveSparkPlan (3)\n"
            "+- Execute InsertIntoHadoopFsRelationCommand (2)\n\n"
            "(2) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
            f"Arguments: file:{path}, false, Parquet, Overwrite\n")


CANNED = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "description": "main.batch", "time": 1000,
     "physicalPlanDescription": _plan("/o/pause_events")},
    *_stage(0, "main.batch", 1010, 1500, cached=True),
    _task(0, 1010, 1400, run_ms=390, cpu_ms=300, gc_ms=10),
    *_stage(1, "main.batch", 1500, 1700, cached=True),
    _task(1, 1500, 1690, run_ms=190, cpu_ms=40, written=12),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
     "executionId": 0, "time": 1710},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 1, "description": "main.batch", "time": 1800,
     "physicalPlanDescription": "== Physical Plan ==\nHashAggregate (1)\n"},
    *_stage(2, "main.batch", 1800, 1900),
    _task(2, 1800, 1890, run_ms=90, cpu_ms=80),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
     "executionId": 1, "time": 1950},
    *_stage(3, "other", 2000, 2100),
    _task(3, 2000, 2100, run_ms=100, cpu_ms=100),
]


def test_event_log_attributes_by_description_output_and_cache_fill(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in CANNED))
    log = L.EventLog.read_dir(str(tmp_path))

    fill = log.stages_where(description="main.batch", cache_fill=True)
    assert [s.id for s in fill] == [0]
    sink = log.stages_where(description="main.batch",
                            output_suffix="/pause_events", cache_fill=False)
    assert [s.id for s in sink] == [1]
    c = log.cost(sink)
    assert c.cpu_s == pytest.approx(0.04)
    assert c.wait_s == pytest.approx(0.15)
    assert c.records_written == 12
    assert c.commit_s == pytest.approx(0.005)
    assert log.cost(fill).gc_s == pytest.approx(0.01)
    assert log.stages[2].execution.output is None
    assert log.total_cost().cpu_s == pytest.approx(0.52)
    # tasks cover 1010-1400 and 1500-1690 of the 1000-1710 span
    assert log.busy_ms(1000, 1710) == pytest.approx(580)
    assert L.stage_wall_s(fill) == pytest.approx(0.49)


def test_task_skew_is_longest_over_median_task():
    st = L.Stage(0, "x", 0)
    st.tasks = [_task(0, 0, 1, run_ms=r, cpu_ms=1) for r in (10, 10, 10, 50)]
    assert L.task_skew([st]) == pytest.approx(5.0)


# -- failure counting -----------------------------------------------------------

def _outcome(**kw) -> W.Outcome:
    base = dict(attempted=100, failed=0, correct=True, setup_s=1.0,
                turns=1000, busy_s=20.0, cpu_s=5.0, worker_cpu_s=1.0,
                microbatch_s=[1.0, 2.0, 3.0],
                latency_ms=[float(x) for x in range(100)])
    base.update(kw)
    return W.Outcome(**base)


def test_failed_operations_lower_ok_frac_and_miss_latency():
    lat, missed = W.drop_latencies(
        [1] * 100, [0.0] * 100, [_progress(0.0, 500, 89)], horizon_s=1000.0)
    assert missed == 11
    o = _outcome(failed=missed, correct=False, latency_ms=lat)
    assert run.end_to_end(o)["ok_frac"] == (0.89, 100)
    m = run.latencies(o)
    assert m["run.commit_latency_ms_p50"] == (pytest.approx(500), 100)
    # eleven misses reach past p90, which becomes the time waited
    assert m["run.commit_latency_ms_p90"][0] == pytest.approx(1e6)


def test_latencies_refuse_a_p90_the_samples_cannot_support():
    with pytest.raises(RuntimeError):
        run.latencies(_outcome(latency_ms=[1.0] * 99))


def test_every_declared_metric_is_printed():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(run.end_to_end(_outcome())) == {
        m["name"] for m in bench["end_to_end"]}
    assert set(run.per_layer(_outcome())) == {
        m["name"] for m in bench["per_layer"]}
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
