"""Checks of the benchmark's own checks: a corrupted expectation must be
caught, and the event-log arithmetic must add up. No Spark session.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import common  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402
import streams  # noqa: E402

N_PER_TOPIC = 400


def test_expected_anomalies_follow_the_planted_indices_and_cooldown():
    got = streams.expected_anomalies(N_PER_TOPIC)
    one = sorted(t for topic, path, _, t in got if topic == "bench-00" and path == "sub.one")
    steps = {b - a for a, b in zip(one, one[1:])}
    # a spike every 12 ticks of 2.5 s, thinned by the 120 s cooldown:
    # one emitted every 48 ticks
    assert steps == {48 * streams.TICK_US}
    assert one[0] == streams.T0_US + 11 * streams.TICK_US
    # dips every 24 ticks thin to 23 + 48k: 8 below 400, spikes 11 + 48k: 9
    assert len(one) == 9
    assert len(got) == len(streams.TOPICS) * (9 + 8)


def test_corrupted_stream_expectation_is_caught():
    expected = streams.expected_anomalies(N_PER_TOPIC)
    assert streams.check_set(set(expected), expected) == []
    missing = set(expected)
    missing.pop()
    assert streams.check_set(missing, expected)
    extra = set(expected) | {("bench-00", "two", streams.WINDOW_S, 0)}
    assert streams.check_set(extra, expected)


def test_cooldown_walk_keeps_first_and_spaced_rows():
    rows = [("t", "p", 300, ts, 0.0) for ts in (0, 50, 120, 130, 240, 250)]
    kept = streams.cooldown_walk(rows + [("u", "p", 300, 50, 0.0)], 120)
    assert [r[3] for r in kept if r[0] == "t"] == [0, 120, 240]
    assert [r[3] for r in kept if r[0] == "u"] == [50]


def test_anomalies_are_attributed_to_the_trigger_that_read_them():
    per_file = streams.MSGS_PER_TRIGGER // len(streams.TOPICS)
    rows = [
        ("t", "two", 300, streams.T0_US + i * streams.TICK_US, 0.0, 0.0)
        for i in (0, per_file - 1, per_file, 3 * per_file + 5)
    ]
    assert streams.anomalies_by_batch(rows) == {0: 2, 1: 1, 3: 1}


def test_corrupted_stateful_value_is_caught():
    ref = [("t", "two", 300, 10, -100.0, -2.5), ("t", "two", 300, 20, -100.0, -2.4)]
    assert streams.check_stateful(list(ref), ref) == []
    bad = [ref[0], ("t", "two", 300, 20, -100.0, -2.3)]
    assert streams.check_stateful(bad, ref)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(r[i]) for i in order) for r in rows)


def test_corrupted_oracle_rows_are_caught():
    cols, rows = ["k", "n"], [("a", 1), ("b", 2)]
    assert registry.compare("q", cols, rows, ["n", "k"], [(2, "b"), (1, "a")], [], _norm) is None
    assert registry.compare("q", cols, rows, cols, [("a", 1), ("b", 3)], [], _norm)
    assert registry.compare("q", cols, rows, cols, rows[:1], [], _norm)
    assert registry.compare("q", cols, rows, ["k", "m"], rows, [], _norm)
    assert registry.compare("q", cols, rows, cols, rows, ["n: spark=int duck=float"], _norm)


def test_query_list_is_in_the_registry():
    from sarkac_spark.queries import all_oracle_sql

    names = registry.load_query_list()
    assert len(names) == len(set(names))
    assert set(names) <= set(all_oracle_sql())


def test_percentile_interpolates():
    assert common.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert common.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90) == 4.6


def test_union_and_self_time():
    assert layers._union_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert layers._union_ms([(0, 10)], 5, 8) == 3


def _event_log(tmp_path: Path) -> Path:
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q|0|action",
                                             "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 1, "Submission Time": 1010,
            "Completion Time": 1040, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 25},
                {"Name": "data sent to Python workers", "Value": "512"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 4, "Submission Time": 1050,
            "Completion Time": 1090, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 100}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1095},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": "number of files read", "accumulatorId": 77}],
              "children": []}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[77, 2]]},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("".join(json.dumps(e) + "\n" for e in events))
    return tmp_path


def test_event_log_attribution(tmp_path):
    jobs, stages = layers.parse_eventlog(_event_log(tmp_path))
    row = layers._op_layers(list(jobs.values()), stages, 990, 1100)
    assert row["scheduler.jobs"] == 1
    assert row["scheduler.stages"] == 2
    assert row["scheduler.tasks"] == 5
    assert row["scheduler.single_task_stages"] == 1
    assert row["scheduler.outside_stage_ms"] == 110 - 70
    assert row["scheduler.job_self_ms"] == 95 - 70
    assert row["executor.run_ms"] == 125
    assert row["python.bytes_sent"] == 512
    assert row["scan.files_read"] == 2


def test_tables_are_built_once_and_reused(tmp_path, monkeypatch):
    monkeypatch.setattr(datagen, "CACHE", tmp_path)
    first = datagen.cached_tables()
    stamps = {p.name: p.stat().st_mtime_ns for p in Path(first).iterdir()}
    assert sorted(stamps) == sorted(f"{t}.parquet" for t in datagen.ROWS)
    assert datagen.cached_tables() == first
    assert {p.name: p.stat().st_mtime_ns for p in Path(first).iterdir()} == stamps
    assert [p.name for p in tmp_path.iterdir()] == [Path(first).name]


def _sibling(tmp_path, monkeypatch, stdout: str):
    (tmp_path / "run.py").write_text(f"print({stdout!r})\n")
    monkeypatch.setattr(run, "HERE", tmp_path)
    args = run.argparse.Namespace(workload="stream_stateful", seed=1, seconds=1.0)
    return run._untraced_sibling(args)


def test_trace_baseline_is_the_untraced_sibling(tmp_path, monkeypatch):
    ok = {"correct": True, "attempted": 3, "failed": 0,
          "metrics": {"latency_p50_ms": {"value": 12.5, "unit": "ms"}}}
    assert _sibling(tmp_path, monkeypatch, json.dumps(ok)) == (12.5, None)
    p50, why = _sibling(tmp_path, monkeypatch, json.dumps({**ok, "correct": False}))
    assert p50 is None and "not correct" in why
    p50, why = _sibling(tmp_path, monkeypatch, json.dumps({**ok, "failed": 1}))
    assert p50 is None and "not correct" in why
    p50, why = _sibling(tmp_path, monkeypatch, "")
    assert p50 is None and "no result" in why
