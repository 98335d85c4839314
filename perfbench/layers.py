"""Per-layer split of a traced run, from Spark's event log and the
streaming progress API, parsed with the standard library.

Jobs are attributed to ops by job group for registry queries
(``<query>|<pass>|factory`` / ``...|action``) and by the
``streaming.sql.batchId`` job property for triggers; other jobs (the
drift sentinel, the output checks) belong to no op. Spans nest op ->
factory/action (or the trigger) -> job -> stage; a span's self time is
its duration minus the union of its children's intervals, and
``scheduler.outside_stage_ms`` is the time of an op spent outside every
stage.

Aggregation over the ops of a run: times of a span (factory, action,
Catalyst phases, trigger phases, time outside stages) are the median per
op; counts, bytes and summed task times (jobs, tasks, executor time,
shuffle, Python and scan bytes) are the mean per op, so a change to a
few heavy ops shows. Metrics of a layer that a workload does not use
are reported as 0.

Every span is written as JSON lines to ``spans_path`` (under
``.perfbench_out/`` in the checkout).
"""

from __future__ import annotations

import json
from pathlib import Path

from common import median

# per-layer metrics, in the order printed
LAYER_METRICS = {
    "session.start_s": "s",
    "session.stage_input_s": "s",
    "session.warmup_s": "s",
    "box.calib_start_ms": "ms",
    "box.calib_end_ms": "ms",
    "queries.factory_ms": "ms",
    "queries.factory_self_ms": "ms",
    "queries.factory_jobs": "count",
    "queries.action_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "stream.query_planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.single_task_stages": "count",
    "scheduler.outside_stage_ms": "ms",
    "scheduler.job_self_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "shuffle.read_bytes": "B",
    "shuffle.write_bytes": "B",
    "shuffle.fetch_wait_ms": "ms",
    "shuffle.spill_bytes": "B",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "python.init_ms": "ms",
    "python.run_ms": "ms",
    "scan.bytes_read": "B",
    "scan.files_read": "count",
    "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.input_rows": "count",
    "stream.output_rows": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "B",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "rescan.store_files": "count",
    "rescan.bytes_written": "B",
    "facade.errors": "count",
    "facade.anomalies": "count",
    "trace.latency_p50_ms": "ms",
    "trace.cpu_ms_per_op": "ms",
    "trace.overhead_pct": "%",
}

# stage accumulables summed per op: metric -> (accumulable names, scale)
_STAGE_SUMS = {
    "executor.run_ms": (("internal.metrics.executorRunTime",), 1.0),
    "executor.cpu_ms": (("internal.metrics.executorCpuTime",), 1e-6),
    "executor.gc_ms": (("internal.metrics.jvmGCTime",), 1.0),
    "shuffle.read_bytes": (
        ("internal.metrics.shuffle.read.remoteBytesRead",
         "internal.metrics.shuffle.read.localBytesRead"), 1.0),
    "shuffle.write_bytes": (("internal.metrics.shuffle.write.bytesWritten",), 1.0),
    "shuffle.fetch_wait_ms": (("internal.metrics.shuffle.read.fetchWaitTime",), 1.0),
    "shuffle.spill_bytes": (
        ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled"), 1.0),
    "python.bytes_sent": (("data sent to Python workers",), 1.0),
    "python.bytes_returned": (("data returned from Python workers",), 1.0),
    "python.init_ms": (("time to initialize Python workers",), 1.0),
    "python.run_ms": (("time to run Python workers",), 1.0),
    "scan.bytes_read": (("internal.metrics.input.bytesRead",), 1.0),
    "scan.files_read": (("number of files read",), 1.0),
    "rescan.bytes_written": (("internal.metrics.output.bytesWritten",), 1.0),
}


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _plan_metrics(info: dict, names: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, names)


def parse_eventlog(log_dir: Path) -> tuple[dict, dict]:
    """(jobs, stages) from the uncompressed event log. Driver-side SQL
    metrics (files listed by a scan) are summed per SQL execution and
    handed to the jobs of that execution as ``driver_acc``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    acc_names: dict[int, str] = {}
    driver_acc: dict[int, dict[str, float]] = {}
    # Spark 4 writes a rolling log: a directory holding events_<n>_<app>
    for path in sorted(p for p in log_dir.rglob("events_*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "end": ev["Submission Time"],
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "execution": props.get("spark.sql.execution.id"),
                        "stage_ids": ev.get("Stage IDs", []),
                    }
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, acc_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    sums = driver_acc.setdefault(ev["executionId"], {})
                    for acc_id, value in ev.get("accumUpdates", []):
                        name = acc_names.get(acc_id)
                        if name:
                            sums[name] = sums.get(name, 0.0) + _num(value)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc: dict[str, float] = {}
                    for a in info.get("Accumulables", []):
                        acc[a.get("Name")] = acc.get(a.get("Name"), 0.0) + _num(a.get("Value"))
                    stages[info["Stage ID"]] = {
                        "start": info.get("Submission Time", 0),
                        "end": info.get("Completion Time", 0),
                        "tasks": info.get("Number of Tasks", 0),
                        "acc": acc,
                    }
    for job in jobs.values():
        ex = job["execution"]
        job["driver_acc"] = driver_acc.get(int(ex), {}) if ex is not None else {}
        job["stages"] = [
            s for s in job["stage_ids"]
            if s in stages and job["start"] <= stages[s]["start"] <= job["end"] + 1
        ]
    return jobs, stages


def _union_ms(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _op_layers(op_jobs: list[dict], stages: dict, lo: float, hi: float) -> dict:
    """Scheduler, executor, shuffle, Python and scan figures of one op."""
    st = [stages[s] for j in op_jobs for s in j["stages"]]
    out = {
        "scheduler.jobs": len(op_jobs),
        "scheduler.stages": len(st),
        "scheduler.tasks": sum(s["tasks"] for s in st),
        "scheduler.single_task_stages": sum(1 for s in st if s["tasks"] == 1),
        "scheduler.outside_stage_ms": (hi - lo) - _union_ms(
            [(s["start"], s["end"]) for s in st], lo, hi),
        "scheduler.job_self_ms": sum(
            (j["end"] - j["start"])
            - _union_ms([(stages[s]["start"], stages[s]["end"]) for s in j["stages"]],
                        j["start"], j["end"])
            for j in op_jobs
        ),
    }
    for metric, (names, scale) in _STAGE_SUMS.items():
        out[metric] = scale * sum(s["acc"].get(n, 0.0) for s in st for n in names)
    # listed files are a driver metric, once per SQL execution
    executions = {j["execution"]: j["driver_acc"] for j in op_jobs}
    out["scan.files_read"] += sum(acc.get("number of files read", 0.0)
                                  for acc in executions.values())
    return out


_MEDIAN_PREFIXES = (
    "queries.factory_ms", "queries.factory_self_ms", "queries.action_ms", "catalyst.",
    "scheduler.outside_stage_ms", "scheduler.job_self_ms", "stream.", "state.",
)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _aggregate(per_op: list[dict]) -> dict[str, float]:
    """Median per op of span times and per-trigger progress figures,
    mean per op of counts, bytes and summed task times."""
    out = {}
    for key in per_op[0] if per_op else ():
        vals = [o[key] for o in per_op]
        out[key] = median(vals) if key.startswith(_MEDIAN_PREFIXES) else _mean(vals)
    return out


def _write_spans(spans: list[dict], path: Path) -> None:
    path.parent.mkdir(exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")


def _finish(values: dict[str, float], session, calib, e2e) -> dict:
    values.update(
        {
            "session.start_s": session["start_s"],
            "session.stage_input_s": session["stage_input_s"],
            "session.warmup_s": session["warmup_s"],
            "box.calib_start_ms": calib[0],
            "box.calib_end_ms": calib[1],
            "trace.latency_p50_ms": e2e["latency_p50_ms"],
            "trace.cpu_ms_per_op": e2e["cpu_ms_per_op"],
        }
    )
    return {k: (float(values.get(k, 0.0)), unit) for k, unit in LAYER_METRICS.items()}


def registry_layers(log_dir: Path, ops: list[dict], session, calib, e2e, spans_path) -> dict:
    jobs, stages = parse_eventlog(log_dir)
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)
    per_op, spans = [], []
    for op in ops:
        key = f"{op['name']}|{op['pass']}"
        f_jobs = by_group.get(f"{key}|factory", [])
        a_jobs = by_group.get(f"{key}|action", [])
        lo = op["t0_ms"]
        hi = lo + op["latency_ms"]
        f_hi = lo + op["factory_ms"]
        row = _op_layers(f_jobs + a_jobs, stages, lo, hi)
        cat = op.get("catalyst", {})
        row.update(
            {
                "queries.factory_ms": op["factory_ms"],
                "queries.factory_self_ms": op["factory_ms"] - _union_ms(
                    [(j["start"], j["end"]) for j in f_jobs], lo, f_hi),
                "queries.factory_jobs": len(f_jobs),
                "queries.action_ms": op["action_ms"],
                "catalyst.analysis_ms": cat.get("analysis", 0.0),
                "catalyst.optimization_ms": cat.get("optimization", 0.0),
                "catalyst.planning_ms": cat.get("planning", 0.0),
            }
        )
        per_op.append(row)
        spans.append({"span": "op", "name": key, "start": lo, "end": hi})
        spans.append({"span": "factory", "name": key, "start": lo, "end": f_hi})
        spans.append({"span": "action", "name": key, "start": f_hi, "end": hi})
        for j in f_jobs + a_jobs:
            spans.append({"span": "job", "name": key, "start": j["start"], "end": j["end"]})
            for s in j["stages"]:
                spans.append({"span": "stage", "name": key, "start": stages[s]["start"],
                              "end": stages[s]["end"], "tasks": stages[s]["tasks"]})
    _write_spans(spans, spans_path)
    values = _aggregate(per_op)
    return _finish(values, session, calib, e2e)


_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.query_planning_ms": "queryPlanning",
}
_STATE = {
    "state.rows_total": "numRowsTotal",
    "state.memory_bytes": "memoryUsedBytes",
    "state.commit_ms": "commitTimeMs",
    "state.update_ms": "allUpdatesTimeMs",
    "state.removal_ms": "allRemovalsTimeMs",
}


def stream_layers(log_dir: Path, progress, measured, engine, session, store_dir,
                  facade, calib, e2e, spans_path) -> dict:
    jobs, stages = parse_eventlog(log_dir)
    windows = {}
    for p in progress:
        start = _iso_ms(p["timestamp"])
        windows[p["batchId"]] = (start, start + p["durationMs"].get("triggerExecution", 0))
    by_batch: dict[int, list[dict]] = {}
    for j in jobs.values():
        if j["batch"] is not None:
            by_batch.setdefault(int(j["batch"]), []).append(j)
    per_op, spans = [], []
    for p in measured:
        bid = p["batchId"]
        lo, hi = windows[bid]
        b_jobs = by_batch.get(bid, [])
        row = _op_layers(b_jobs, stages, lo, hi)
        dur = p["durationMs"]
        for metric, key in _PHASES.items():
            row[metric] = float(dur.get(key, 0))
        ops_state = p.get("stateOperators") or []
        for metric, key in _STATE.items():
            row[metric] = float(sum(_num(s.get(key)) for s in ops_state))
        row["stream.input_rows"] = float(p.get("numInputRows", 0))
        row["stream.output_rows"] = float(facade["anomalies_by_batch"].get(bid, 0))
        per_op.append(row)
        spans.append({"span": "trigger", "name": bid, "start": lo, "end": hi,
                      "phases": dur})
        for j in b_jobs:
            spans.append({"span": "job", "name": bid, "start": j["start"], "end": j["end"]})
            for s in j["stages"]:
                spans.append({"span": "stage", "name": bid, "start": stages[s]["start"],
                              "end": stages[s]["end"], "tasks": stages[s]["tasks"]})
    _write_spans(spans, spans_path)
    values = _aggregate(per_op)
    if engine == "foreachBatch" and store_dir.exists():
        values["rescan.store_files"] = sum(
            1 for p in store_dir.rglob("*.parquet") if p.is_file())
    else:
        values["rescan.bytes_written"] = 0.0
    values["facade.errors"] = facade["errors"]
    values["facade.anomalies"] = sum(facade["anomalies_by_batch"].values())
    return _finish(values, session, calib, e2e)


def _iso_ms(stamp: str) -> float:
    """Progress timestamps (``2024-01-01T12:00:00.123Z``) to epoch ms."""
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1e3
