"""Stream workloads: the ``Sarkac`` facade over either sigma engine.

Input: the reference example fixture (``sources.synthetic``: payload
``{"sub": {"one": 15.5}, "two": 16}`` with ±0.1 jitter, a spike on
``sub.one`` every 12th message, a dip on ``two`` every 24th, one message
per topic every 2.5 s of event time) replicated over ``TOPICS`` topics.
It is staged with pyarrow as parquet files of ``MSGS_PER_TRIGGER``
messages each; the file source reads one file per trigger and the query
runs with ``trigger_seconds=0``, so triggers run back to back: a closed
loop with fixed work per trigger.

The op is one trigger and its latency is ``durationMs.triggerExecution``:
the per-trigger wall of a closed loop, not the open-loop delay of an
event. An open loop at a fixed input rate measures queueing as much as
the engine, and its numbers swing with the box's load; a closed loop
drains as fast as the engine allows, so latency and drain rate both
track the code. Below saturation an event's detection delay is one to
two trigger walls.

The first ``WARMUP_TRIGGERS`` triggers of the query are set-up: they are
excluded from the percentiles and counted in ``setup_s``. The number of
triggers is fixed by ``--seconds`` (at a nominal per-trigger wall for the
engine), not by a clock, so every run does the same work; the rescan
engine re-reads its whole store each trigger, so its trigger wall grows
with the trigger index by design.

The seed rotates which topic leads each file. Every anomaly is checked
against the planted indices under the default 120 s cooldown, and the
stateful engine's output also against ``online_sigma_scan`` over the
same input.
"""

from __future__ import annotations

import json
import math
import os
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import procstat
from common import OUT, calib_ms, median, percentile, stamp, start_session, stop_session

# the 8 series (topic x field) of these topics hash two to each of the
# 4 state partitions, so every partition holds series
TOPICS = ("bench-00", "bench-01", "bench-08", "bench-11")
MSGS_PER_TRIGGER = 400
# triggers of a new query counted as set-up, per engine: the stateful
# engine's second trigger is still ~1.5x its steady wall; the rescan
# engine's first trigger is ~4x and its second near steady
WARMUP_TRIGGERS = {"stateful": 2, "foreachBatch": 1}
TICK_US = 2_500_000
T0_US = 1_704_110_400_000_000  # 2024-01-01 12:00:00 UTC, as the fixture
WINDOW = "5m"
WINDOW_S = 300
COOLDOWN_S = 120  # the facade's default anomalyCooldownSeconds
MIN_COUNT = 3
# measured steady trigger wall per engine on a 4-core VM (median of the
# per-run p50s over 40 runs: 1.5 s stateful, 4.9 s rescan at its second
# and third trigger); with --seconds it fixes the trigger count of a run
# (it is not a time limit)
NOMINAL_TRIGGER_S = {"stateful": 1.5, "foreachBatch": 4.9}
SCHEMA = "topic string, key string, value string, ts timestamp"


def payload_values(i: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sub.one, two) of message index ``i``: the synthetic fixture."""
    from sarkac_spark.sources import synthetic as syn

    jitter = np.where(i % 2 == 1, 0.1, -0.1)
    one = np.where(i % syn.SPIKE_EVERY == syn.SPIKE_EVERY - 1, syn.SPIKE_ONE, syn.BASE_ONE + jitter)
    two = np.where(i % syn.DIP_EVERY == syn.DIP_EVERY - 1, syn.DIP_TWO, syn.BASE_TWO + jitter)
    return one, two


def stage_input(src: Path, n_files: int, seed: int) -> int:
    """Write ``n_files`` parquet files of ``MSGS_PER_TRIGGER`` messages;
    returns the message count per topic. File modification times are
    set in order, so the file source reads them in index order."""
    src.mkdir(parents=True, exist_ok=True)
    per_topic = MSGS_PER_TRIGGER // len(TOPICS)
    n_per_topic = per_topic * n_files
    idx = np.arange(n_per_topic)
    one, two = payload_values(idx)
    payloads = [
        json.dumps({"sub": {"one": float(a)}, "two": float(b)}) for a, b in zip(one, two)
    ]
    lead = seed % len(TOPICS)
    order = TOPICS[lead:] + TOPICS[:lead]
    mtime0 = time.time_ns() - n_files * 1_000_000_000
    for f in range(n_files):
        rows = [(t, i) for i in range(f * per_topic, (f + 1) * per_topic) for t in order]
        table = pa.table(
            {
                "topic": [t for t, _ in rows],
                "key": [str(i) for _, i in rows],
                "value": [payloads[i] for _, i in rows],
                "ts": pa.array(
                    [T0_US + i * TICK_US for _, i in rows], pa.timestamp("us", tz="UTC")
                ),
            }
        )
        path = src / f"part-{f:05d}.parquet"
        pq.write_table(table, path)
        t = mtime0 + f * 1_000_000_000
        os.utime(path, ns=(t, t))
    return n_per_topic


def cooldown_walk(rows: list[tuple], cooldown_us: int) -> list[tuple]:
    """Emit-then-suppress over rows ``(topic, path, window, ts, *rest)``:
    per series, in event-time order, a row is kept when it is the first
    or at least the cooldown after the last kept one."""
    out, last = [], {}
    for r in sorted(rows, key=lambda r: (r[:3], r[3])):
        key, ts = r[:3], r[3]
        if key not in last or ts - last[key] >= cooldown_us:
            out.append(r)
            last[key] = ts
    return out


def expected_anomalies(n_per_topic: int) -> set[tuple[str, str, int, int]]:
    """(topic, path, window_seconds, event_ts_us) the engines must emit:
    the planted indices that have ``MIN_COUNT`` earlier points, thinned
    by the cooldown per series."""
    from sarkac_spark.sources.synthetic import expected_anomaly_indices

    spikes, dips = expected_anomaly_indices(n_per_topic)
    planted = [
        (topic, path, WINDOW_S, T0_US + i * TICK_US)
        for topic in TOPICS
        for path, indices in (("sub.one", spikes), ("two", dips))
        for i in indices
        if i >= MIN_COUNT
    ]
    return set(cooldown_walk(planted, COOLDOWN_S * 1_000_000))


def check_set(got: set, expected: set) -> list[str]:
    problems = []
    if got != expected:
        problems.append(
            f"anomaly set differs: {len(got - expected)} unexpected, "
            f"{len(expected - got)} missing, e.g. "
            f"{sorted(got - expected)[:2]} / {sorted(expected - got)[:2]}"
        )
    return problems


def online_reference(spark, src: Path, dsl) -> list[tuple]:
    """The stateful engine's batch twin: ``online_sigma_scan`` over the
    same extracted input, then the same cooldown."""
    from pyspark.sql import functions as F

    from sarkac_spark.operators.anomaly import online_sigma_scan
    from sarkac_spark.streaming.pipeline import extract_fields

    batch = spark.read.schema(SCHEMA).parquet(str(src))
    scored = online_sigma_scan(
        extract_fields(batch, dsl),
        group_cols=("topic", "field_path"),
        ts_col="produced",
        window_seconds=WINDOW_S,
        min_count=MIN_COUNT,
        id_cols=(),
    ).select(
        "topic", F.col("field_path").alias("path"), F.lit(WINDOW_S).alias("w"),
        "event_ts_us", "value", "three_sigma",
    )
    rows = [tuple(r) for r in scored.collect()]
    return cooldown_walk(rows, COOLDOWN_S * 1_000_000)


def check_stateful(got_rows: list[tuple], ref_rows: list[tuple]) -> list[str]:
    """Stateful output equals the batch twin: same keys, same value and
    score to float noise."""
    got = {r[:4]: r[4:] for r in got_rows}
    ref = {r[:4]: r[4:] for r in ref_rows}
    problems = check_set(set(got), set(ref))
    for k in set(got) & set(ref):
        (gv, gs), (rv, rs) = got[k], ref[k]
        if gv != rv or abs(gs - rs) > 1e-4:
            problems.append(f"{k}: stateful ({gv}, {gs}) vs online ({rv}, {rs})")
            break
    return problems


def anomalies_by_batch(rows: list[tuple]) -> dict[int, int]:
    """Anomaly rows per trigger: trigger k reads file k, which holds the
    messages of indices [k, k + 1) x ``MSGS_PER_TRIGGER / len(TOPICS)``."""
    per_topic = MSGS_PER_TRIGGER // len(TOPICS)
    out: dict[int, int] = {}
    for r in rows:
        batch = (r[3] - T0_US) // TICK_US // per_topic
        out[batch] = out.get(batch, 0) + 1
    return out


def _progress_rows(query) -> list[dict]:
    rows = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in rows if p.get("numInputRows", 0) > 0]


def run_stream(args, work: Path):
    from sarkac_spark.sarkac import Sarkac

    engine = "stateful" if args.workload == "stream_stateful" else "foreachBatch"
    warmup = WARMUP_TRIGGERS[engine]
    n_files = warmup + max(1, math.ceil(args.seconds / NOMINAL_TRIGGER_S[engine]))

    spark, start_s = start_session(work, bool(args.trace))
    calib0 = calib_ms(spark, first=True)
    t0 = time.perf_counter()
    src = work / "src"
    n_per_topic = stage_input(src, n_files, args.seed)
    stage_s = time.perf_counter() - t0

    fields = {"sub.one": {"windows": [WINDOW]}, "two": {"windows": [WINDOW]}}
    config = {
        "dsl": {t: {"fields": fields} for t in TOPICS},
        "engine": engine,
        "discovery": {"enabled": engine == "foreachBatch"},
    }
    sarkac = Sarkac(spark, config, work_dir=str(work / "engine"))
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    failure = None
    t0 = t_warm = time.perf_counter()
    cpu0 = cpu1 = 0.0
    query = sarkac.analyse(stream, trigger_seconds=0)
    try:
        while (query.lastProgress or {}).get("batchId", -1) < warmup - 1:
            if not query.isActive:
                break
            time.sleep(0.01)
        t_warm = time.perf_counter()
        pids = procstat.tree_pids()
        cpu0 = procstat.cpu_seconds(pids)
        query.processAllAvailable()
        t_end = time.perf_counter()
        cpu1 = procstat.cpu_seconds(procstat.tree_pids())
    except Exception as e:  # noqa: BLE001 - a dead query is a failed run, reported below
        failure = f"{type(e).__name__}: {e}"
        t_end = time.perf_counter()
    warmup_s = t_warm - t0
    progress = _progress_rows(query)
    rss = procstat.peak_rss_by_command()
    rss_mb = sum(rss.values())
    sarkac.close()
    calib1 = calib_ms(spark)

    measured = [p for p in progress if p["batchId"] >= warmup]
    lat = [p["durationMs"]["triggerExecution"] for p in measured]
    attempted = n_files - warmup
    errors = sarkac.counters.errors
    failed = min(attempted, errors + max(0, attempted - len(measured)))

    # correctness, untimed
    problems = [failure] if failure else []
    anomaly_dir = work / "engine" / "anomalies"
    got_rows: list[tuple] = []
    if anomaly_dir.exists():
        try:
            got_rows = [
                tuple(r)
                for r in spark.read.parquet(str(anomaly_dir))
                .select("topic", "path", "window_seconds", "event_ts_us", "value", "three_sigma")
                .collect()
            ]
        except Exception as e:  # noqa: BLE001 - unreadable output is a wrong result
            problems.append(f"anomaly output unreadable: {type(e).__name__}: {e}")
    got = {r[:4] for r in got_rows}
    if len(got) != len(got_rows):
        problems.append(f"{len(got_rows) - len(got)} duplicate anomaly rows")
    if not failure:
        problems += check_set(got, expected_anomalies(n_per_topic))
        if engine == "stateful":
            problems += check_stateful(got_rows, online_reference(spark, src, sarkac.dsl))
    if errors:
        problems.append(f"facade counted {errors} trigger errors")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "stamp": stamp(spark),
        "box.calib_ms": [round(calib0, 3), round(calib1, 3)],
        "setup": {"start_s": round(start_s, 3), "stage_input_s": round(stage_s, 3),
                  "warmup_s": round(warmup_s, 3)},
        "peak_rss_mb_by_command": {k: round(v, 1) for k, v in rss.items()},
        "trigger_ms": lat,
        "msgs_per_trigger": MSGS_PER_TRIGGER,
        "topics": len(TOPICS),
        "problems": problems[:10],
    }
    stop_session(spark)

    events = sum(p["numInputRows"] for p in measured)
    window_s = t_end - t_warm
    cpu_ms_per_op = (cpu1 - cpu0) * 1e3 / max(1, len(lat))
    if args.trace:
        from layers import stream_layers

        metrics = stream_layers(
            work / "eventlog", progress, measured, engine,
            session={"start_s": start_s, "stage_input_s": stage_s, "warmup_s": warmup_s},
            store_dir=work / "engine" / "store",
            facade={"errors": errors, "anomalies_by_batch": anomalies_by_batch(got_rows)},
            calib=(calib0, calib1),
            e2e={"latency_p50_ms": median(lat), "cpu_ms_per_op": cpu_ms_per_op},
            spans_path=OUT / f"spans-{args.workload}-seed{args.seed}.jsonl",
        )
    else:
        metrics = {
            "latency_p50_ms": (median(lat), "ms"),
            "latency_p90_ms": (percentile(lat, 90), "ms"),
            "throughput_per_s": (events / window_s if window_s > 0 else 0.0, "1/s"),
            "cpu_ms_per_op": (cpu_ms_per_op, "ms"),
            "peak_rss_mb": (rss_mb, "MiB"),
            "setup_s": (start_s + stage_s + warmup_s, "s"),
        }
    result = {
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record
