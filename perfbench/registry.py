"""Registry workload: a committed list of queries from
``__spark_entry__.queries()`` at sf0.1, run one after another by a
single client.

Each op is the factory call ``fn(spark, sf_dir)`` plus a
``write.format("noop")`` action; its latency is the wall of both. Set-up
builds the ten sf0.1-shaped tables (``datagen``; later runs in the same
checkout reuse them) and runs one warm pass over the list, collecting
every result; the warm pass's results are checked against each query's
DuckDB oracle (outside every timed region) with the normalisation of
``tools/check_oracle.py``. The timed passes then run the same list in a
seed-permuted order. The number of timed passes is fixed by
``--seconds`` at a nominal pass wall, so every run does the same work.
"""

from __future__ import annotations

import json
import math
import random
import sys
import time
from pathlib import Path

import datagen
import procstat
from common import (
    HERE, OUT, ROOT, calib_ms, median, percentile, stamp, start_session, stop_session,
)

# an odd number of queries, each run once per pass: the median op then
# falls among the middle query's own samples, not in the gap between the
# latencies of two different queries, where it would jump between runs
QUERY_LIST = HERE / "queries.json"
# measured wall of one timed pass on a 4-core VM (the seven queries'
# median op times sum to 8.1 s); with --seconds it fixes the pass count
# of a run (it is not a time limit)
NOMINAL_PASS_S = 8.1


def load_query_list() -> list[str]:
    return json.loads(QUERY_LIST.read_text())["queries"]


def _oracle_checker(sf_dir: str):
    """Returns ``check(name, df_schema, cols, rows) -> problem | None``
    against DuckDB over the same parquet files."""
    import duckdb

    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle as co

    import __spark_entry__
    from sarkac_spark.sources.tables import TABLES

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    def check(name, schema, cols, rows):
        if name not in oracles:
            return f"{name}: no oracle"
        res = con.sql(oracles[name])
        d_cols, d_rows = res.columns, res.fetchall()
        return compare(name, cols, rows, d_cols, d_rows,
                       co._kind_mismatches(schema, d_cols, res.types), co._norm_rows)

    return check


def compare(name, s_cols, s_rows, d_cols, d_rows, kind_bad, norm_rows) -> str | None:
    """The oracle gate's verdict for one query, ``None`` when it matches."""
    if kind_bad:
        return f"{name}: numeric kinds differ {kind_bad}"
    if sorted(s_cols) != sorted(d_cols):
        return f"{name}: columns {sorted(s_cols)} vs oracle {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"{name}: {len(s_rows)} rows vs oracle {len(d_rows)}"
    if norm_rows(s_cols, s_rows) != norm_rows(d_cols, d_rows):
        return f"{name}: values differ from oracle"
    return None


def run_registry(args, work: Path):
    import __spark_entry__
    from sarkac_spark.plans import plan_digest

    spark, start_s = start_session(work, bool(args.trace))
    calib0 = calib_ms(spark, first=True)
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sf_dir = datagen.cached_tables()
    stage_s = time.perf_counter() - t0

    names = load_query_list()
    registry = __spark_entry__.queries()
    problems = [f"{n}: not in the registry" for n in names if n not in registry]
    names = [n for n in names if n in registry]

    # warm pass: set-up; every result is kept for the oracle check
    results, digests, warm_ms = {}, {}, {}
    for name in names:
        sc.setJobGroup(f"{name}|warm|query", name)
        t0 = time.perf_counter()
        try:
            df = registry[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - reported as a problem, the run goes on
            problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        finally:
            warm_ms[name] = (time.perf_counter() - t0) * 1e3
        results[name] = (df.schema, df.columns, rows)
        try:
            digests[name] = plan_digest(df)
        except Exception:  # noqa: BLE001 - the digest is a stamp, not a check
            digests[name] = None

    warmup_s = sum(warm_ms.values()) / 1e3
    check = _oracle_checker(sf_dir)
    for name, (schema, cols, rows) in results.items():
        problem = check(name, schema, cols, rows)
        if problem:
            problems.append(problem)
    results.clear()

    rng = random.Random(args.seed)
    n_passes = max(1, math.ceil(args.seconds / NOMINAL_PASS_S))
    ops = []
    pids = procstat.tree_pids()
    cpu0 = procstat.cpu_seconds(pids)
    t_start = time.perf_counter()
    epoch_offset = time.time() - t_start
    for p in range(n_passes):
        order = names[:]
        rng.shuffle(order)
        for name in order:
            op = {"name": name, "pass": p}
            sc.setJobGroup(f"{name}|{p}|factory", name)
            t0 = time.perf_counter()
            try:
                df = registry[name](spark, sf_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{name}|{p}|action", name)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                problems.append(f"{name} pass {p}: {type(e).__name__}: {str(e)[:200]}")
                continue
            op.update(t0_ms=(t0 + epoch_offset) * 1e3, factory_ms=(t1 - t0) * 1e3,
                      action_ms=(t2 - t1) * 1e3, latency_ms=(t2 - t0) * 1e3)
            if args.trace:
                op["catalyst"] = catalyst_phases(df)
            ops.append(op)
    window_s = time.perf_counter() - t_start
    cpu1 = procstat.cpu_seconds(procstat.tree_pids())
    rss = procstat.peak_rss_by_command()
    rss_mb = sum(rss.values())
    calib1 = calib_ms(spark)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "stamp": stamp(spark),
        "box.calib_ms": [round(calib0, 3), round(calib1, 3)],
        "setup": {"start_s": round(start_s, 3), "stage_input_s": round(stage_s, 3),
                  "warmup_s": round(warmup_s, 3)},
        "peak_rss_mb_by_command": {k: round(v, 1) for k, v in rss.items()},
        "passes": n_passes,
        "queries": len(names),
        "plan_digests": digests,
        "op_ms": [{o["name"]: round(o["latency_ms"], 1) for o in ops if o["pass"] == p}
                  for p in range(n_passes)],
        "warm_ms": {n: round(v, 1) for n, v in warm_ms.items()},
        "problems": problems[:10],
    }
    stop_session(spark)

    attempted = n_passes * len(names)
    lat = [o["latency_ms"] for o in ops]
    cpu_ms_per_op = (cpu1 - cpu0) * 1e3 / max(1, len(ops))
    if args.trace:
        from layers import registry_layers

        metrics = registry_layers(
            work / "eventlog", ops,
            session={"start_s": start_s, "stage_input_s": stage_s, "warmup_s": warmup_s},
            calib=(calib0, calib1),
            e2e={"latency_p50_ms": median(lat), "cpu_ms_per_op": cpu_ms_per_op},
            spans_path=OUT / f"spans-{args.workload}-seed{args.seed}.jsonl",
        )
    else:
        metrics = {
            "latency_p50_ms": (median(lat), "ms"),
            "latency_p90_ms": (percentile(lat, 90), "ms"),
            "throughput_per_s": (len(ops) / window_s, "1/s"),
            "cpu_ms_per_op": (cpu_ms_per_op, "ms"),
            "peak_rss_mb": (rss_mb, "MiB"),
            "setup_s": (start_s + stage_s + warmup_s, "s"),
        }
    result = {
        "correct": not problems and len(ops) == attempted,
        "attempted": attempted,
        "failed": attempted - len(ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def catalyst_phases(df) -> dict[str, float]:
    """Spark's own Catalyst phase times for the query's plan (ms).
    Forces optimisation and planning of the DataFrame's QueryExecution
    after the timed action; only the traced run calls it."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
