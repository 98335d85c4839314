"""Closed-loop benchmark of sarkac_spark's public entry points.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:

- ``registry_sf0.1``: a committed list of registry queries
  (``perfbench/queries.json``) run one after another through
  ``__spark_entry__.queries()``, each op the factory call plus a
  ``noop`` write. The seed permutes the order of each pass.
- ``stream_stateful`` / ``stream_rescan``: ``Sarkac(...).analyse(stream,
  trigger_seconds=0)`` with ``engine="stateful"`` or the default
  ``foreachBatch`` engine, over pre-staged files, one file per trigger.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` first makes
one untraced run with the same arguments (the baseline of the tracing
overhead, counted as one more op), then turns on Spark's event log and
prints the per-layer split instead. Either way the last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a record of the box and code (core count,
versions, source digest, plan digests, drift sentinel). Every output is
checked, outside the timed regions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

from common import HERE, ROOT

WORKLOADS = ("registry_sf0.1", "stream_stateful", "stream_rescan")
# the sibling run takes about as long as the traced one; both must end
# well inside three minutes
SIBLING_TIMEOUT_S = 80


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _prepare_env(work: Path) -> None:
    """Keep every file Spark and Python write inside ``work``, and let
    Python workers import the package whatever their working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _untraced_sibling(args) -> tuple[float | None, str | None]:
    """One untraced run with the same arguments, made just before the
    traced one: the trace overhead is measured against its
    ``latency_p50_ms``. Returns ``(p50, None)``, or ``(None, why)`` when
    the sibling gave no correct result with every op done."""
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    # its own process group, so a timeout also stops the JVM it started
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=SIBLING_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, f"untraced sibling run exceeded {SIBLING_TIMEOUT_S} s"
    try:
        result = json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return None, f"untraced sibling run printed no result (exit {proc.returncode})"
    if not result["correct"] or result["failed"]:
        return None, "untraced sibling run was not correct"
    return result["metrics"]["latency_p50_ms"]["value"], None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "sarkac_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        _fail(f"no sarkac_spark package next to {HERE.name}/; run from a full checkout")

    baseline, baseline_problem = _untraced_sibling(args) if args.trace else (None, None)
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _prepare_env(work)
    try:
        if args.workload.startswith("registry"):
            from registry import run_registry as run
        else:
            from streams import run_stream as run
        result, record = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    if args.trace:
        # the sibling run is one more op of the traced run; when it gives
        # no baseline the overhead stays 0 and the op counts as failed
        result["attempted"] += 1
        if baseline is None:
            result["failed"] += 1
            record["problems"].append(baseline_problem)
        else:
            overhead = result["metrics"]["trace.overhead_pct"]
            traced = result["metrics"]["trace.latency_p50_ms"]["value"]
            overhead["value"] = 100.0 * (traced / baseline - 1.0)
        record["trace.baseline_p50_ms"] = baseline
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
