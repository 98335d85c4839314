"""Measure applyInPandasWithState's per-key harness floor (round 10).

Two probes over the SAME 1M rows: (a) 1M distinct keys, (b) 1k keys of
1k rows each — both with a trivial stateful function (drain input,
state.update one byte, emit nothing). The wall difference isolates the
per-GROUP cost of the keyed-state protocol itself (per-group pandas
slicing + GroupState object + state row round trip), which no
user-function optimization can remove.

Round-10 measurement on local[32] (RocksDB provider, changelog
checkpointing): 1M keys = 40.9 s, 1k keys = 1.8 s => ~1.3 ms*core per
key. This is the floor that bounds StatefulDedupPipeline.bootstrap_state
(2M docs ~ 10M band keys): the seed-mode operator runs within ~1.3x of
it. The cost is CONSTANT per key and embarrassingly parallel — on a
1000-executor cluster onboarding 1B docs (~5B keys) is ~5e9 * 1.6e-3
core-s / 8000 cores ~ 17 min; the local-32-core wall is the wrong lens
for it. No offline state writer is reachable FROM this operator (the
state data source is read-only — probed: df.write.format("statestore")
fails with STDS_COMMITTED_BATCH_UNAVAILABLE, there is no write path);
the API-level bypass is transformWithState initialState onboarding,
which needs a google.protobuf runtime that is not a project dependency
— see ARCHITECTURE.md §3a-state.

Round-11 addition (--cores-sweep): validate the "embarrassingly
parallel" claim behind the 17-min extrapolation — run the
distinct-keys probe under local[8]/local[16]/local[32] (fresh session
per point, shuffle partitions = cores) and check wall ~ 1/cores. If the
floor were a serial bottleneck (state-file commit, driver-side
coordination), the wall would NOT fall with cores and the cluster
extrapolation would be wrong.

Usage: python tools/probe_state_floor.py [--rows 1000000]
       python tools/probe_state_floor.py --cores-sweep 8,16,32 [--rows 500000]
Run alone (timing measurement).
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from sarkac_spark.session import ROCKSDB_PROVIDER, get_spark


def _fn(key, pdfs, state):
    for _ in pdfs:
        pass
    state.update((b"x",))
    return
    yield  # pragma: no cover


def _run(spark, df, work: Path, tag: str) -> float:
    src = work / f"src_{tag}"
    df.write.mode("overwrite").parquet(str(src / "b0"))
    stream = spark.readStream.schema("k string, id long").parquet(str(src / "*"))
    out = stream.groupBy("k").applyInPandasWithState(
        _fn,
        outputStructType="id long",
        stateStructType="v binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    t0 = time.monotonic()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", str(work / f"ckpt_{tag}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return round(time.monotonic() - t0, 1)


def _sweep(cores_list: list[int], rows: int) -> int:
    """One fresh session per core count (master is fixed at session
    creation), distinct-keys probe each, fresh checkpoint each. Prints
    per-point walls + the parallel-efficiency ratio."""
    walls: dict[int, float] = {}
    for c in cores_list:
        spark = get_spark(
            f"probe_state_floor_c{c}",
            master=f"local[{c}]",
            shuffle_partitions=c,
            extra_conf={
                "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled": "true",
            },
        )
        work = Path(tempfile.mkdtemp(prefix=f"state_floor_c{c}_"))
        try:
            many = spark.range(rows).select(
                F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id")
            )
            walls[c] = _run(spark, many, work, f"c{c}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
            spark.stop()
    lo, hi = min(cores_list), max(cores_list)
    ideal = hi / lo
    actual = walls[lo] / walls[hi] if walls[hi] else float("nan")
    print(
        {
            "rows": rows,
            "walls_s": {str(c): walls[c] for c in cores_list},
            "speedup_lo_to_hi": round(actual, 2),
            "ideal_speedup": ideal,
            "parallel_efficiency": round(actual / ideal, 2),
        }
    )
    return 0


def main() -> int:
    args = sys.argv[1:]
    if "--cores-sweep" in args:
        cores_list = [
            int(x) for x in args[args.index("--cores-sweep") + 1].split(",")
        ]
        rows = (
            int(args[args.index("--rows") + 1]) if "--rows" in args else 500_000
        )
        return _sweep(cores_list, rows)
    rows = int(args[args.index("--rows") + 1]) if "--rows" in args else 1_000_000
    spark = get_spark(
        "probe_state_floor",
        extra_conf={
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled": "true",
        },
    )
    work = Path(tempfile.mkdtemp(prefix="state_floor_"))
    try:
        many = spark.range(rows).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id")
        )
        few = spark.range(rows).select(
            (F.col("id") % 1000).cast("string").alias("k"), F.col("id")
        )
        w_many = _run(spark, many, work, "many")
        w_few = _run(spark, few, work, "few")
        cores = spark.sparkContext.defaultParallelism
        per_key_ms = round((w_many - w_few) * cores / rows * 1000, 2)
        print(
            {
                "rows": rows,
                "wall_distinct_keys_s": w_many,
                "wall_1k_keys_s": w_few,
                "per_key_floor_ms_core": per_key_ms,
            }
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
