"""SparkSession construction.

Defaults are tuned so the same code runs on local[N] for tests and on a
large cluster for the 100 TB target:

- AQE on (runtime coalesce, skew-join splitting) so static
  ``spark.sql.shuffle.partitions`` only needs to be an upper bound.
- Arrow on: every Pandas UDF path transfers columnar batches.
- Session timezone pinned to UTC so results compare bit-for-bit with the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- ``spark.sql.legacy.parquet.nanosAsLong``: the driver's ``events`` table
  carries TIMESTAMP(NANOS) which Spark's parquet reader otherwise rejects;
  we read it as a long and convert (see ``sources.tables``).
- ``local[...]`` masters boot Python workers from ``worker_daemon``, with
  this package on their PYTHONPATH (see that module for why).
- ``spark.python.sql.dataFrameDebugging.enabled=false``: with it on,
  PySpark captures the Python call site of every ``functions.*`` and
  ``Column`` call and sends it to the JVM, about five extra py4j round
  trips per call; a streaming trigger that rebuilds its plan pays that
  thousands of times. The cost of turning it off: an analysis error
  no longer names the Python line whose DataFrame call caused it.
  Opt back in with ``extra_conf={DATAFRAME_DEBUGGING: "true"}``. PySpark
  reads the flag once per process, at its first decorated call, so it
  has to be set when the session is built, not later.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
DATAFRAME_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "sarkac_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master``/``shuffle_partitions`` default from env so the same entry
    points work under the driver harness (SPARK_GRAFT_CPUS) and in tests.
    On a real cluster, pass ``master=None`` with spark-submit providing the
    master URL; everything here is additive config.

    ``rocksdb_state`` (default from env ``SARKAC_ROCKSDB_STATE``) flips
    the streaming state store to RocksDB. The default HDFS-backed store
    keeps every version of every key ON THE EXECUTOR HEAP — fine for the
    test fixtures, a memory hazard at 100x keys (millions of series /
    dedup buckets); RocksDB keeps state off-heap + on local disk with
    changelog checkpointing, which is the deployment shape
    (``cluster_defaults`` and ``stateful_stream_sizing`` already include
    it). It is a runtime SQL conf read at QUERY start, so it can also be
    set per-session later via ``spark.conf.set``; restarting an existing
    checkpoint under a different provider is supported by Spark (state
    is rebuilt from the checkpoint's versioned files).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~1 partition per core. On a cluster this is overridden
        # by AQE coalescing anyway — it is only the pre-AQE upper bound.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # call-site capture off (module docstring); extra_conf may override
        .config(DATAFRAME_DEBUGGING, "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if rocksdb_state is None:
        rocksdb_state = os.environ.get("SARKAC_ROCKSDB_STATE", "").lower() in (
            "1", "true", "yes",
        )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        # per-batch commits upload only the CHANGELOG (touched keys);
        # full snapshots happen asynchronously every N batches. Without
        # this the per-trigger commit re-uploads state-sized SST files
        # — an O(state) term per trigger that BENCH_STREAM_DECADE
        # measured as 1.7x across a 100x key decade (flat with it).
        builder = builder.config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    extra_conf = dict(extra_conf or {})
    if master == "local" or master.startswith("local["):
        # Python workers share the driver's filesystem here: ship this
        # package to them and boot them from the zipimport-caching daemon
        # (see worker_daemon). On a cluster the package may be missing
        # on executors, so the daemon stays pyspark's own.
        paths = [_PACKAGE_PARENT, *extra_conf.pop(_WORKER_PYTHONPATH, "").split(os.pathsep)]
        builder = builder.config(
            _WORKER_PYTHONPATH, os.pathsep.join(dict.fromkeys(filter(None, paths)))
        ).config("spark.python.daemon.module", "sarkac_spark.worker_daemon")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_defaults(target_tb: float = 100.0) -> dict[str, str]:
    """Conf preset for the real-cluster deployment (see ARCHITECTURE.md).

    Pass as ``extra_conf`` / spark-submit ``--conf``s. Values follow from
    the plan shapes in this engine: one data-sized shuffle per scan, tiny
    broadcast stats, parquet scans dominating.
    """
    # one task ~512 MB of input keeps task count ~target_tb*2048 —
    # large-but-schedulable; AQE coalesces the (metadata-sized) stats
    # shuffle down regardless of the static partition number.
    return {
        "spark.sql.files.maxPartitionBytes": str(512 * 1024 * 1024),
        "spark.sql.shuffle.partitions": str(int(target_tb * 200)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # anomaly/stats relations are far smaller than this; dimension
        # tables in the test schema too
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # RocksDB state store for streaming state (cooldown keyed state),
        # changelog-checkpointed: per-batch commits ship touched keys
        # only, snapshots are async (the O(batch)-per-trigger contract)
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


# per retained point in StatefulSigmaPipeline keyed state: ts_us (8 B) +
# value (8 B) + pandas/Arrow row overhead observed ~3x raw
_STATE_BYTES_PER_POINT = 48


def stateful_stream_sizing(
    n_series: int,
    rate_hz_per_series: float,
    retention_seconds: float,
    executors: int = 1,
) -> dict[str, object]:
    """Sizing for ``engine="stateful"`` (``StatefulSigmaPipeline``) —
    the ARCHITECTURE.md §2 math as code, so deployments size configs
    from measured stream facts instead of folklore.

    State per series is ``rate x retention`` retained points (plus a
    constant cooldown cell per window); total state is that times the
    series count. Shuffle partitions should track series count, NOT the
    batch default: every state partition opens+commits its store every
    trigger, so empty partitions are pure per-trigger overhead (32
    partitions carrying 2 series pay 30 empty commits per trigger).

    Returns the estimate plus a ready-to-pass ``conf`` dict (RocksDB
    provider included — hundreds of MB of state per executor does not
    belong on the JVM heap).
    """
    points_per_series = rate_hz_per_series * retention_seconds
    state_rows = int(n_series * points_per_series)
    state_bytes = int(state_rows * _STATE_BYTES_PER_POINT)
    # one state partition per ~64 series balances store-commit overhead
    # against per-partition Arrow batch size; never fewer than executors
    # (idle executors otherwise), never more than series count.
    partitions = max(min(n_series, executors), min(n_series, max(executors, n_series // 64)))
    return {
        "points_per_series": points_per_series,
        "state_rows": state_rows,
        "state_bytes": state_bytes,
        "conf": {
            "spark.sql.shuffle.partitions": str(partitions),
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        },
    }
