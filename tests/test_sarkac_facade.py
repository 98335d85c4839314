"""The Sarkac orchestrator facade end-to-end (reference example/example.js
usage shape) and MLlib anomaly operators."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from sarkac_spark.config import DSL
from sarkac_spark.operators.mllib_anomaly import kmeans_anomaly
from sarkac_spark.sarkac import Sarkac, _discovery_tick
from sarkac_spark.sources.synthetic import TOPIC, example_messages
from sarkac_spark.streaming.discovery_loop import DiscoveryLoop
from sarkac_spark.streaming.listener import EventBus, StatsCounters


def test_sarkac_analyse_lifecycle(spark, tmp_path):
    src = str(tmp_path / "src")
    example_messages(spark, n=96).coalesce(1).write.parquet(src)
    envelope = (
        spark.readStream.schema("topic string, key string, value string, ts timestamp")
        .parquet(src)
    )

    config = {
        "dsl": {
            TOPIC: {
                "fields": {
                    "sub.one": {"windows": ["5m"]},
                    "two": {"windows": ["5m"]},
                }
            }
        },
        "discovery": {"topicBlacklist": ["internal"]},
        "target": {"topic": "sarkac-detected-anomalies"},
    }
    sarkac = Sarkac(spark, config, work_dir=str(tmp_path / "work"))
    anomalies_seen, messages_seen = [], []
    sarkac.on("anomaly", anomalies_seen.append)
    sarkac.on("message", messages_seen.append)

    q = sarkac.analyse(envelope, trigger_seconds=1)
    q.processAllAvailable()
    sarkac.close()

    assert sum(messages_seen) == 96
    # the default 2-min cooldown (reference DSLHandler.js:13) suppresses
    # most of the 12 planted anomalies: spikes 30 s apart -> keys 11, 59
    # emit on sub.one; dips 60 s apart -> keys 23, 71 emit on two
    by_path = {}
    for a in anomalies_seen:
        by_path.setdefault(a["path"], []).append(int(a["key"]))
    assert by_path == {"sub.one": [11, 59], "two": [23, 71]}

    stored = sarkac.anomalies()
    assert stored.count() == 4
    st = sarkac.get_status()
    assert st["stats"]["analysed_messages"] == 96
    assert st["stats"]["anomalies_detected"] == 4
    assert st["storedEvents"] == 96 * 2  # two fields per message


def test_discovered_fields_are_stored_from_their_first_epoch(spark, tmp_path):
    """The discovery tick runs before extraction, so fields found in
    epoch 0 are already in the store's epoch=0 partition: the pipeline's
    kept extraction Columns follow the DSL merged in the same trigger."""
    src = str(tmp_path / "src")
    example_messages(spark, n=24).coalesce(1).write.parquet(src)
    envelope = spark.readStream.schema(
        "topic string, key string, value string, ts timestamp"
    ).parquet(src)
    sarkac = Sarkac(
        spark, {"dsl": {}, "discovery": {"enabled": True}}, work_dir=str(tmp_path / "work")
    )
    sarkac.analyse(envelope, trigger_seconds=1).processAllAvailable()
    sarkac.close()

    assert {p for _, p, _ in sarkac.pipeline.dsl.tasks()} == {"sub.one", "two"}
    store = spark.read.parquet(str(tmp_path / "work" / "store"))
    counts = {
        (r.epoch, r.field_path): r["count"]
        for r in store.groupBy("epoch", "field_path").count().collect()
    }
    assert counts == {(0, "sub.one"): 24, (0, "two"): 24}


@pytest.mark.slow  # measured >=14 s in the r13 duration profile
def test_live_discovery_tracks_new_topic(spark, tmp_path):
    """The headline reference feature: an undeclared topic appears on the
    stream; discovery flattens its payload, merges the DSL, and the next
    batches score it — no query restart (foreachBatch re-plans from the
    updated DSL)."""
    import datetime as dt
    import json as jsonlib

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def iot(i, temp):
        return (
            "iot-topic",
            str(i),
            jsonlib.dumps({"temp": temp, "meta": {"fw": "v1"}}),
            t0 + dt.timedelta(seconds=10 * i),
        )

    schema = "topic string, key string, value string, ts timestamp"
    # batch 1: baseline with jitter (stddev > 0); batch 2: planted spike.
    # Support matters: stats are computed as-of the current batch, so the
    # spike contributes to its own window's stddev — with too few
    # baseline points a huge spike masks itself (score < 1). 60 baseline
    # points in the 15m window keep the spike at ~2.6 sigma-units.
    b1 = [iot(i, 20.0 + (0.2 if i % 2 else -0.2)) for i in range(40)]
    b2 = [iot(40 + i, 20.0 + (0.2 if i % 2 else -0.2)) for i in range(20)]
    b2.append(iot(99, 500.0))
    src = tmp_path / "src"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))

    envelope = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    config = {
        "dsl": {},  # nothing declared — everything comes from discovery
        "discovery": {"enabled": True, "topicBlacklist": []},
    }
    sarkac = Sarkac(spark, config, work_dir=str(tmp_path / "work"))
    discovered, created, anomalies = [], [], []
    sarkac.on("discovered-fields", discovered.append)
    sarkac.on("created-topics", created.append)
    sarkac.on("anomaly", anomalies.append)

    q = sarkac.analyse(envelope, trigger_seconds=1)
    q.processAllAvailable()
    sarkac.close()

    assert created and created[0] == ["iot-topic"]
    # numeric leaves discovered: temp (meta.fw is a string -> skipped)
    assert ("iot-topic", "temp", 900) in sarkac.pipeline.dsl.tasks()
    assert discovered, "discovered-fields event must fire"
    assert [a["key"] for a in anomalies] == ["99"]
    a = anomalies[0]
    assert a["topic"] == "iot-topic" and a["path"] == "temp" and a["value"] == 500.0
    assert sarkac.get_status()["stats"]["topic_updates"] >= 1


def test_kmeans_anomaly_flags_outliers(spark):
    # two real clusters (k=2, MLlib requires k>=2) + a moderate outlier:
    # it must stay inside a cluster at a large distance — an EXTREME
    # outlier would be SSE-cheaper as its own centroid and hide (inherent
    # distance-to-centroid caveat, documented in the operator)
    rows = [(i, 10.0 + (i % 5) * 0.1) for i in range(100)]
    rows += [(100 + i, 50.0 + (i % 5) * 0.1) for i in range(100)]
    rows += [(900, 70.0)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    out = kmeans_anomaly(df, ["value"], k=2, quantile=0.99)
    flagged = [r.event_id for r in out.filter("is_anomaly").collect()]
    assert 900 in flagged
    assert len(flagged) <= 5


def test_ml_queries_rows_only(spark):
    from sarkac_spark.queries.ml import QUERIES

    for name, fn in QUERIES.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.count() >= 0, name


def test_facade_stateful_engine(spark, tmp_path):
    """engine='stateful' routes the same reference API through the
    keyed-state pipeline: planted anomalies land in anomalies(), the bus
    sees message counts via the query listener, close() detaches it,
    and /status carries no storedEvents (this engine keeps no value
    store)."""
    from sarkac_spark.sarkac import Sarkac
    from sarkac_spark.sources.synthetic import TOPIC, example_messages

    msgs = example_messages(spark, n=96)
    src = tmp_path / "env"
    msgs.coalesce(1).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(
        "topic string, key string, value string, ts timestamp"
    ).parquet(str(src / "*"))

    s = Sarkac(
        spark,
        {
            "engine": "stateful",
            "anomalyCooldownSeconds": 0,
            "dsl": {
                TOPIC: {
                    "fields": {
                        "sub.one": {"windows": ["5m"]},
                        "two": {"windows": ["5m"]},
                    }
                }
            },
        },
        work_dir=str(tmp_path / "wd"),
    )
    counts: list[int] = []
    s.on("message", counts.append)
    q = s.analyse(stream, trigger_seconds=1)
    q.processAllAvailable()
    st = s.get_status()
    assert "storedEvents" not in st and st["stats"]["errors"] == 0
    # listener delivery lags the query: wait while the listener is still
    # attached, since close() drops any event not yet delivered
    deadline = time.time() + 10
    while time.time() < deadline and sum(counts) < 96:
        time.sleep(0.2)
    s.close()

    rows = s.anomalies().collect()
    assert {r.value for r in rows if r.path == "sub.one"} == {150.5}
    assert {r.value for r in rows if r.path == "two"} == {-100.0}
    assert sum(counts) >= 96
    assert s._listener is None  # close() detached the listener


def test_discovery_tick_reports_topic_with_only_null_values(spark):
    """The per-topic sample collect also lists the observed topics: a
    topic whose every ``value`` is null is still created, and only the
    topics with a sample reach field discovery. It also counts the
    batch's messages, nulls included. A row without a topic names no
    topic, but it is still a message."""
    batch = spark.createDataFrame(
        [
            ("t", json.dumps({"x": 1.5})),
            ("t", json.dumps({"x": 2.5})),
            ("n", None),
            ("n", None),
            (None, json.dumps({"y": 3.5})),
        ],
        "topic string, value string",
    )
    sampled = []

    class Loop(DiscoveryLoop):
        def step_fields(self, topic, sample_payload):
            sampled.append(topic)
            return super().step_fields(topic, sample_payload)

    loop = Loop(DSL.parse({}))
    bus, counters = EventBus(), StatsCounters()
    created = []
    bus.on("created-topics", created.append)

    assert _discovery_tick(batch, loop, bus, counters) == (True, 5)
    assert created == [["n", "t"]] and counters.topic_updates == 1
    assert sampled == ["t"]
    assert ("t", "x", 900) in loop.dsl.tasks()


@pytest.mark.slow  # measured >=14 s in the r13 duration profile
def test_facade_stateful_discovery_sidecar_and_restart(spark, tmp_path):
    """Discovery on the SCALE engine: a stateless control-plane sidecar
    query samples topics, merges the DSL, and flags a restart; the
    data-plane scoring query restarts on its checkpoint — pre-restart
    keyed state survives (the declared topic's later spike is scored
    against baselines ingested before the restart, impossible under the
    min-3-events guard if state were lost), and the discovered topic is
    scored with its post-restart data."""
    import datetime as dt
    import json as jsonlib

    from sarkac_spark.sarkac import Sarkac

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "topic string, key string, value string, ts timestamp"

    def row(topic, field, i, val):
        return (
            topic, f"{topic}-{i}", jsonlib.dumps({field: val}),
            t0 + dt.timedelta(seconds=10 * i),
        )

    def baseline(topic, field, lo, hi):
        return [
            row(topic, field, i, 20.0 + (0.2 if i % 2 else -0.2))
            for i in range(lo, hi)
        ]

    src = tmp_path / "src"
    spark.createDataFrame(
        baseline("svc-topic", "lat", 0, 40), schema
    ).coalesce(1).write.parquet(str(src / "b1"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    s = Sarkac(
        spark,
        {
            "engine": "stateful",
            "anomalyCooldownSeconds": 0,
            "discovery": {"enabled": True, "topicBlacklist": []},
            "dsl": {"svc-topic": {"fields": {"lat": {"windows": ["15m"]}}}},
        },
        work_dir=str(tmp_path / "wd"),
    )
    created = []
    s.on("created-topics", created.append)
    q = s.analyse(stream, trigger_seconds=1)
    q.processAllAvailable()
    s._discovery_query.processAllAvailable()
    assert s.restart_if_needed() is False  # nothing new discovered yet

    # the undeclared topic appears: sidecar merges DSL, flags restart
    spark.createDataFrame(
        baseline("iot-topic", "temp", 0, 40), schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    s.query.processAllAvailable()
    s._discovery_query.processAllAvailable()
    assert created and created[0] == ["iot-topic"]
    assert s._pending_restart
    assert s.restart_if_needed() is True  # scoring query swapped plans

    # post-restart: spikes on BOTH topics (+ fresh iot baselines — the
    # iot rows in b2 were consumed pre-restart by a plan that didn't
    # track them; data-before-discovery is unscored by design)
    b3 = baseline("iot-topic", "temp", 40, 80)
    b3.append(row("iot-topic", "temp", 99, 500.0))
    b3.append(row("svc-topic", "lat", 45, 500.0))
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(str(src / "b3"))
    s.query.processAllAvailable()
    s.close()

    rows = s.anomalies().collect()
    assert {(r.topic, r.path, r.value) for r in rows} >= {
        ("svc-topic", "lat", 500.0),
        ("iot-topic", "temp", 500.0),
    }


def test_restart_recycles_discovery_sidecar_for_internal_kafka(spark, tmp_path):
    """ADVICE round 5: with an internally-built kafka source and an
    explicit topic list, restart_if_needed must also stop the discovery
    sidecar — it was started on the PRE-merge envelope stream with the
    stale subscription, so leaving it running means discovery on
    newly-added topics never fires again. Pinned with stubs (no broker
    in the sandbox): the stale sidecar is stopped and analyse() is
    re-entered, which restarts it against the rebuilt stream."""
    from sarkac_spark.sarkac import Sarkac

    s = Sarkac(
        spark,
        {"engine": "stateful",
         "dsl": {"t": {"fields": {"x": {"windows": ["15m"]}}}}},
        work_dir=str(tmp_path),
    )

    class _StubQuery:
        def __init__(self):
            self.stopped = False

        def stop(self):
            self.stopped = True

    stale_scoring, stale_sidecar = _StubQuery(), _StubQuery()
    s.query = stale_scoring
    s._discovery_query = stale_sidecar
    s._kafka_internal = True
    s._pending_restart = True

    reanalysed = {}
    s.analyse = lambda stream, trigger_seconds: reanalysed.update(
        stream=stream, trigger=trigger_seconds
    )

    assert s.restart_if_needed() is True
    assert stale_scoring.stopped and stale_sidecar.stopped
    assert s._discovery_query is None  # analyse() restarts it on rebuild
    assert reanalysed == {"stream": None, "trigger": s._trigger_seconds}


def test_facade_unknown_engine_raises(spark, tmp_path):
    import pytest as _pytest

    from sarkac_spark.sarkac import Sarkac

    s = Sarkac(spark, {"engine": "nope", "dsl": {}}, work_dir=str(tmp_path))
    with _pytest.raises(ValueError, match="unknown engine"):
        s.analyse(spark.readStream.format("rate").load())


@pytest.mark.slow  # measured >=14 s in the r13 duration profile
def test_anomaly_storm_bus_emission_is_capped(spark, tmp_path, monkeypatch):
    """Round-6 ask #6: an anomaly storm must not grow the driver heap —
    the per-epoch bus emission collects at most `anomaly_emit_cap` rows
    (earliest event-time first); the overflow is counted in
    `anomalies_dropped` (visible in /status) and every row still lands
    in the persisted anomaly store."""
    from sarkac_spark.sarkac import _BusSigmaPipeline

    monkeypatch.setattr(_BusSigmaPipeline, "anomaly_emit_cap", 5)

    src = str(tmp_path / "src")
    example_messages(spark, n=96).coalesce(1).write.parquet(src)
    envelope = (
        spark.readStream.schema("topic string, key string, value string, ts timestamp")
        .parquet(src)
    )
    config = {
        "anomalyCooldownSeconds": 0,  # storm: nothing suppressed
        "dsl": {
            TOPIC: {
                "fields": {
                    "sub.one": {"windows": ["5m"]},
                    "two": {"windows": ["5m"]},
                }
            }
        },
        "target": {"topic": "sarkac-detected-anomalies"},
    }
    sarkac = Sarkac(spark, config, work_dir=str(tmp_path / "work"))
    emitted = []
    sarkac.on("anomaly", emitted.append)
    q = sarkac.analyse(envelope, trigger_seconds=1)
    q.processAllAvailable()
    sarkac.close()

    stored = sarkac.anomalies().count()
    st = sarkac.get_status()["stats"]
    assert stored == st["anomalies_detected"] > 5  # the storm happened
    assert len(emitted) == 5  # bounded collect
    assert st["anomalies_dropped"] == st["anomalies_detected"] - 5
    # earliest-first, deterministic
    ts = [a["event_ts_us"] for a in emitted]
    assert ts == sorted(ts)
