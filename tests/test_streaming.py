"""Streaming lift tests: the golden fixture end-to-end through the
foreachBatch pipeline, the pure windowed-stats stream, discovery loop,
and the Kafka builder configs (no broker available — builders only)."""

from __future__ import annotations

import pytest

# e2e tier: real streaming queries / subprocess sessions — minutes each.
# Excluded from the default (driver-verify) fast run; the builder's
# once-per-round full run includes them (pytest -m "slow or not slow").
pytestmark = pytest.mark.slow


import json

import pytest
from pyspark.sql import functions as F

from sarkac_spark.config import DSL
from sarkac_spark.sources.kafka import KafkaSourceConfig, anomaly_sink_frame
from sarkac_spark.sources.synthetic import (
    SPIKE_EVERY,
    TOPIC,
    example_messages,
    expected_anomaly_indices,
)
from sarkac_spark.streaming.discovery_loop import DiscoveryLoop
from sarkac_spark.streaming.listener import EventBus, StatsCounters, status
from sarkac_spark.streaming.pipeline import (
    SigmaStreamConfig,
    SigmaStreamPipeline,
    windowed_stats_stream,
)

DSL_FIXTURE = DSL.parse(
    {TOPIC: {"fields": {"sub.one": {"windows": ["5m"]}, "two": {"windows": ["5m"]}}}}
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"),
        anomaly_dir=str(tmp_path / "anomalies"),
        cooldown_seconds=0,  # isolate scoring behavior; cooldown tested apart
    )
    return SigmaStreamPipeline(spark, DSL_FIXTURE, cfg)


def _read_anomalies(spark, pipeline):
    try:
        return spark.read.parquet(pipeline.cfg.anomaly_dir)
    except Exception:
        return None


def test_golden_fixture_batch_mode(spark, pipeline):
    """Drive the foreachBatch body directly with the reference fixture:
    planted spikes/dips must be flagged, baseline must not."""
    msgs = example_messages(spark, n=96)
    pipeline.process_batch(msgs, epoch_id=0)

    anomalies = _read_anomalies(spark, pipeline)
    assert anomalies is not None
    rows = anomalies.collect()
    spikes, dips = expected_anomaly_indices(96)
    got_one = sorted(int(r.key) for r in rows if r.path == "sub.one")
    got_two = sorted(int(r.key) for r in rows if r.path == "two")
    assert got_one == spikes
    assert got_two == dips
    # every flagged value is a planted one
    assert {r.value for r in rows if r.path == "sub.one"} == {150.5}
    assert {r.value for r in rows if r.path == "two"} == {-100.0}


def test_incremental_batches_and_cooldown(spark, tmp_path):
    """Two micro-batches: state (store + cooldown) persists across them."""
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"),
        anomaly_dir=str(tmp_path / "anomalies"),
        cooldown_seconds=3600,  # suppress all but the first per series
    )
    p = SigmaStreamPipeline(spark, DSL_FIXTURE, cfg)
    msgs = example_messages(spark, n=96).cache()
    first = msgs.filter(F.col("key").cast("long") < 48)
    second = msgs.filter(F.col("key").cast("long") >= 48)
    p.process_batch(first, 0)
    p.process_batch(second, 1)

    rows = spark.read.parquet(cfg.anomaly_dir).collect()
    # 96 msgs * 2.5 s = 4 min < 1h cooldown => exactly one emit per path
    per_path = {}
    for r in rows:
        per_path.setdefault(r.path, []).append(int(r.key))
    assert per_path["sub.one"] == [SPIKE_EVERY - 1]
    assert per_path["two"] == [2 * SPIKE_EVERY - 1]


def test_store_compaction(spark, pipeline):
    msgs = example_messages(spark, n=96)
    pipeline.process_batch(msgs, 0)
    before = spark.read.parquet(pipeline.cfg.store_dir).count()
    pipeline.compact_store()
    after = spark.read.parquet(pipeline.cfg.store_dir).count()
    # 5m retention over a 4-minute fixture: nothing evicted, data intact
    assert before == after == 96 * 2


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed (same epoch_id) batch
    must NOT double-count values in the store — the per-epoch overwrite
    makes the store exactly-once."""
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"), anomaly_dir=str(tmp_path / "anoms")
    )
    p = SigmaStreamPipeline(spark, DSL_FIXTURE, cfg)
    msgs = example_messages(spark, n=48)

    def anomaly_rows():
        return sorted(map(tuple, spark.read.parquet(cfg.anomaly_dir).collect()))

    p.process_batch(msgs, epoch_id=7)
    assert spark.read.parquet(cfg.store_dir).count() == 96
    first = anomaly_rows()
    assert first
    p.process_batch(msgs, epoch_id=7)  # replay after simulated failure
    assert spark.read.parquet(cfg.store_dir).count() == 96  # unchanged
    # anomaly sink is exactly-once too: the replay's cooldown is seeded
    # only from EARLIER epochs' sink partitions, so it recomputes the
    # first attempt's rows and overwrites its own partition with them
    assert anomaly_rows() == first
    # a genuinely new batch still lands in the store, but its anomalies
    # (the same event times again) all fall inside the cooldown clocks
    # that epoch 7's emits started, read back from the sink
    p.process_batch(msgs, epoch_id=8)
    assert spark.read.parquet(cfg.store_dir).count() == 192
    assert anomaly_rows() == first


def test_truncate(spark, pipeline):
    import os

    msgs = example_messages(spark, n=48)
    pipeline.process_batch(msgs, 0)
    assert os.path.exists(pipeline.cfg.store_dir)
    pipeline.truncate()  # S7
    assert not os.path.exists(pipeline.cfg.store_dir)
    assert not os.path.exists(pipeline.cfg.anomaly_dir)
    # engine keeps working after a truncate
    pipeline.process_batch(msgs, 1)
    assert spark.read.parquet(pipeline.cfg.store_dir).count() == 96


def test_late_data_stored_but_not_scored(spark, tmp_path):
    """W4: a late event (older than every window at scoring time) is
    stored for future stats (reference inserts it with its old
    `produced`, SigmaModel.js:30-37) but produces no score — the
    in-window predicate excludes it."""
    import datetime as dt
    import json as jsonlib
    import os

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "topic string, key string, value string, ts timestamp"

    def msg(key, seconds, one):
        return (TOPIC, key, jsonlib.dumps({"sub": {"one": one}, "two": 0.0}),
                t0 + dt.timedelta(seconds=seconds))

    # recent baseline + one extreme-but-LATE value (2h before the window)
    rows = [msg(str(i), 3600 + 10 * i, 15.5 + (0.1 if i % 2 else -0.1)) for i in range(12)]
    rows.append(msg("late", -7200, 150.5))
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"),
        anomaly_dir=str(tmp_path / "anoms"),
        cooldown_seconds=0,
    )
    dsl = DSL.parse({TOPIC: {"fields": {"sub.one": {"windows": ["5m"]}}}})
    p = SigmaStreamPipeline(spark, dsl, cfg)
    p.process_batch(spark.createDataFrame(rows, schema), 0)
    # the late outlier is in the store...
    store = spark.read.parquet(cfg.store_dir)
    assert store.filter("key = 'late'").count() == 1
    # ...but was never scored (outside every trailing window)
    assert not os.path.exists(cfg.anomaly_dir)


def test_score_against_previous_stats(spark, tmp_path):
    """W5 reference parity: the batch is scored against the PREVIOUS
    scan's stats — first batch unscored (no cache yet), and a low-support
    spike in batch 2 is flagged because it cannot inflate the stddev it
    is judged by (unlike the default as-of-now mode)."""
    import datetime as dt
    import json as jsonlib

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "topic string, key string, value string, ts timestamp"

    def msg(i, one):
        return (TOPIC, str(i), jsonlib.dumps({"sub": {"one": one}, "two": 0.0}),
                t0 + dt.timedelta(seconds=10 * i))

    b1 = [msg(i, 15.5 + (0.1 if i % 2 else -0.1)) for i in range(12)]
    b2 = [msg(12, 15.4), (TOPIC, "99", jsonlib.dumps({"sub": {"one": 150.5}, "two": 0.0}),
          t0 + dt.timedelta(seconds=135))]
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"),
        anomaly_dir=str(tmp_path / "anoms"),
        cooldown_seconds=0,
        score_against_previous=True,
    )
    dsl = DSL.parse({TOPIC: {"fields": {"sub.one": {"windows": ["5m"]}}}})
    p = SigmaStreamPipeline(spark, dsl, cfg)
    p.process_batch(spark.createDataFrame(b1, schema), 0)
    # batch 1 had a within-batch outlier-free baseline AND no prior stats:
    # nothing may be emitted
    import os

    assert not os.path.exists(cfg.anomaly_dir)
    p.process_batch(spark.createDataFrame(b2, schema), 1)
    rows = spark.read.parquet(cfg.anomaly_dir).collect()
    assert [r.key for r in rows] == ["99"] and rows[0].value == 150.5


def test_windowed_stats_stream(spark, tmp_path):
    """Pure Structured Streaming stats plane over a file source."""
    # needs enough event-time span for windows to close past the watermark
    # (window=5m, watermark=5m => ~10 minutes of data minimum; 400 msgs = 1000 s)
    src = tmp_path / "src"
    example_messages(spark, n=400).write.parquet(str(src))
    envelope = (
        spark.readStream.schema("topic string, key string, value string, ts timestamp")
        .parquet(str(src))
    )
    stats = windowed_stats_stream(envelope, DSL_FIXTURE, slide_seconds=300)
    q = (
        stats.writeStream.outputMode("append")
        .format("memory")
        .queryName("stats_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT topic, field_path, mean, n FROM stats_out WHERE n >= 3"
    ).collect()
    assert out, "windowed stats produced no closed windows"
    assert {r.topic for r in out} == {TOPIC}
    assert {r.field_path for r in out} == {"sub.one", "two"}
    # spike contribution visible: sub.one window means exceed the baseline
    assert any(r.mean > 16 for r in out if r.field_path == "sub.one")


def test_rate_source_synthetic_stream(spark):
    """S8 streaming variant: the rate-source generator produces live
    envelope rows with the reference's payload sequence."""
    import json as jsonlib
    import time

    from sarkac_spark.sources.synthetic import example_message_stream

    stream = example_message_stream(spark, rows_per_second=50)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM rate_out").collect()[0].n
            if n >= 24:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n >= 24, f"rate stream produced only {n} rows"
    rows = spark.sql("SELECT key, value FROM rate_out ORDER BY cast(key AS long)").collect()
    payloads = [jsonlib.loads(r.value) for r in rows]
    assert all(r.key is not None for r in rows)
    # the planted spike appears at every 12th message, dip at every 24th
    assert payloads[11]["sub"]["one"] == 150.5
    assert payloads[23]["two"] == -100.0
    assert payloads[0]["sub"]["one"] != 150.5


def test_discovery_loop_merges_dsl():
    calls = []
    loop = DiscoveryLoop(
        DSL.parse({"t": {"fields": {"a": {"windows": ["1m"]}}}}),
        blacklist=["internal"],
        output_topic="anomalies-out",
        on_dsl_change=calls.append,
    )
    created, deleted = loop.step_topics(["t", "u", "internal", "anomalies-out"])
    assert created == ["u"] and deleted == []
    changed = loop.step_fields("u", json.dumps({"x": 1.5, "s": "txt"}))
    assert changed and calls, "DSL change must fire the restart callback"
    assert ("u", "x", 900) in loop.dsl.tasks()
    # same schema again: hash match, no change
    assert not loop.step_fields("u", json.dumps({"x": 2.0, "s": "other"}))


def test_kafka_config_and_sink_shape(spark):
    cfg = KafkaSourceConfig(
        bootstrap_servers="broker:9092", subscribe_pattern="events-.*"
    )
    opts = cfg.options()
    assert opts["subscribePattern"] == "events-.*"
    assert opts["maxOffsetsPerTrigger"] == "500"  # reference batch size
    with pytest.raises(ValueError):
        KafkaSourceConfig(bootstrap_servers="b").options()

    df = spark.createDataFrame(
        [("t", "p", 86400, 150.5)], "topic string, path string, window_seconds long, value double"
    )
    out = anomaly_sink_frame(df, ["topic", "path", "window_seconds"]).collect()[0]
    assert out.key == "t:p:86400"
    assert json.loads(out.value)["value"] == 150.5


def test_listener_counters_and_status():
    bus, counters = EventBus(), StatsCounters()
    seen = []
    bus.on("anomaly", seen.append)
    bus.emit("anomaly", {"path": "x"})
    counters.anomalies_detected += 1
    assert seen == [{"path": "x"}]
    doc = status(counters, stored_events=42)
    assert doc["storedEvents"] == 42 and doc["stats"]["anomalies_detected"] == 1


def test_streaming_dedup_exact(spark, tmp_path):
    """In-flight content dedup: duplicated payload texts within the
    watermark are dropped; state is keyed by md5(text)."""
    import datetime as dt

    from sarkac_spark.streaming.pipeline import streaming_dedup_exact

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(30):
        # 10 distinct texts, each produced 3x within a minute
        rows.append((i, t0 + dt.timedelta(seconds=i), f"doc body {i % 10}"))
    src = tmp_path / "dedup_src"
    spark.createDataFrame(rows, "msg_id long, ts timestamp, text string").write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("msg_id long, ts timestamp, text string").parquet(
        str(src)
    )
    deduped = streaming_dedup_exact(stream, text_col="text", watermark="10 minutes")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT text FROM dedup_out").collect()
    texts = [r.text for r in out]
    assert sorted(texts) == sorted(set(texts))  # no dup content survived
    assert len(texts) == 10
    # misuse guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        streaming_dedup_exact(stream, key_cols=["msg_id"], text_col="text")


def test_streaming_span_dedup(spark, tmp_path):
    """First occurrence of a span flows through; repeats inside the
    watermark horizon are dropped, across documents and micro-batches."""
    import datetime as dt

    from sarkac_spark.streaming.pipeline import streaming_span_dedup

    T0 = dt.datetime(2024, 1, 1)
    boiler = "one two three four five"
    rows = [
        (1, f"{boiler} alpha beta gamma delta eps", T0),
        (2, f"{boiler} unique body text here now", T0 + dt.timedelta(minutes=1)),
        (3, "totally different content in this doc", T0 + dt.timedelta(minutes=2)),
    ]
    src = tmp_path / "span_src"
    for i, r in enumerate(rows):
        spark.createDataFrame(
            [r], "doc_id long, text string, ts timestamp"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        streaming_span_dedup(stream, span_words=5, watermark="1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("span_out")
        .option("checkpointLocation", str(tmp_path / "span_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM span_out").collect()

    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, set()).add(r.span)
    # doc 1 keeps both spans; doc 2 loses the boilerplate, keeps its tail
    assert by_doc[1] == {boiler, "alpha beta gamma delta eps"}
    assert by_doc[2] == {"unique body text here now"}
    # doc 3 has 6 words -> two spans under 5-word segmentation
    assert by_doc[3] == {"totally different content in this", "doc"}


def test_streaming_unigram_drift(spark, tmp_path):
    """Chained stateful aggregation drift monitor: a window distributed
    like the reference scores KL 0; a window of all-OOV tokens scores
    exactly ln(1/oov_q). Source is written as ONE file so event-time
    order is deterministic (multi-file arrival can legitimately drop
    early windows as late data — documented streaming semantics)."""
    import datetime as dt
    import math

    from sarkac_spark.streaming.pipeline import streaming_unigram_drift

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(10):  # window 12:00-12:05 — matches the reference
        rows.append((t0 + dt.timedelta(seconds=i), "srcA", "the a of the a of"))
    for i in range(10):  # window 12:05-12:10 — pure drift (OOV flood)
        rows.append(
            (t0 + dt.timedelta(minutes=7, seconds=i), "srcA", "zzz zzz zzz zzz zzz zzz")
        )
    rows.append((t0 + dt.timedelta(hours=2), "srcA", "closer"))  # advances watermark
    src = tmp_path / "drift_src"
    spark.createDataFrame(
        rows, "ts timestamp, source string, text string"
    ).coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(
        "ts timestamp, source string, text string"
    ).parquet(str(src))
    ref = spark.createDataFrame(
        [("the", 1 / 3), ("a", 1 / 3), ("of", 1 / 3)], "tok string, q double"
    )
    out = streaming_unigram_drift(
        stream, ref, window="5 minutes", watermark="10 minutes", oov_q=1e-6
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.window_start: r
        for r in spark.sql("SELECT * FROM drift_out").collect()
    }
    w1, w2 = t0, t0 + dt.timedelta(minutes=5)
    assert got[w1].kl_divergence == 0.0 and got[w1].n_tokens == 60
    assert got[w2].kl_divergence == round(math.log(1e6), 6)
    assert got[w2].n_tokens == 60


def test_streaming_span_dedup_survives_restart(spark, tmp_path):
    """Kill-and-resume for the span-dedup twin: boilerplate seen BEFORE
    the restart must still be dropped from documents arriving AFTER it
    (dropDuplicatesWithinWatermark state rides the checkpoint), and the
    combined file-sink output must equal a never-stopped run."""
    import datetime as dt

    from sarkac_spark.streaming.pipeline import streaming_span_dedup

    T0 = dt.datetime(2024, 1, 1)
    boiler = "one two three four five"
    docs = [
        (1, f"{boiler} alpha beta gamma delta eps", T0),
        (2, "some unique middle content here now", T0 + dt.timedelta(minutes=1)),
        (3, f"{boiler} omega psi chi phi upsilon", T0 + dt.timedelta(minutes=2)),
    ]
    schema = "doc_id long, text string, ts timestamp"

    def write_file(root, i):
        spark.createDataFrame([docs[i]], schema).coalesce(1).write.parquet(
            str(root / "src" / f"b{i}")
        )

    def run(root):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(root / "src" / "*"))
        )
        q = (
            streaming_span_dedup(stream, span_words=5, watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(root / "out"))
            .option("checkpointLocation", str(root / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def collect(root):
        return sorted(
            (r.doc_id, r.pos, r.span)
            for r in spark.read.parquet(str(root / "out")).collect()
        )

    single = tmp_path / "single"
    single.mkdir()
    for i in range(3):
        write_file(single, i)
    run(single)
    expect = collect(single)
    assert (3, 0, boiler) not in expect  # doc 3's boilerplate deduped
    assert (3, 1, "omega psi chi phi upsilon") in expect

    restarted = tmp_path / "restarted"
    restarted.mkdir()
    write_file(restarted, 0)
    write_file(restarted, 1)
    run(restarted)
    write_file(restarted, 2)  # doc 3 arrives only after the restart
    run(restarted)  # fresh query object, same checkpoint + sink
    assert collect(restarted) == expect


def test_streaming_unigram_drift_survives_restart(spark, tmp_path):
    """Kill-and-resume for the drift monitor: an event-time window whose
    token counts accumulated entirely BEFORE the restart must emit the
    correct KL after it (chained stateful-aggregation state rides the
    checkpoint); combined output equals a never-stopped run."""
    import datetime as dt
    import math

    from sarkac_spark.streaming.pipeline import streaming_unigram_drift

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "ts timestamp, source string, text string"
    batch0 = [  # window 12:00-12:05 — matches the reference exactly
        (t0 + dt.timedelta(seconds=i), "srcA", "the a of the a of") for i in range(10)
    ]
    batch1 = [  # window 12:05-12:10 — pure OOV drift, plus the closer
        (t0 + dt.timedelta(minutes=7, seconds=i), "srcA", "zzz zzz zzz zzz zzz zzz")
        for i in range(10)
    ] + [(t0 + dt.timedelta(hours=2), "srcA", "closer")]
    ref = spark.createDataFrame(
        [("the", 1 / 3), ("a", 1 / 3), ("of", 1 / 3)], "tok string, q double"
    )

    def write_file(root, i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(root / "src" / f"b{i}")
        )

    def run(root):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(root / "src" / "*"))
        )
        out = streaming_unigram_drift(
            stream, ref, window="5 minutes", watermark="10 minutes", oov_q=1e-6
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(root / "out"))
            .option("checkpointLocation", str(root / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def collect(root):
        return sorted(
            (r.window_start, r.source, r.n_tokens, r.kl_divergence)
            for r in spark.read.parquet(str(root / "out")).collect()
        )

    single = tmp_path / "single"
    single.mkdir()
    write_file(single, 0, batch0)
    write_file(single, 1, batch1)
    run(single)
    expect = collect(single)
    assert (t0, "srcA", 60, 0.0) in expect
    assert (t0 + dt.timedelta(minutes=5), "srcA", 60, round(math.log(1e6), 6)) in expect

    restarted = tmp_path / "restarted"
    restarted.mkdir()
    write_file(restarted, 0, batch0)
    run(restarted)  # nothing can emit yet: watermark hasn't closed w1
    assert not (restarted / "out").exists() or collect(restarted) == []
    write_file(restarted, 1, batch1)
    run(restarted)  # w1 emits purely from recovered state
    assert collect(restarted) == expect


def test_streaming_semantic_dedup(spark, tmp_path):
    """In-flight near-dup dedup with vector state: duplicates of
    vectors kept in EARLIER micro-batches are dropped (reps survive in
    keyed state), and on id-ordered arrival with clique-shaped dup
    groups the stream's kept set equals batch semantic_dedup's."""
    import datetime as dt

    import numpy as np

    from sarkac_spark.operators.similarity import semantic_dedup
    from sarkac_spark.streaming.stateful_dedup import streaming_semantic_dedup

    rng = np.random.default_rng(11)
    base = [[float(x) for x in rng.normal(size=16)] for _ in range(20)]
    vecs = list(base)
    vecs += [base[3], base[7]]                      # exact dups, later batch
    vecs.append([x * 2.0 for x in base[5]])         # same direction: cos = 1
    vecs.append([0.0] * 16)                         # zero-norm: always kept
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, [float(x) for x in v], t0 + dt.timedelta(seconds=i))
        for i, v in enumerate(vecs)
    ]
    schema = "vec_id long, embedding array<double>, ts timestamp"
    src = tmp_path / "sem_src"
    for b in range(3):  # 3 files -> 3 micro-batches, dups arrive last
        spark.createDataFrame(rows[b * 8 : (b + 1) * 8], schema).coalesce(
            1
        ).write.parquet(str(src / f"b{b}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        streaming_semantic_dedup(stream, dim=16, n_bits=4, tau=0.95)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("semdedup_out")
        .option("checkpointLocation", str(tmp_path / "sem_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.vec_id: r for r in spark.sql("SELECT * FROM semdedup_out").collect()}
    assert len(got) == len(rows)
    assert got[20].kept == 0 and got[21].kept == 0  # cross-batch exact dups
    assert got[22].kept == 0                        # same-direction near dup
    assert got[23].kept == 1                        # zero-norm never dropped
    batch = {
        r.vec_id: r
        for r in semantic_dedup(
            spark.createDataFrame(rows, schema).drop("ts"), dim=16, n_bits=4, tau=0.95
        ).collect()
    }
    assert {i: got[i].kept for i in got} == {i: batch[i].kept for i in batch}
    assert {i: got[i].bucket for i in got} == {i: batch[i].bucket for i in batch}


def test_streaming_semantic_dedup_cap_saturation(spark, tmp_path):
    """Driving one bucket past max_reps_per_bucket must (a) never
    false-drop a distinct vector, (b) flag every kept-but-not-representing
    arrival via the ``saturated`` column, and (c) exhibit exactly the
    documented degradation: a dup of a PRE-cap representative still
    drops, a dup of a POST-cap kept row is missed (kept)."""
    import datetime as dt

    import numpy as np

    from sarkac_spark.operators.similarity import semantic_dedup
    from sarkac_spark.streaming.stateful_dedup import streaming_semantic_dedup

    rng = np.random.default_rng(7)
    pool = [[float(x) for x in rng.normal(size=16)] for _ in range(120)]
    pool_rows = [(i, v) for i, v in enumerate(pool)]
    buckets = {
        r.vec_id: r.bucket
        for r in semantic_dedup(
            spark.createDataFrame(
                pool_rows, "vec_id long, embedding array<double>"
            ),
            dim=16,
            n_bits=2,
            tau=0.9,
        ).collect()
    }
    # 4 distinct vectors from ONE bucket; seeded gaussians in 16-d stay
    # far below tau pairwise (asserted as a precondition)
    target = buckets[0]
    same = [pool[i] for i in sorted(buckets) if buckets[i] == target][:4]
    assert len(same) == 4
    m = np.asarray(same)
    sims = (m @ m.T) / np.outer(
        np.linalg.norm(m, axis=1), np.linalg.norm(m, axis=1)
    )
    assert float(np.max(sims - np.eye(4))) < 0.9

    t0 = dt.datetime(2024, 1, 1)
    b1 = [
        (i, same[i], t0 + dt.timedelta(seconds=i)) for i in range(4)
    ]  # cap=2: v0,v1 become reps; v2,v3 kept + saturated
    b2 = [
        (10, same[0], t0 + dt.timedelta(seconds=10)),  # dup of a rep -> drop
        (11, same[2], t0 + dt.timedelta(seconds=11)),  # dup of post-cap -> MISSED
    ]
    schema = "vec_id long, embedding array<double>, ts timestamp"
    src = tmp_path / "sat_src"
    for n, batch in enumerate([b1, b2]):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"b{n}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = (
        streaming_semantic_dedup(
            stream, dim=16, n_bits=2, tau=0.9, max_reps_per_bucket=2
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("semdedup_sat")
        .option("checkpointLocation", str(tmp_path / "sat_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.vec_id: r for r in spark.sql("SELECT * FROM semdedup_sat").collect()}
    assert {i for i in got if got[i].kept == 1} == {0, 1, 2, 3, 11}
    assert got[10].kept == 0                       # pre-cap rep still catches
    assert got[11].kept == 1 and got[11].saturated == 1  # the documented miss
    assert {i for i in got if got[i].saturated == 1} == {2, 3, 11}
    assert all(got[i].saturated == 0 for i in (0, 1, 10))


def test_streaming_count_min(spark, tmp_path):
    """The per-window sketch emitted by the stream must agree with the
    batch sketch built over the same window's rows, and estimates
    queried from it keep the one-sided guarantee. State bound: rows per
    window never exceed depth x width."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sarkac_spark.operators.sketch import cms_estimate, count_min_sketch
    from sarkac_spark.streaming.pipeline import streaming_count_min

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(t0 + dt.timedelta(seconds=i), f"k{i % 7}") for i in range(70)]
    rows.append((t0 + dt.timedelta(hours=2), "closer"))  # advances watermark
    src = tmp_path / "cms_src"
    spark.createDataFrame(rows, "ts timestamp, term string").coalesce(1).write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("ts timestamp, term string").parquet(str(src))
    q = (
        streaming_count_min(
            stream, "term", window="5 minutes", watermark="10 minutes", depth=4, width=16
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cms_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT d, bucket, cnt FROM cms_out WHERE window_start = timestamp '2024-01-01 12:00:00'"
    )
    assert 0 < got.count() <= 4 * 16  # bounded state, one window
    batch = spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(70)], "term string"
    )
    expect = count_min_sketch(batch, "term", depth=4, width=16)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    est = {
        r.term: r.est_count
        for r in cms_estimate(
            got, batch.select("term").distinct(), "term", depth=4, width=16
        ).collect()
    }
    assert all(v >= 10 for v in est.values())  # true count 10 per key


def test_curation_ops_compose_with_streams(spark, tmp_path):
    """The stateless curation operators (gopher_rules quality gate) are
    pure column expressions, so the SAME operator call works unchanged
    on a readStream DataFrame and agrees with its batch run — the
    property that lets a training-ingest pipeline gate documents
    in-flight without a second implementation."""
    from sarkac_spark.operators.text import gopher_rules

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs to a tree"),
        (2, "the end"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
    ]
    src = tmp_path / "curation_src"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src))

    batch = {
        r.doc_id: (r.passes, r.n_words, r.stop_hits)
        for r in gopher_rules(
            spark.read.parquet(str(src))
        ).collect()
    }

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        gopher_rules(stream)
        .select("doc_id", "passes", "n_words", "stop_hits")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("curation_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id: (r.passes, r.n_words, r.stop_hits)
        for r in spark.sql("SELECT * FROM curation_out").collect()
    }
    assert streamed == batch
    assert batch[1][0] == 1 and batch[2][0] == 0


def test_streaming_hll_distinct(spark, tmp_path):
    """The per-window HLL registers emitted by the stream must equal the
    batch registers over the same window's rows (the mergeable-state
    contract), and hll_estimate over the sink must equal the batch
    estimate. State bound: rows per window never exceed 2^b."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sarkac_spark.operators.sketch import hll_distinct, hll_estimate, hll_registers
    from sarkac_spark.streaming.pipeline import streaming_hll_distinct

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    # 300 distinct users in the window, each seen twice
    rows = [
        (t0 + dt.timedelta(seconds=i % 240), f"user{i % 300}") for i in range(600)
    ]
    rows.append((t0 + dt.timedelta(hours=2), "closer"))  # advances watermark
    src = tmp_path / "hll_src"
    spark.createDataFrame(rows, "ts timestamp, uid string").coalesce(1).write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("ts timestamp, uid string").parquet(str(src))
    q = (
        streaming_hll_distinct(
            stream, "uid", window="5 minutes", watermark="10 minutes", b=6
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hll_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT idx, M FROM hll_out WHERE window_start = timestamp '2024-01-01 12:00:00'"
    )
    assert 0 < got.count() <= 64  # bounded register state, one window
    batch = spark.createDataFrame(
        [(f"user{i % 300}",) for i in range(600)], "uid string"
    )
    expect = hll_registers(batch, "uid", [], b=6)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expect.collect()))
    est_stream = hll_estimate(got.select("idx", "M"), [], b=6).collect()[0].est_distinct
    est_batch = hll_distinct(batch, "uid", b=6).collect()[0].est_distinct
    assert est_stream == est_batch
    assert abs(est_stream - 300) / 300 < 0.35  # m=64 => ~13% expected error


def test_streaming_histogram(spark, tmp_path):
    """Per-window fixed-bin histogram: bounded state, and quantile
    estimates from the emitted bins respect the one-bin-width error
    bound against the window's true quantiles."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sarkac_spark.operators.sketch import fixed_histogram_estimate
    from sarkac_spark.streaming.pipeline import streaming_histogram

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    # latencies 0..999 ms uniform in one window; a couple of outliers
    # beyond the fixed bounds must clamp, not error
    rows = [(t0 + dt.timedelta(seconds=i % 240), float(i % 1000)) for i in range(1000)]
    rows.append((t0 + dt.timedelta(seconds=1), 10_000.0))  # clamps to top bin
    rows.append((t0 + dt.timedelta(seconds=2), -5.0))      # clamps to bin 0
    rows.append((t0 + dt.timedelta(hours=2), 0.0))         # advances watermark
    src = tmp_path / "hist_src"
    spark.createDataFrame(rows, "ts timestamp, ms double").coalesce(1).write.parquet(
        str(src)
    )
    stream = spark.readStream.schema("ts timestamp, ms double").parquet(str(src))
    k, lo, hi = 100, 0.0, 1000.0
    q = (
        streaming_histogram(
            stream, "ms", lo, hi, window="5 minutes", watermark="10 minutes", k=k
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hist_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT bin, c FROM hist_stream_out "
        "WHERE window_start = timestamp '2024-01-01 12:00:00'"
    )
    assert 0 < got.count() <= k  # bounded state, one window
    est = fixed_histogram_estimate(got, [], lo, hi, k=k).collect()[0]
    assert est.n == 1002  # in-window rows incl. both clamped outliers
    width = (hi - lo) / k
    for qv, col in [(0.5, est.p50_est), (0.95, est.p95_est)]:
        true_q = qv * 999
        assert true_q - width <= col <= true_q + 2 * width


def test_streaming_sketches_survive_restart(spark, tmp_path):
    """Kill-and-resume for the sketch twins: HLL registers and histogram
    bins accumulated entirely BEFORE the restart must emit correctly
    after it (windowed-aggregation state rides the checkpoint); combined
    output equals a never-stopped run."""
    import datetime as dt

    from sarkac_spark.streaming.pipeline import (
        streaming_histogram,
        streaming_hll_distinct,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "ts timestamp, v double, uid string"
    batch0 = [  # window 12:00-12:05: 150 distinct uids, values 0..149
        (t0 + dt.timedelta(seconds=i % 240), float(i), f"u{i}") for i in range(150)
    ]
    batch1 = [  # later window plus the watermark closer
        (t0 + dt.timedelta(minutes=7, seconds=i % 60), float(i), f"w{i}")
        for i in range(50)
    ] + [(t0 + dt.timedelta(hours=2), 0.0, "closer")]

    def write_file(root, i, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(root / "src" / f"b{i}")
        )

    def run(root, make_query, name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(root / "src" / "*"))
        )
        q = (
            make_query(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(root / f"out_{name}"))
            .option("checkpointLocation", str(root / f"ckpt_{name}"))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def collect(root, name):
        p = root / f"out_{name}"
        if not p.exists():
            return []
        return sorted(map(tuple, spark.read.parquet(str(p)).collect()))

    from sarkac_spark.streaming.pipeline import streaming_count_min

    mk_hll = lambda s: streaming_hll_distinct(
        s, "uid", window="5 minutes", watermark="10 minutes", b=6
    )
    mk_hist = lambda s: streaming_histogram(
        s, "v", 0.0, 200.0, window="5 minutes", watermark="10 minutes", k=20
    )
    mk_cms = lambda s: streaming_count_min(
        s, "uid", window="5 minutes", watermark="10 minutes", depth=3, width=16
    )

    for name, mk in [("hll", mk_hll), ("hist", mk_hist), ("cms", mk_cms)]:
        single = tmp_path / f"single_{name}"
        single.mkdir()
        write_file(single, 0, batch0)
        write_file(single, 1, batch1)
        run(single, mk, name)
        expect = collect(single, name)
        assert expect  # both windows closed and emitted

        restarted = tmp_path / f"restarted_{name}"
        restarted.mkdir()
        write_file(restarted, 0, batch0)
        run(restarted, mk, name)  # watermark hasn't closed window 1 yet
        write_file(restarted, 1, batch1)
        run(restarted, mk, name)  # emits purely from recovered state
        assert collect(restarted, name) == expect
