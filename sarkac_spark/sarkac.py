"""Top-level orchestrator — the ``Sarkac`` class (reference
lib/Sarkac.js:39-122) re-expressed over Spark.

A reference user writes (example/example.js):

    const sarkac = new Sarkac(config);
    sarkac.on("anomaly", ...);
    sarkac.analyse();

The Spark-native equivalent keeps that shape:

    sarkac = Sarkac(spark, config)
    sarkac.on("anomaly", callback)
    sarkac.analyse(envelope_stream)   # or .analyse() with kafka config
    ...
    sarkac.close()

``analyse()`` wires: DSL parse (DSLHandler.prepare) -> store/anomaly dirs
-> streaming query start (Stream.js) -> discovery loop (Discovery.js) ->
counters (HttpServer /status). The event bus carries the reference's
event names; anomaly events are surfaced per micro-batch from the
pipeline's sink.
"""

from __future__ import annotations

import os
import tempfile
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from sarkac_spark.config import DSL, DEFAULT_ANOMALY_SCAN_SECONDS
from sarkac_spark.sources.kafka import KafkaSourceConfig, envelope, kafka_stream
from sarkac_spark.streaming.discovery_loop import DiscoveryLoop
from sarkac_spark.streaming.listener import EventBus, StatsCounters, status
from sarkac_spark.streaming.pipeline import SigmaStreamConfig, SigmaStreamPipeline


class Sarkac:
    def __init__(
        self,
        spark: SparkSession,
        config: dict[str, Any],
        work_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.config = config
        self.dsl = DSL.parse(config.get("dsl", {}))
        self.bus = EventBus()
        self.counters = StatsCounters()
        self.work_dir = work_dir or tempfile.mkdtemp(prefix="sarkac_spark_")
        discovery_cfg = config.get("discovery", {})
        self.discovery = DiscoveryLoop(
            self.dsl,
            blacklist=discovery_cfg.get("topicBlacklist", []),
            output_topic=(config.get("target") or {}).get("topic"),
            on_dsl_change=self._on_dsl_change,
            window_config=config.get("hooks", {}).get("beforeDiscoveryFieldConfig"),
        )
        self.pipeline: SigmaStreamPipeline | None = None
        self.query = None
        self._listener = None
        self._pending_restart = False
        self._discovery_query = None
        self._envelope_stream = None
        self._kafka_internal = False
        self._trigger_seconds = DEFAULT_ANOMALY_SCAN_SECONDS

    # -- events (reference EventEmitter surface, Sarkac.js:55-68) ----------

    def on(self, event: str, fn) -> None:
        self.bus.on(event, fn)

    def _on_dsl_change(self, new_dsl: DSL) -> None:
        self.dsl = new_dsl
        self.bus.emit("discovered-fields", new_dsl.tasks())
        self.counters.field_updates += 1
        # Spark cannot swap a running query's plan; flag for restart at the
        # next micro-batch boundary (O3, DSLHandler.js:316-343)
        self._pending_restart = True

    # -- lifecycle (Sarkac.js:39-72, 111-122) --------------------------------

    def analyse(
        self,
        envelope_stream: DataFrame | None = None,
        trigger_seconds: int = DEFAULT_ANOMALY_SCAN_SECONDS,
    ):
        """Start the engine. Either pass a prepared envelope stream
        (topic, key, value, ts) — any source — or configure ``kafka`` in
        the config dict to consume like the reference does."""
        self._kafka_internal = envelope_stream is None
        if envelope_stream is None:
            kcfg = self.config.get("kafka")
            if not kcfg:
                raise ValueError("no envelope stream and no kafka config")
            src = KafkaSourceConfig(
                bootstrap_servers=kcfg["bootstrapServers"],
                topics=self.dsl.kafka_topics(),
                subscribe_pattern=kcfg.get("subscribePattern"),
                max_offsets_per_trigger=kcfg.get("maxOffsetsPerTrigger", 500),
            )
            envelope_stream = envelope(kafka_stream(self.spark, src))

        self._envelope_stream = envelope_stream
        self._trigger_seconds = trigger_seconds

        engine = self.config.get("engine", "foreachBatch")
        if engine == "stateful":
            # scale path (ARCHITECTURE.md §2): keyed-state scoring, flat
            # O(batch) per trigger. The bus carries 'message' counts via
            # the query listener; anomaly rows are the parquet sink
            # (``anomalies()``) — per-record bus emission is the rescan
            # engine's feature (it owns foreachBatch).
            from sarkac_spark.streaming.listener import SigmaQueryListener
            from sarkac_spark.streaming.pipeline import StatefulSigmaPipeline

            self.pipeline = StatefulSigmaPipeline(
                self.spark,
                self.dsl,
                anomaly_dir=os.path.join(self.work_dir, "anomalies"),
                cooldown_seconds=self.config.get("anomalyCooldownSeconds", 120),
            )
            if self._listener is None:
                self._listener = SigmaQueryListener(self.bus, self.counters)
                self.spark.streams.addListener(self._listener)
            self.query = self.pipeline.start(
                envelope_stream,
                checkpoint_dir=os.path.join(self.work_dir, "ckpt"),
                trigger_seconds=trigger_seconds,
            )
            self._listener.query_id = str(self.query.id)
            if (
                (self.config.get("discovery") or {}).get("enabled")
                and self._discovery_query is None
            ):
                self._discovery_query = self._start_discovery_sidecar(
                    envelope_stream, trigger_seconds
                )
            return self.query
        if engine != "foreachBatch":
            raise ValueError(f"unknown engine {engine!r}")

        cfg = SigmaStreamConfig(
            store_dir=os.path.join(self.work_dir, "store"),
            anomaly_dir=os.path.join(self.work_dir, "anomalies"),
            trigger_seconds=trigger_seconds,
            # same key the stateful engine honors — the two engines must
            # not read different configs for the same knob
            cooldown_seconds=self.config.get("anomalyCooldownSeconds", 120),
        )
        self.pipeline = _BusSigmaPipeline(
            self.spark,
            self.dsl,
            cfg,
            self.bus,
            self.counters,
            discovery=self.discovery
            if (self.config.get("discovery") or {}).get("enabled")
            else None,
        )
        self.query = self.pipeline.start(
            envelope_stream, checkpoint_dir=os.path.join(self.work_dir, "ckpt")
        )
        return self.query

    def _start_discovery_sidecar(self, envelope_stream: DataFrame, trigger_seconds: int):
        """Control-plane discovery for the stateful engine: a second,
        stateless foreachBatch query over the same envelope source runs
        the discovery tick (topic diff + one sampled payload per topic —
        driver cost bounded by topic count, never batch size). Scoring
        state lives in the data-plane query's checkpoint, so discovery
        never touches it; a merged DSL flags ``_pending_restart`` and
        ``restart_if_needed`` swaps the scoring plan at a batch boundary.

        The reference interleaves both planes on one consumer
        (Discovery.js timers inside the same process); separating them is
        the Spark-native shape — the sidecar reads the same source with
        its own tiny checkpoint and can lag or restart independently of
        scoring."""
        import os as _os

        def _tick(batch: DataFrame, _epoch_id: int) -> None:
            _discovery_tick(batch, self.discovery, self.bus, self.counters)

        return (
            envelope_stream.writeStream.foreachBatch(_tick)
            .option(
                "checkpointLocation",
                _os.path.join(self.work_dir, "ckpt_discovery"),
            )
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )

    def restart_if_needed(self) -> bool:
        """Restart the scoring query iff discovery merged new DSL since
        it started (Spark cannot swap a running query's plan; the
        reference re-subscribes its consumer instead, Stream.js:145-152).
        Keyed state and sink exactly-once ride the checkpoint — scored
        baselines survive; only the extraction plan is rebuilt from the
        merged DSL. Returns True when a restart happened. The
        foreachBatch engine never needs this (it re-plans from
        ``self.dsl`` every micro-batch)."""
        if not self._pending_restart or self.query is None:
            return False
        if self.config.get("engine", "foreachBatch") != "stateful":
            # foreachBatch re-plans live; just acknowledge the merge
            self._pending_restart = False
            return False
        self._pending_restart = False
        self.query.stop()
        self.query = None
        # When the stream was built internally from kafka config with an
        # explicit topic list (dsl.kafka_topics() at first analyse), the
        # cached pre-merge stream would keep the STALE subscription — a
        # discovery-added topic's data would never be consumed (the
        # reference re-subscribes its consumer on DSL change,
        # Stream.js:145-152). Rebuild from the merged DSL instead; with a
        # subscribePattern the rebuild is a no-op-equivalent (same
        # pattern), and user-supplied streams are reused as-is.
        stream = None if self._kafka_internal else self._envelope_stream
        if self._kafka_internal and self._discovery_query is not None:
            # The discovery sidecar was started on the PRE-merge envelope
            # stream; with an internally-built kafka source and an explicit
            # topic list that stream still subscribes to the stale topics,
            # so discovery on newly added topics would never fire again.
            # Stop it here; analyse() restarts it against the rebuilt
            # envelope stream (it only skips the start when one is live).
            self._discovery_query.stop()
            self._discovery_query = None
        self.analyse(stream, trigger_seconds=self._trigger_seconds)
        return True

    def anomalies(self) -> DataFrame:
        """All anomalies produced so far (the batch-queryable sink)."""
        d = getattr(self.pipeline, "cfg", self.pipeline)
        return self.spark.read.parquet(d.anomaly_dir)

    def get_status(self) -> dict:
        """/status analogue (HttpServer.js:55-66)."""
        stored = None
        if isinstance(self.pipeline, SigmaStreamPipeline):
            # the keyed-state engine keeps no value store: no count
            stored = self.pipeline._read_store().count()
        return status(self.counters, stored_events=stored)

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
        if self._discovery_query is not None:
            self._discovery_query.stop()
            self._discovery_query = None
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def _discovery_tick(batch: DataFrame, discovery, bus, counters) -> tuple[bool, int]:
    """One discovery tick over a micro-batch (reference Discovery.js:38-66
    samples on a timer; per-micro-batch is the same cadence contract since
    the trigger period is the clock here). Driver-side cost: one collect
    of one sampled message and the message count per topic, which also
    lists the observed topics (a topic whose sample is null still gets
    its row) — bounded by topic count, not batch size. Returns whether
    the merged DSL changed (DiscoveryLoop fires ``on_dsl_change`` itself)
    and the batch's message count."""
    from pyspark.sql import functions as F

    by_topic = batch.groupBy("topic").agg(F.first("value").alias("value"), F.count("*").alias("n"))
    rows = by_topic.collect()
    # a null topic names no topic: its rows count as messages but take
    # no part in the topic diff or field discovery
    samples = [r for r in rows if r.topic is not None]
    created, deleted = discovery.step_topics(
        sorted({r.topic for r in samples} | set(discovery.known_topics))
    )
    if created:
        counters.topic_updates += 1
        bus.emit("created-topics", created)
    if deleted:
        bus.emit("deleted-topics", deleted)
    changed = False
    for r in samples:
        if r.value is not None and discovery.step_fields(r.topic, r.value):
            changed = True
    return changed, sum(r.n for r in rows)


class _BusSigmaPipeline(SigmaStreamPipeline):
    """Pipeline subclass that surfaces per-batch anomalies on the event
    bus (reference emits 'anomaly' per record, DSLHandler.js:229), keeps
    the scan counters, and — when discovery is enabled — runs the
    discovery tick inline.

    Live discovery needs NO query restart here: ``foreachBatch``
    re-plans extraction from ``self.dsl`` every micro-batch, so a DSL
    merged from a discovered topic/field takes effect on the next batch.
    (The reference must juggle consumer re-subscription, Stream.js:145-152;
    a restart is only needed for an explicit-topic-list *source* change —
    ``subscribePattern`` sources don't even need that.)
    """

    def __init__(
        self,
        spark,
        dsl,
        cfg,
        bus: EventBus,
        counters: StatsCounters,
        discovery=None,
    ):
        super().__init__(spark, dsl, cfg)
        self.bus = bus
        self.counters = counters
        self.discovery = discovery

    def _on_emitted(self, rows: list, epoch_id: int, total: int) -> None:
        """Surface THIS epoch's ``total`` anomalies on the bus: the
        earliest ``anomaly_emit_cap`` rows (event-time order) reach it,
        the rest are counted in ``anomalies_dropped`` (visible in
        /status) — the bus is an observability tap, not the data path,
        and a storm must not grow the driver heap."""
        for r in rows:
            self.bus.emit("anomaly", r.asDict())
        self.counters.anomalies_detected += total
        self.counters.anomalies_dropped += total - len(rows)

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        batch = batch.persist()
        try:
            if self.discovery is None:
                n_msgs = batch.count()
            else:
                # on change the next batch re-plans extraction with the
                # merged DSL (no restart needed in the foreachBatch engine)
                changed, n_msgs = _discovery_tick(batch, self.discovery, self.bus, self.counters)
                if changed:
                    self.dsl = self.discovery.dsl
            super().process_batch(batch, epoch_id)
            self.counters.scan_runs += 1
            self.counters.analysed_messages += n_msgs
            self.bus.emit("message", n_msgs)
        except Exception as e:  # noqa: BLE001 — parity: errors swallowed + counted
            self.counters.errors += 1
            self.bus.emit("error", e)
        finally:
            batch.unpersist()
