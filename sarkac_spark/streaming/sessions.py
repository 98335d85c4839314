"""Streaming sessionization — the Structured Streaming twin of the
batch ``operators/sessions.py::session_stats``.

Spark-first: the keyed gap-merge state machine is Spark's NATIVE
``F.session_window(ts, gap)`` (event-time windows that merge while open,
backed by the streaming state store), not a hand-rolled stateful op.
The pipeline only adds the store every other streaming pipeline here
uses: append-mode finalized sessions land in a replay-safe
``storeutil.EpochStore`` (epoch overwrite — a post-commit replay
rewrites its own partition instead of duplicating rows).

Semantics bridge to the batch operator (pinned by the stream≡batch
test): ``session_window``'s window end is ``last_event_ts + gap``, so
``session_end_us`` is emitted as ``window.end - gap`` — the batch
operator's ``max(ts)``. ``session_seq`` (the batch 1-based ordinal) is
inherently retrospective — a stream cannot number a session until every
earlier session of that key is closed — so the streaming schema carries
the session BOUNDS as identity instead.

Scale shape (100 TB ingest): state is per OPEN session per key — bounded
by key cardinality, not corpus size; the watermark closes sessions and
evicts their state, so a year-long ingest holds only the active window
of state. Finalized sessions append exactly once (append mode +
checkpoint), so downstream consumers never reconcile updates.

Reference parity: the reference engine has no sessionization (SURVEY
§2.6 gap) — this is part of the beyond-reference analytics surface,
twin to the oracle-checked batch ``sessionize``/``session_stats``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from sarkac_spark.streaming.storeutil import EpochStore


class StreamingSessionPipeline:
    """Gap-based session stats over an event stream.

    Parameters mirror the batch operator; ``watermark_delay_seconds``
    is how much event-time disorder to absorb before a session may
    close (0 = trust arrival order, the tightest state footprint).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        key_cols: Sequence[str],
        ts_col: str = "ts",
        gap_seconds: int = 1800,
        watermark_delay_seconds: int = 0,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self._store = EpochStore(spark, store_dir)
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.gap_seconds = int(gap_seconds)
        self.watermark_delay_seconds = int(watermark_delay_seconds)

    # --- the query -------------------------------------------------------

    def aggregate(self, stream: DataFrame) -> DataFrame:
        """The session-window aggregation, append-ready: one row per
        FINALIZED session with the batch operator's column contract
        (key cols, session_start_us, session_end_us, n_events,
        duration_us)."""
        w = F.session_window(
            F.col(self.ts_col), f"{self.gap_seconds} seconds"
        )
        agg = (
            stream.withWatermark(
                self.ts_col, f"{self.watermark_delay_seconds} seconds"
            )
            .groupBy(*self.key_cols, w.alias("__w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        start_us = F.unix_micros(F.col("__w.start"))
        end_us = (
            F.unix_micros(F.col("__w.end"))
            - F.lit(self.gap_seconds) * 1_000_000
        )
        return agg.select(
            *self.key_cols,
            start_us.alias("session_start_us"),
            end_us.alias("session_end_us"),
            "n_events",
            (end_us - start_us).alias("duration_us"),
        )

    # --- store plumbing ---------------------------------------------------

    def _write_epoch(self, batch: DataFrame, epoch_id: int) -> None:
        # per-epoch overwrite: a replay of epoch N rewrites its own
        # partition instead of appending duplicates (append mode means
        # rows in an epoch are final, so that is the whole story here)
        self._store.write(batch, epoch_id)

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
    ):
        writer = (
            self.aggregate(stream)
            .writeStream.outputMode("append")
            .foreachBatch(self._write_epoch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=f"{trigger_seconds} seconds"
            )
        return writer.start()

    def sessions(self) -> DataFrame:
        """All finalized sessions so far (the partition-discovered
        epoch column dropped — it is store plumbing, not session
        identity)."""
        return self.spark.read.parquet(self.store_dir).drop("epoch")
