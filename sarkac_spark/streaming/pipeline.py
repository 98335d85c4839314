"""The streaming lift of the sigma engine (SURVEY.md §3.2/§3.3, stage 4).

The reference runs two coupled loops: a per-message hot path that scores
values against *cached* stats, and a 15 s control loop that recomputes the
stats from the stored points (lib/Sarkac.js:74-99, DSLHandler.js:236-314).
Spark-first, both collapse into ONE micro-batch loop —
``foreachBatch`` with the trigger period playing the scan period:

    every trigger (default 15 s), for the new micro-batch:
      1. extract DSL fields         -> long (topic, field_path, value, ts)
      2. append to the value store  (the SigmaModel collection, as a
         per-epoch parquet store: replay-safe overwrite of epoch=N —
         the rules live in ``storeutil.EpochStore``)
      3. recompute trailing stats from the retained store  (A1-A3, A5)
      4. score the *batch* rows against those stats        (P6)
      5. cooldown-suppress per (topic, path, window)       (W6, exact
         emit-then-suppress as a JVM walk, seeded with each series'
         last emit from the anomaly sink's earlier epochs — the sink IS
         the cooldown state; there is no state dir)
      6. overwrite this epoch's anomaly partition (-> Kafka sink shape)

This gives exact trailing-window-from-"now" semantics (the reference's
``Date.now()`` boundary, SigmaModel.js:54) rather than Spark's aligned
sliding windows — the SURVEY hard-part (1) tradeoff, resolved the cheap
way. Scoring uses stats refreshed in the same trigger, i.e. at most one
trigger period stale — the same staleness model as the reference (W5),
with one deliberate divergence: the reference's cache was computed
*before* the scored message arrived, while our stats include the current
batch. An extreme outlier in a low-support window therefore dampens its
own score here (it inflates the stddev it is scored against); the two
models agree whenever the window holds enough baseline points for one
value not to dominate the variance.

Scale notes: steps 1/4 are map-only over the batch; step 3 is one grouped
aggregation over the retained store (bounded by retention x rate); the
stats relation is tiny and broadcast. The store is partitioned by topic
so per-topic scans prune files. For unbounded-rate deployments where
re-scanning retained data per trigger is unaffordable, use
``windowed_stats_stream`` (pure Structured Streaming sliding windows +
watermark) and accept aligned-window semantics.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Row, SparkSession, functions as F

from sarkac_spark.config import (
    ANOMALY_COOLDOWN_SECONDS,
    DEFAULT_ANOMALY_SCAN_SECONDS,
    MIN_EVENTS_FOR_STATS,
    DSL,
)
from sarkac_spark.operators.anomaly import sigma_scan
from sarkac_spark.operators.cooldown import cooldown_exact
from sarkac_spark.operators.fields import dsl_field_exprs, to_sigma_store
from sarkac_spark.streaming.storeutil import EpochStore

STORE_SCHEMA = "topic string, produced timestamp, key string, field_path string, value double"
# epoch is a partition directory (epoch=N/topic=T/part-*.parquet): the
# per-micro-batch idempotency unit — see process_batch step 2
STORE_READ_SCHEMA = "epoch long, " + STORE_SCHEMA
# the anomaly sink's columns the cooldown seed needs (epoch=N partitions)
SINK_READ_SCHEMA = "epoch long, topic string, path string, window_seconds long, event_ts_us long"
SERIES = ("topic", "path", "window_seconds")


def _empty(spark: SparkSession, schema: str) -> DataFrame:
    """Empty frame over a zero-partition RDD: unlike ``createDataFrame``
    from a list, it never starts a Python worker."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def extraction_columns(dsl: DSL) -> list[Column] | None:
    """The projection of DSL field extraction (P1-P4) over an envelope
    relation (topic, key, value: json-string, ts): topic, ``ts`` as
    produced, key, and ``__fv``, one row per configured (field_path,
    value) struct of the row's topic. None with no configured fields.

    ONE pass, ONE branch: a per-topic CASE maps each row to its
    configured (field_path, value) struct array, exploded in a single
    projection. The earlier shape (one filtered branch per topic,
    self-unioned) scanned the stream once per topic AND — fatally for
    live discovery — made each union arm count as a separate source in
    a streaming checkpoint's offset log, so adding a discovered topic
    broke restart ("N sources in the checkpoint offsets, now M
    requested"). With a single source occurrence, the same checkpoint
    carries any DSL; topics outside the DSL hit the CASE's empty-array
    default and explode drops them (the P3 topic filter, for free).

    Topic names and paths are DSL text, so they enter the plan only as
    Column literals, never as SQL text. Building these Columns costs
    hundreds of py4j calls; a caller that extracts every trigger keeps
    them per DSL (``SigmaStreamPipeline._extraction``)."""
    chain = None
    for t in dsl.topics.values():
        if not t.fields:
            continue
        exprs = dsl_field_exprs("value", [f.path for f in t.fields])
        arr = F.array(
            *[
                F.struct(
                    F.lit(p).alias("field_path"),
                    e.cast("double").alias("value"),
                )
                for p, e in exprs.items()
            ]
        )
        cond = F.col("topic") == t.topic
        chain = F.when(cond, arr) if chain is None else chain.when(cond, arr)
    if chain is None:
        return None
    empty = F.array().cast("array<struct<field_path:string,value:double>>")
    return [
        F.col("topic"),
        F.col("ts").alias("produced"),
        F.col("key"),
        F.explode(chain.otherwise(empty)).alias("__fv"),
    ]


def extract_with(df: DataFrame, columns: list[Column]) -> DataFrame:
    """Apply ``extraction_columns`` to ``df``: the long store shape
    (topic, produced, key, field_path, value), missing fields dropped."""
    return (
        df.select(*columns)
        .selectExpr(
            "topic", "produced", "key", "__fv.field_path AS field_path", "__fv.value AS value"
        )
        .filter("value IS NOT NULL")
    )


def extract_fields(df: DataFrame, dsl: DSL) -> DataFrame | None:
    """DSL field extraction over an envelope relation — batch OR
    streaming (pure project/explode, no shuffle): ``extract_with`` over
    a fresh ``extraction_columns(dsl)``. None with no configured fields."""
    columns = extraction_columns(dsl)
    return None if columns is None else extract_with(df, columns)


@dataclass
class SigmaStreamConfig:
    store_dir: str
    anomaly_dir: str
    trigger_seconds: int = DEFAULT_ANOMALY_SCAN_SECONDS
    min_count: int = MIN_EVENTS_FOR_STATS
    cooldown_seconds: int = ANOMALY_COOLDOWN_SECONDS
    # reference-exact W5 staleness: score the batch against stats from
    # the PREVIOUS scan (excluding this batch's values, so a spike can't
    # inflate the stddev it is scored against; the first batch goes
    # unscored — "no cache entry yet => silently unscored",
    # DSLHandler.js:178-189). Default False = as-of-now stats.
    score_against_previous: bool = False


class SigmaStreamPipeline:
    """foreachBatch-driven sigma pipeline over an envelope stream
    (topic, key, value: json-string, ts)."""

    # rows per epoch collected for ``_on_emitted``: an anomaly storm must
    # not grow the driver heap (the sink keeps every row)
    anomaly_emit_cap = 1000

    def __init__(
        self,
        spark: SparkSession,
        dsl: DSL,
        cfg: SigmaStreamConfig,
    ):
        self.spark = spark
        self.dsl = dsl
        self.cfg = cfg
        self.anomaly_batches = 0
        self._tasks: tuple | None = None
        self._fields: tuple | None = None
        self.store = EpochStore(spark, cfg.store_dir, STORE_READ_SCHEMA)
        self.sink = EpochStore(spark, cfg.anomaly_dir, SINK_READ_SCHEMA)

    # -- step 1: DSL field extraction (P1-P4) ------------------------------

    def _extraction(self) -> list[Column] | None:
        """``extraction_columns`` of the current DSL, rebuilt only when
        discovery changes its topics or paths."""
        fields = tuple(
            (t.topic, tuple(f.path for f in t.fields)) for t in self.dsl.topics.values()
        )
        if self._fields != fields:
            self._fields = fields
            self._extract_columns = extraction_columns(self.dsl)
        return self._extract_columns

    def extract(self, batch: DataFrame) -> DataFrame:
        columns = self._extraction()
        if columns is None:
            return _empty(self.spark, STORE_SCHEMA)
        return extract_with(batch, columns)

    # -- steps 2-6 ----------------------------------------------------------

    def _read_store(self) -> DataFrame:
        store = self.store.read()
        if store is None:
            return _empty(self.spark, STORE_SCHEMA)
        return store.drop("epoch")

    def _last_emits(self, epoch_id: int) -> DataFrame | None:
        """Cooldown seed: each series' last emit in the anomaly sink's
        EARLIER epochs (partition-pruned), so a replayed epoch recomputes
        exactly the rows it wrote the first time."""
        sink = self.sink.read(before_epoch=epoch_id)
        if sink is None:
            return None
        return sink.groupBy(*SERIES).agg(F.expr("max(event_ts_us) AS last_emit_us"))

    def _task_filter(self):
        """(topic, path, window) in the DSL's tasks, as a JVM literal
        ``IN`` (a ``createDataFrame`` task table is a Python-side RDD);
        rebuilt only when discovery changes the tasks."""
        tasks = tuple(self.dsl.tasks())
        if self._tasks != tasks:
            self._tasks = tasks
            key = F.array("topic", "path", F.col("window_seconds").cast("string"))
            self._in_tasks = key.isin(*[F.lit([t, p, str(w)]) for t, p, w in tasks])
        return self._in_tasks

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        extracted = self.extract(batch)

        # stale-stats mode: capture the store's file listing BEFORE the
        # append (spark.read.parquet resolves files eagerly), so the
        # stats below exclude this batch — the reference's cache model
        prev_store = (
            self._read_store() if self.cfg.score_against_previous else None
        )

        # 2. append new points to the store (S4) as this epoch's
        # partition, overwritten on replay (storeutil.EpochStore): the
        # store stays exactly-once though foreachBatch is at-least-once.
        # Nested topic partitioning keeps per-topic file pruning.
        self.store.write(extracted, epoch_id, partition_by=("topic",))

        # 3+4. stats over retained store; score ONLY this batch's rows
        # (score_df) so an anomaly is emitted at most once — the reference
        # scores each incoming message exactly once against cached stats
        # (DSLHandler.js:178-189). One sigma_scan per distinct window set
        # is avoided by scanning all windows and filtering to the tasks.
        store = prev_store if prev_store is not None else self._read_store()
        windows = sorted({w for _, _, w in self.dsl.tasks()})
        if not windows:
            return
        anomalies = sigma_scan(
            store,
            group_cols=("topic", "field_path"),
            value_col="value",
            ts_col="produced",
            windows=windows,
            min_count=self.cfg.min_count,
            path_col="field_path",
            keep_ts=True,
            score_df=extracted,
        ).filter(self._task_filter())

        # 5. cooldown (W6), seeded from the sink's earlier epochs
        emitted = cooldown_exact(
            anomalies,
            SERIES,
            "event_ts_us",
            self.cfg.cooldown_seconds,
            seed=self._last_emits(epoch_id),
        )
        emitted.persist()
        try:
            # one collect: the bus rows and, unless the cap overflows, the count
            head = emitted.orderBy("event_ts_us").limit(self.anomaly_emit_cap + 1).collect()
            if head:
                # same per-epoch overwrite as the store: a replayed batch
                # rewrites its own anomaly partition with the same rows
                # (its cooldown seed excludes that partition), so the
                # sink is exactly-once under replay
                self.sink.write(emitted, epoch_id)
                self.anomaly_batches += 1
                total = len(head) if len(head) <= self.anomaly_emit_cap else emitted.count()
                # hook for subscribers (event bus), who must never have to
                # re-read the (unbounded) anomaly store
                self._on_emitted(head[: self.anomaly_emit_cap], epoch_id, total)
        finally:
            emitted.unpersist()

    def _on_emitted(self, rows: list[Row], epoch_id: int, total: int) -> None:
        """Called once per anomaly-producing epoch with that epoch's
        earliest ``anomaly_emit_cap`` rows (event-time order) and the
        epoch's total anomaly count. Default: no-op."""

    def compact_store(self) -> None:
        """Physical retention prune (S6) — fold the store to its base
        layer keeping only rows inside each topic's max retention. Run
        offline/periodically, with the stream stopped; logical pruning
        already happens in every stats scan."""
        retention = {
            t.topic: max((f.retention_seconds for f in t.fields), default=0)
            for t in self.dsl.topics.values()
        }
        ret_df = self.spark.createDataFrame(
            list(retention.items()), "topic string, retention_s long"
        )

        def keep_retained(store: DataFrame) -> DataFrame:
            as_of = store.agg(F.max("produced").alias("as_of"))
            return (
                store.crossJoin(F.broadcast(as_of))
                .join(F.broadcast(ret_df), "topic", "left")
                .filter(
                    F.unix_micros(F.col("produced").cast("timestamp"))
                    >= F.unix_micros(F.col("as_of").cast("timestamp"))
                    - F.coalesce(F.col("retention_s"), F.lit(0)) * 1_000_000
                )
                .select(*store.columns)
            )

        # the folded rows keep the epoch=N/topic=T layout
        self.store.compact(keep_retained, partition_by=("topic",))

    def truncate(self) -> None:
        """S7: drop all engine state (reference SigmaModel.remove({}) via
        DELETE /db/truncate) — store and anomalies (which also hold the
        cooldown state)."""
        self.store.clear()
        self.sink.clear()

    def start(self, envelope_stream: DataFrame, checkpoint_dir: str):
        """Attach to an envelope stream and run."""
        return (
            envelope_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{self.cfg.trigger_seconds} seconds")
            .start()
        )


def windowed_stats_stream(
    envelope: DataFrame,
    dsl: DSL,
    slide_seconds: int = DEFAULT_ANOMALY_SCAN_SECONDS,
):
    """Pure Structured Streaming alternative for the stats plane (W1/W2 with
    *aligned* sliding windows instead of trailing-from-now): one windowed
    aggregation per distinct window length, unioned; watermark = window
    length gives W3/W4 state eviction. Output: append-mode stats rows."""
    spark = envelope.sparkSession
    parts = []
    for t in dsl.topics.values():
        exprs = dsl_field_exprs("value", [f.path for f in t.fields])
        long_df = to_sigma_store(
            envelope.filter(F.col("topic") == t.topic),
            topic_col="topic",
            ts_col="ts",
            fields=exprs,
        )
        by_window: dict[int, list[str]] = {}
        for f in t.fields:
            for w in f.windows:
                by_window.setdefault(w, []).append(f.path)
        for w, paths in by_window.items():
            agg = (
                long_df.filter(F.col("field_path").isin(paths))
                .withWatermark("produced", f"{w} seconds")
                .groupBy(
                    F.window("produced", f"{w} seconds", f"{slide_seconds} seconds"),
                    "topic",
                    "field_path",
                )
                .agg(
                    F.avg("value").alias("mean"),
                    F.stddev_pop("value").alias("stddev_pop"),
                    F.count("value").alias("n"),
                )
                .withColumn("window_seconds", F.lit(w).cast("long"))
            )
            parts.append(agg)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def streaming_dedup_exact(
    stream: DataFrame,
    key_cols: Sequence[str] | None = None,
    text_col: str | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the in-flight dedup stage of a training
    ingest pipeline: drop records whose dedup key was already seen,
    with state BOUNDED by the watermark delay
    (``dropDuplicatesWithinWatermark``: a key's state is evicted once
    it ages past the watermark, so state size is rate x delay, never
    all-history — the property that lets this run forever at 100 TB/day).

    Pass ``text_col`` to dedup by content digest (the streaming twin of
    ``dedup_exact``'s md5 key), or ``key_cols`` for id-based dedup.
    Exactness contract: duplicates farther apart in event time than the
    watermark delay can both survive (the documented tradeoff of bounded
    state); within the delay, dedup is exact.
    """
    if (key_cols is None) == (text_col is None):
        raise ValueError("pass exactly one of key_cols / text_col")
    if text_col is not None:
        stream = stream.withColumn("__dedup_key", F.md5(F.col(text_col)))
        keys = ["__dedup_key"]
    else:
        keys = list(key_cols)
    out = stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return out.drop("__dedup_key") if text_col is not None else out


def streaming_span_dedup(
    stream,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    span_words: int = 10,
    watermark: str = "1 hour",
):
    """Streaming twin of ``operators/dedup.span_dedup``: spans whose
    60-bit hash was already seen inside the watermark horizon are
    dropped; the first occurrence flows through. Output is the SPAN
    stream ``(id, pos, span, ts)`` — marked survivors, not reassembled
    documents: reassembly needs the document's full span set, which in a
    stream means a second stateful aggregation downstream (grouped by
    doc with its own watermark), and pipelines that only *count* or
    *filter* repeated boilerplate never pay for it.

    Same bounded-state contract as ``streaming_dedup_exact``: span-hash
    state is rate x watermark delay; spans recurring farther apart than
    the delay both survive (the batch operator remains the exact
    retrospective dedup).
    """
    from sarkac_spark.operators.dedup import _h60, words_col

    w = words_col(text_col)
    n_spans = F.ceil(F.size(w) / F.lit(span_words)).cast("int")
    idx = F.sequence(F.lit(0), n_spans - 1)
    span = F.transform(
        idx,
        lambda i: F.array_join(F.slice(w, i * span_words + 1, span_words), " "),
    )
    spans = stream.select(
        F.col(id_col),
        F.col(ts_col),
        F.posexplode(
            F.when(F.size(w) > 0, span).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "span"),
    ).withColumn("__h", _h60(F.col("span")))
    return (
        spans.withWatermark(ts_col, watermark)
        # span joins the hash in the dedup key (mirrors the batch
        # operator): __h narrows state comparisons, span makes a 60-bit
        # collision between distinct spans harmless.
        .dropDuplicatesWithinWatermark(["__h", "span"])
        .drop("__h")
    )


def streaming_count_min(
    stream: DataFrame,
    col: str,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Streaming twin of ``operators/sketch.count_min_sketch``: one
    count-min sketch per event-time window — the live heavy-hitter /
    hot-key monitor that feeds skew mitigation. The decisive property:
    streaming state is bounded BY CONSTRUCTION at depth x width counters
    per open window, independent of key cardinality — a windowed exact
    groupBy(key) on a 100 TB/day stream holds unbounded key state; this
    holds a few KB. Query the emitted sketch with ``cms_estimate``
    (same (d, bucket, cnt) contract as the batch build).

    Output (append mode, on window close): (window_start, window_end,
    d, bucket, cnt).
    """
    from sarkac_spark.operators.sketch import _row_hash

    rows = F.array(
        *[
            F.struct(
                F.lit(d).cast("int").alias("d"),
                _row_hash(F.col(col), d, width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        stream.filter(F.col(col).isNotNull())  # NULL parity with the batch build
        .select(F.col(ts_col), F.explode(rows).alias("rb"))
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(ts_col, window).alias("win"),
            F.col("rb.d").alias("d"),
            F.col("rb.bucket").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "d",
            "bucket",
            "cnt",
        )
    )


def streaming_hll_distinct(
    stream: DataFrame,
    col: str,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    b: int = 10,
) -> DataFrame:
    """Streaming twin of ``operators/sketch.hll_distinct``: one HLL
    register set per event-time window — the live distinct-cardinality
    monitor (unique users/URLs/keys per window). The decisive property:
    state is bounded BY CONSTRUCTION at ``2^b`` max-rank registers per
    open window, independent of key cardinality — a windowed exact
    ``approx_count_distinct`` holds engine-private state and an exact
    ``countDistinct`` is not even allowed in streaming; this emits the
    same (idx, M) register contract as the batch build, so
    ``hll_estimate`` (grouping on the window columns) turns the sink
    into estimates, and registers from adjacent windows merge by
    max-per-idx for coarser rollups.

    Output (append mode, on window close): (window_start, window_end,
    idx, M).
    """
    from sarkac_spark.operators.sketch import hll_rho

    idx, rho = hll_rho(col, b)
    return (
        stream.filter(F.col(col).isNotNull())  # NULL parity with the batch build
        .select(F.col(ts_col), idx.alias("idx"), rho.alias("__rho"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "idx")
        .agg(F.max("__rho").alias("M"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "idx",
            "M",
        )
    )


def streaming_histogram(
    stream: DataFrame,
    col: str,
    lo: float,
    hi: float,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    k: int = 256,
) -> DataFrame:
    """Streaming twin of ``operators/sketch.histogram_quantiles``: one
    fixed-bin histogram per event-time window — the live latency/size
    p95/p99 monitor. Bounds must be FIXED up front (``lo``/``hi`` from
    the metric's physical range — a streaming per-window min/max
    pre-pass is impossible); out-of-range values clamp into the edge
    bins. State is bounded BY CONSTRUCTION at ``k`` counters per open
    window, where an exact windowed percentile would buffer every value.
    Feed the sink to ``fixed_histogram_estimate`` (grouping on the
    window columns) for the quantile numbers; bins from adjacent
    windows merge by summing ``c`` for coarser rollups.

    Output (append mode, on window close): (window_start, window_end,
    bin, c).
    """
    if not hi > lo:
        raise ValueError("need hi > lo")
    v = F.col(col).cast("double")
    bin_ = (
        F.when(v <= lo, F.lit(0))
        .when(v >= hi, F.lit(k - 1))
        .otherwise(F.least(F.floor((v - lo) * k / (hi - lo)), F.lit(k - 1)))
        .cast("long")
    )
    return (
        stream.select(F.col(ts_col), bin_.alias("bin"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bin",
            "c",
        )
    )


def streaming_unigram_drift(
    stream: DataFrame,
    reference: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    oov_q: float = 1e-6,
) -> DataFrame:
    """Streaming twin of ``operators/text.unigram_kl``: per event-time
    window and group, KL(P_window ‖ Q_ref) against a STATIC reference
    unigram distribution ``reference`` = (tok, q) — the live drift
    monitor that pages when a crawl source starts emitting something
    distributionally new. Tokens absent from the reference score
    against the ``oov_q`` floor (an unsmoothed reference would make any
    novel token infinitely surprising).

    Shape: two CHAINED stateful aggregations — (window, group, token)
    counts, then the per-(window, group) reduction — with the reference
    riding a stateless broadcast join between them (Spark's
    multiple-stateful-operator support; watermark propagates through
    the first window). State is vocab-bounded per open window, evicted
    on watermark close; rows emit in append mode once the window
    finalizes. The identity KL = (1/T)·Σ c·ln(c/q) − ln(T) lets one
    aggregation produce the result without a per-window total join.

    Output: (window_start, window_end, <group_col>, n_tokens,
    kl_divergence).
    """
    from sarkac_spark.operators.dedup import words_col

    toks = stream.select(
        F.col(group_col).alias("grp"),
        F.col(ts_col),
        F.explode(words_col(text_col)).alias("tok"),
    ).select("grp", ts_col, F.lower(F.col("tok")).alias("tok"))
    counts = (
        toks.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "grp", "tok")
        .agg(F.count("*").alias("c"))
    )
    joined = counts.join(
        F.broadcast(reference.select("tok", "q")), "tok", "left"
    ).withColumn("q", F.coalesce(F.col("q"), F.lit(float(oov_q))))
    reduced = joined.groupBy("win", "grp").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(F.col("c") * F.log(F.col("c") / F.col("q"))).alias("__s"),
    )
    return reduced.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        F.col("grp").alias(group_col),
        "n_tokens",
        F.round(
            F.col("__s") / F.col("n_tokens") - F.log(F.col("n_tokens")), 6
        ).alias("kl_divergence"),
    )


class StatefulSigmaPipeline:
    """The pure-Structured-Streaming sigma engine — no foreachBatch, no
    external state files: extract (stateless project/union) ->
    ``stateful_sigma_scan`` (keyed state: retained points + per-window
    last-emit cooldown) -> file sink (exactly-once via the sink's
    commit log; swap for the Kafka sink shape in production).

    Versus ``SigmaStreamPipeline`` (exact reference parity, re-scans
    the retained store every trigger): this one never re-reads history
    — state updates are incremental, so per-trigger cost is O(batch),
    not O(retained). The tradeoff is the scoring model: values are
    scored against strictly-earlier points (zero-staleness W5,
    ``online_sigma_scan`` semantics) instead of the reference's
    15-s-stale cache. At unbounded rates this is the deployment shape;
    state lives in the state store (RocksDB on a cluster) and scales
    with series count, not history length.
    """

    def __init__(
        self,
        spark: SparkSession,
        dsl: DSL,
        anomaly_dir: str,
        min_count: int = MIN_EVENTS_FOR_STATS,
        cooldown_seconds: int = ANOMALY_COOLDOWN_SECONDS,
    ):
        self.spark = spark
        self.dsl = dsl
        self.anomaly_dir = anomaly_dir
        self.min_count = min_count
        self.cooldown_seconds = cooldown_seconds

    def anomalies(self, envelope_stream: DataFrame) -> DataFrame:
        from sarkac_spark.streaming.stateful_sigma import stateful_sigma_scan

        extracted = extract_fields(envelope_stream, self.dsl)
        if extracted is None:
            raise ValueError("DSL configures no fields")
        task_windows: dict[tuple[str, str], list[int]] = {}
        for topic, path, w in self.dsl.tasks():
            task_windows.setdefault((topic, path), []).append(w)
        windows = sorted({w for ws in task_windows.values() for w in ws})
        return stateful_sigma_scan(
            extracted,
            windows=windows,
            min_count=self.min_count,
            cooldown_seconds=self.cooldown_seconds,
            task_windows=task_windows,
        )

    def start(
        self,
        envelope_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int = DEFAULT_ANOMALY_SCAN_SECONDS,
    ):
        return (
            self.anomalies(envelope_stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", self.anomaly_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start()
        )
