"""Streaming ingest-time corpus dedup: each micro-batch is deduped
against the committed corpus store with the PROVEN batch operators
(``incremental_exact_dedup`` + ``incremental_minhash_drop_ids_sigs``),
and the survivors are committed — the foreachBatch twin of the
Curator's incremental dedup stage, and the near-dup member of the
streaming dedup family (exact: ``streaming_dedup_exact``; span:
``streaming_span_dedup``; semantic: ``streaming_semantic_dedup``).

Why foreachBatch and not a keyed-state operator: MinHash near-dedup
keys a doc by ALL of its LSH bands, so a pure keyed-state formulation
needs per-band verdicts recombined per doc — a second stateful
aggregation after ``applyInPandasWithState``, which Structured
Streaming does not allow in one query. The foreachBatch shape keeps
the semantics of the batch operator exactly (old×old pairs never
generated, per-trigger cost O(batch × bucket occupancy)) and lets the
corpus store live as plain partitioned parquet any batch job can read.

Exactly-once under at-least-once replay: both stores are
``storeutil.EpochStore`` per-epoch stores — survivors land in this
epoch's partition, overwritten on replay, and the corpus side of the
dedup EXCLUDES the current epoch's partition, so a replayed batch never
dedups against its own half-committed rows. Text and signatures are
written per epoch from one verdict, so they converge together on replay.

PRECONDITION (inherited from ``dedup_minhash_incremental``): document
ids are unique across the stream — a replayed epoch re-presents the
same ids, which is exactly the case the epoch exclusion handles, but
two DIFFERENT documents must never share an id.

100 TB shape: the corpus participates ONLY through its materialized
SIGNATURE store (``dedup_signatures``: id, text_hash, LSH band keys,
shingle-hash set — written once per epoch, when the text was already
in memory). Per trigger, the batch is shingled once and joined against
signature-sized corpus data; corpus TEXT is never re-read, so
per-trigger scan bytes are independent of corpus text size (the text
store could be deleted and dedup would not notice — pinned by test).
The band-df cap bounds hot-band fanout in the corpus dimension.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sarkac_spark.operators.dedup import (
    MINHASH_MAX_BAND_DF,
    dedup_signatures,
    incremental_exact_dedup,
    incremental_minhash_drop_ids_sigs,
)
from sarkac_spark.streaming.storeutil import EpochStore, read_bytes, write_bytes

# Signature-store FORMAT version, recorded as a `_FORMAT` marker file
# (underscore prefix: invisible to Spark's parquet reader, like
# _SUCCESS), written after every commit and checked on every read
# through the session's Hadoop FileSystem (storeutil), so the guard
# holds on every filesystem the store can live on. Version 2 = sh_set
# carries 60-bit shingle hashes; version 1 stores (mod-P values) are
# silently incompatible — array_intersect over the disjoint value
# domains is empty, so every near-dup would be ADMITTED with zero
# diagnostics. The marker turns that permanent-damage scenario into a
# loud error.
SIG_STORE_FORMAT = 2


class IncrementalDedupPipeline:
    """``minhash=None`` runs exact-only dedup; a dict (``k``, ``bands``,
    ``threshold``, ``max_band_df``) adds near-dup dropping after the
    exact pass.

    Stores (both ``storeutil.EpochStore`` per-epoch stores):

    - ``store_dir`` — the committed (id, text) corpus, what a training
      job reads via ``committed()``.
    - ``sig_dir`` (default ``store_dir + "_sigs"``) — the
      ``dedup_signatures`` relation for the SAME rows; the only thing
      the per-trigger dedup reads back. Exact-only mode stores just
      (id, text_hash).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        minhash: dict | None = None,
        sig_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.sig_dir = sig_dir or store_dir.rstrip("/") + "_sigs"
        self.id_col = id_col
        self.text_col = text_col
        self.minhash = minhash
        self._text = EpochStore(spark, self.store_dir)
        self._sigs = EpochStore(spark, self.sig_dir)
        self._format_path = os.path.join(self.sig_dir, "_FORMAT")

    def _read_sigs(self, exclude_epoch: int) -> DataFrame | None:
        """Committed signature rows, excluding ``exclude_epoch``'s
        partition (replay safety). None when nothing is committed yet;
        any OTHER read failure propagates (storeutil's empty-store
        rule)."""
        sigs = self._sigs.read(exclude_epoch=exclude_epoch)
        if sigs is None:
            return None
        self._check_sig_format()
        return sigs.drop("epoch")

    def _check_sig_format(self) -> None:
        """A readable store without a matching `_FORMAT` marker is a
        legacy or foreign store whose sh_set values would compare as
        disjoint — refuse it instead of admitting every near-dup."""
        raw = read_bytes(self.spark, self._format_path)
        found = None if raw is None else raw.decode().strip()
        if found != str(SIG_STORE_FORMAT):
            raise RuntimeError(
                f"signature store {self.sig_dir!r} has format "
                f"{found!r}, this engine writes format {SIG_STORE_FORMAT} "
                "(sh_set = 60-bit shingle hashes); rebuild the store by "
                "re-running dedup_signatures over committed() text"
            )

    def _write_sig_format(self) -> None:
        write_bytes(self.spark, self._format_path, str(SIG_STORE_FORMAT).encode())

    def committed(self) -> DataFrame:
        """The deduped corpus so far (id, text) — what a training job
        reads."""
        return self.spark.read.parquet(self.store_dir).select(
            self.id_col, self.text_col
        )

    def _batch_sigs(self, kept: DataFrame) -> DataFrame:
        if self.minhash is None:
            # exact-only: text_hash is the whole signature
            return kept.select(
                self.id_col, F.md5(F.col(self.text_col)).alias("text_hash")
            )
        mh = self.minhash
        return dedup_signatures(
            kept,
            self.id_col,
            self.text_col,
            k=int(mh.get("k", 16)),
            bands=int(mh.get("bands", 4)),
            shingle_n=int(mh.get("shingle_n", 3)),
            # the 100 TB sh_set knob (bottom-k sketch; None = exact sets)
            # — see dedup_signatures. Must stay constant for a store's
            # lifetime: capped and uncapped sets don't compare.
            max_sh_set=mh.get("max_sh_set"),
        )

    def dedup_batch(self, fresh: DataFrame, epoch_id: int) -> DataFrame:
        """Dedup VERDICTS for one batch against the committed signature
        store — no store writes. Extra columns on ``fresh`` (beyond
        id/text) ride through untouched, so composed pipelines
        (``StreamingCuratorPipeline``) can quota on them afterwards.
        Split from ``process_batch`` so a composer can insert stages
        between the verdict and the commit; callers that drop further
        rows MUST commit the final survivor set via ``commit_batch`` so
        the stores only ever describe committed rows."""
        corpus_sigs = self._read_sigs(exclude_epoch=epoch_id)
        seen = (
            corpus_sigs.select("text_hash")
            if corpus_sigs is not None
            else self.spark.createDataFrame([], "text_hash string")
        )
        kept = incremental_exact_dedup(
            fresh, seen, self.id_col, self.text_col
        ).drop("text_hash")
        if self.minhash is not None:
            mh = self.minhash
            drop = incremental_minhash_drop_ids_sigs(
                corpus_sigs,
                self._batch_sigs(kept),
                self.id_col,
                threshold=float(mh.get("threshold", 0.5)),
                max_band_df=mh.get("max_band_df", MINHASH_MAX_BAND_DF),
                # must match the signature build above: truncated sets
                # switch the verify step to the union-bottom-k estimator
                max_sh_set=mh.get("max_sh_set"),
            )
            kept = kept.join(drop, self.id_col, "left_anti")
        return kept

    def commit_batch(self, kept: DataFrame, epoch_id: int) -> DataFrame:
        """Commit one batch's survivors to the text + signature stores.

        Per-epoch overwrite: a replayed epoch rewrites its own
        partition — the store stays exactly-once (see module docstring).
        Signatures are derived from the SAME ``kept`` (one dedup
        verdict, two projections), so the stores cannot disagree.
        Returns the materialized survivors."""
        kept = kept.localCheckpoint(eager=True)
        self._text.write(kept, epoch_id)
        self._sigs.write(self._batch_sigs(kept), epoch_id)
        self._write_sig_format()
        return kept

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        fresh = batch.select(self.id_col, self.text_col)
        self.commit_batch(self.dedup_batch(fresh, epoch_id), epoch_id)

    def compact(self, target_partitions: int | None = None) -> int:
        """Fold every committed epoch partition of BOTH stores into one
        base layer (``epoch=-1``) each — the small-files maintenance
        op for a long-running ingest: thousands of triggers mean
        thousands of tiny parquet files on the per-trigger signature
        read path, and at 100 TB the file-listing alone would dominate
        the trigger. Returns the compacted doc count.

        ``target_partitions=None`` auto-sizes the folded stores
        (``storeutil.ROWS_PER_FILE``) so the per-trigger signature scan
        keeps its parallelism; pass an explicit int to override. Run
        while the stream is STOPPED (``EpochStore.compact``).
        """
        # refuse to fold (and thereby carry forward) a legacy or
        # foreign-format signature store's marker: compacting one would
        # bless mod-P sh_set values and silently re-enable the
        # admit-every-near-dup failure the marker exists to prevent.
        if self._sigs.read() is not None:
            self._check_sig_format()
        n_docs = self._text.compact(partitions=target_partitions)
        # the _FORMAT marker rides into the folded copy before the swap
        self._sigs.compact(partitions=target_partitions)
        return n_docs

    def start(
        self,
        doc_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
    ):
        writer = doc_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
