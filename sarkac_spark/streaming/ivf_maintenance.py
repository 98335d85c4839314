"""Streaming IVF index maintenance: an embedding stream is ingested
into a bucketed corpus store, per-bucket occupancy is tracked
INCREMENTALLY (per-trigger cost = one batch assignment + a
buckets-sized aggregate — never a corpus rescan), and when the
occupancy gate (`ivf_refit_decision`'s rule) fires, the centroids are
re-fit on the stored corpus and the index rolls forward to a new
version — the foreachBatch twin of `operators/similarity.py::
ivf_maintenance`, turning the batch maintenance tick into a
continuously self-healing index.

Store layout (all plain partitioned parquet under ``store_dir``):

- ``vecs/epoch=N``                — the ingested vectors (id, vec_col).
- ``occupancy/version=K/epoch=N`` — per-bucket counts of epoch N's
  batch under centroid version K; ``epoch=-1`` is the BASE partition a
  refit writes (the whole pre-refit-epoch corpus recounted under the
  new centroids). The gate reads only the current version's partitions
  and sums per bucket: rows are O(epochs x buckets), data-independent.
- ``centroids/version=K``         — (centroid_id, vec_col) per refit
  generation; readers take the max version.

Why a VERSIONED occupancy relation: counts are only meaningful under
the centroids that produced them, so a refit invalidates every prior
epoch's counts. The refit bumps the version and seeds it with a base
recount (riding the same corpus scan the refit itself needs), keeping
the invariant "current-version occupancy == corpus occupancy under
current centroids" without ever rescanning on the NON-refit path.

Exactly-once under at-least-once replay: vecs and each version's
occupancy are ``storeutil.EpochStore`` per-epoch stores (every
epoch-keyed write is a per-epoch overwrite), and the refit is
deterministic (seeded KMeans over an id-hash-partitioned, id-sorted
copy of the stored rows — a replay re-derives the same centers
whatever the store's file layout or the core count) — plus two
refit-specific rules:

- the CENTROIDS write is last (the commit point): a crash anywhere
  before it replays under the OLD version, re-derives the identical
  refit, and overwrites its own partial writes;
- the base recount EXCLUDES the triggering epoch (vecs are
  epoch-partitioned, so the exclusion is a partition-pruned filter),
  whose counts live in its own epoch partition — a post-commit replay
  of that epoch rewrites its partition under the new centroids instead
  of double-counting into the base.

100 TB shape: the hot path per trigger is map-only batch assignment
(broadcast centroids) + one buckets-sized agg + a driver collect of
<= n_buckets rows. The corpus is touched only when the gate fires,
which is exactly when an index rebuild is the point. (If KMeans cannot
balance an inherently skewed distribution below ``skew_factor``, the
gate keeps firing and every trigger pays a refit — set ``skew_factor``
above the distribution's natural skew, same contract as the batch
``ivf_maintenance``.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sarkac_spark.operators.similarity import assign_buckets, refit_ivf_centroids
from sarkac_spark.streaming.storeutil import (
    BASE_EPOCH,
    EpochStore,
    delete,
    list_dir,
    read_parquet_or_none,
)


def _bucket_totals(occ: DataFrame) -> DataFrame:
    return occ.groupBy("bucket").agg(F.sum("n_vecs").cast("long").alias("n_vecs"))


class IvfMaintenancePipeline:
    def __init__(
        self,
        spark: SparkSession,
        store_dir: str,
        initial_centroids: list[tuple[int, list[float]]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        skew_factor: float = 2.0,
        min_total_for_refit: int = 100,
        seed: int = 7,
        max_train_rows: int = 100_000,
    ) -> None:
        self.spark = spark
        self.store_dir = store_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.skew_factor = skew_factor
        # don't thrash the index on a handful of warm-up vectors
        self.min_total_for_refit = min_total_for_refit
        self.seed = seed
        self.max_train_rows = max_train_rows
        self.n_buckets = len(initial_centroids)
        self._initial = initial_centroids
        self.refits = 0  # this process's refit count (observability)
        self._vecs = EpochStore(spark, self._path("vecs"))

    # --- store plumbing ---------------------------------------------------

    def _path(self, *parts: str) -> str:
        return os.path.join(self.store_dir, *parts)

    def _occupancy(self, version: int) -> EpochStore:
        """Per-epoch bucket counts under centroid ``version``."""
        return EpochStore(self.spark, self._path("occupancy", f"version={version}"))

    # --- versioned state ---------------------------------------------------

    def centroids(self) -> tuple[DataFrame, int]:
        """(current centroid relation, version). Bootstraps version 0
        from ``initial_centroids`` on first call."""
        df = read_parquet_or_none(self.spark, self._path("centroids"))
        if df is None:
            boot = self.spark.createDataFrame(
                [(int(i), [float(x) for x in v]) for i, v in self._initial],
                f"centroid_id long, {self.vec_col} array<double>",
            )
            boot.write.mode("overwrite").parquet(
                self._path("centroids", "version=0")
            )
            return boot, 0
        version = int(df.agg(F.max("version")).collect()[0][0])
        return df.filter(F.col("version") == version).drop("version"), version

    def occupancy(self, version: int) -> DataFrame:
        """Per-bucket totals under ``version`` — <= n_buckets rows."""
        occ = self._occupancy(version).read()
        if occ is None:
            return self.spark.createDataFrame([], "bucket long, n_vecs long")
        return _bucket_totals(occ)

    def distortion_trend(self) -> DataFrame:
        """Per-VERSION index distortion over the CURRENT stored corpus
        (``ivf_distortion_trend`` against every centroid generation in
        the store): the longitudinal rot audit that complements the
        instantaneous ``gate()``. A healthy refit shows the newest
        version's ``total_gap_micro`` strictly below its
        predecessors' — pinned in tests/test_ivf_maintenance_stream.py.
        Output: (version, n_vecs, total_gap_micro); cost is one vecs
        scan × a versions-×-buckets broadcast dim."""
        from sarkac_spark.operators.similarity import ivf_distortion_trend

        cents = read_parquet_or_none(self.spark, self._path("centroids"))
        if cents is None:
            cents, _ = self.centroids()  # bootstraps version 0
            cents = cents.withColumn("version", F.lit(0))
        vecs = self._vecs.read()
        if vecs is None:
            return self.spark.createDataFrame(
                [], "version long, n_vecs long, total_gap_micro long"
            )
        return ivf_distortion_trend(
            vecs.drop("epoch"), cents, id_col=self.id_col, vec_col=self.vec_col
        )

    def gate(self, version: int) -> tuple[bool, int]:
        """`ivf_refit_decision`'s rule over the incremental occupancy
        relation: hottest bucket above skew_factor x uniform share, or
        empty buckets. Driver cost: one <= n_buckets-row collect."""
        rows = self.occupancy(version).collect()
        total = sum(r.n_vecs for r in rows)
        if total < self.min_total_for_refit:
            return False, total
        # round-6 on BOTH share and threshold, exactly as the batch twin
        # ivf_refit_decision does: the share via Spark F.round semantics
        # (HALF_UP on the double's shortest decimal repr — Python's
        # round() is half-EVEN and can disagree exactly at the 6-decimal
        # boundary), the threshold via the same Python round() the batch
        # plan bakes into its literal.
        from decimal import ROUND_HALF_UP, Decimal

        raw = max((r.n_vecs / total for r in rows), default=0.0)
        max_share = float(
            Decimal(repr(raw)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
        needs = (
            max_share > round(self.skew_factor / self.n_buckets, 6)
            or len(rows) < self.n_buckets
        )
        return needs, total

    def _bucket_counts(self, vecs: DataFrame, cents: DataFrame) -> DataFrame:
        return (
            assign_buckets(vecs, cents, self.id_col, self.vec_col)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        )

    # --- the trigger -------------------------------------------------------

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        cents, version = self.centroids()
        vecs = batch.select(self.id_col, self.vec_col)
        self._vecs.write(vecs, epoch_id)
        self._occupancy(version).write(self._bucket_counts(vecs, cents), epoch_id)
        needs, _total = self.gate(version)
        if not needs:
            return
        # --- refit: the one corpus-sized step, paid only on rebuild ---
        corpus = self._vecs.read()
        new_cents = refit_ivf_centroids(
            corpus,
            self.n_buckets,
            self.id_col,
            self.vec_col,
            seed=self.seed,
            max_train_rows=self.max_train_rows,
        )
        occupancy = self._occupancy(version + 1)
        # base recount EXCLUDES this epoch (its counts live in its own
        # partition so a post-commit replay overwrites, never double-counts)
        rest = self._vecs.read(exclude_epoch=epoch_id)
        occupancy.write(self._bucket_counts(rest, new_cents), BASE_EPOCH)
        occupancy.write(self._bucket_counts(vecs, new_cents), epoch_id)
        # centroids last — the commit point (see module docstring)
        new_cents.write.mode("overwrite").parquet(
            self._path("centroids", f"version={version + 1}")
        )
        self.refits += 1

    def compact(self, target_partitions: int = 1) -> int:
        """Maintenance fold for a long-running index (the
        ``IncrementalDedupPipeline.compact`` contract: run while the
        stream is STOPPED; ``epoch=-1`` never collides with checkpoint
        epochs): vecs epochs merge into one base partition, the CURRENT
        version's occupancy partitions collapse to one summed base row-
        set, and superseded centroid/occupancy versions are dropped.
        Returns the compacted vector count.
        """
        _, version = self.centroids()
        n = self._vecs.compact(partitions=target_partitions)
        self._occupancy(version).compact(_bucket_totals, partitions=1)
        # superseded centroid and occupancy versions
        for root in (self._path("centroids"), self._path("occupancy")):
            for d, _ in list_dir(self.spark, root):
                if d.startswith("version=") and d != f"version={version}":
                    delete(self.spark, os.path.join(root, d))
        return n

    def start(
        self,
        vec_stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int | None = None,
    ):
        writer = vec_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_seconds is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
