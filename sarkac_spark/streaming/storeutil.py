"""The per-epoch parquet store: the one module that knows its layout.

Every streaming pipeline here persists through the same replay-safe
store — Structured Streaming's exactly-once recipe (a replayable source
plus an idempotent sink) applied to plain partitioned parquet that any
batch job can read. ``EpochStore`` owns its rules:

- **Per-epoch overwrite.** Epoch N's rows land in ``<store>/epoch=N``,
  written with mode overwrite: ``foreachBatch`` is at-least-once, and a
  replayed epoch rewrites its own partition instead of appending
  duplicates that every later read would double-count.
- **Replay-safe reads.** A read that feeds epoch N's verdict leaves out
  ``epoch=N`` (``exclude_epoch``) or every epoch from N on
  (``before_epoch``), so a replay recomputes exactly what the first
  attempt computed instead of deduping/cooling against its own
  half-committed rows. Both are partition-pruned filters.
- **One empty-store rule.** Only "nothing committed yet" reads as empty
  (``None``): the Spark error classes ``PATH_NOT_FOUND`` and
  ``UNABLE_TO_INFER_SCHEMA`` (an existing dir with no parquet in it).
  Every other failure — a corrupt footer, a stray non-epoch directory
  (``CONFLICTING_DIRECTORY_STRUCTURES``), permissions, a transient FS
  error — propagates: a broken store read as empty commits a batch
  undeduped, scores it against nothing, or compacts the store away,
  and the damage is permanent (a replay rewrites only its own epoch).
  The read attempt IS the existence probe, so a store may live on any
  filesystem the session's Hadoop conf reaches.
- **Fold to a base layer.** ``compact`` reads every committed epoch,
  applies the caller's reduce step, writes one ``epoch=-1`` partition
  (``BASE_EPOCH``: never a checkpoint epoch id, and never excluded by
  the replay filters) sized at ~250k rows per file, and swaps it in with
  ``atomic_swap``. Run it while the stream is STOPPED: foreachBatch can
  only replay its last uncommitted epoch, and a fold must never absorb
  an epoch that could still replay. Store-level marker files
  (underscore-prefixed, invisible to Spark, like a signature store's
  ``_FORMAT``) ride into the folded copy before the swap, so the swap
  is atomic including them.
- **Crash-safe swap.** A naive ``rmtree(store); move(tmp, store)`` has a
  window where a crash leaves NO store — which then reads as the quiet
  nothing-committed-yet state. ``atomic_swap`` moves the old store
  ASIDE first (``store + ".old"``), moves the new data in, and only then
  deletes the old copy; every intermediate crash state is either
  complete or detectable. ``raise_if_half_swapped`` is the detector:
  every store read calls it first (one local stat, a no-op for remote
  paths), so a store that is missing while ``store.old`` exists fails
  loudly instead of reading as empty.

Users: ``SigmaStreamPipeline`` (value store and anomaly sink — the sink
is also its cooldown state), ``IncrementalDedupPipeline`` (text and
signature stores), ``StreamingCuratorPipeline`` and
``StatefulDedupPipeline`` (text, quota and funnel stores),
``IvfMaintenancePipeline`` (vecs, and occupancy under its own
``version=K`` nesting) and ``StreamingSessionPipeline`` (finalized
sessions).

The swap uses local-filesystem renames (shutil). On an object store,
run the same rewrite as a batch job with a rename-capable committer.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

# the base layer a fold writes: below every checkpoint epoch id
BASE_EPOCH = -1
# auto-sized folds write at most this many rows per file: folding a
# large store to one file serializes every later scan of it to a couple
# of parquet-split tasks (measured: the curator's 100x decade point
# spent most of its per-trigger growth re-reading a single-file 1.1 GB
# signature store)
ROWS_PER_FILE = 250_000
# AnalysisException classes that mean "nothing committed yet" — the
# ONLY quiet read path
_EMPTY_STORE_CLASSES = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


class HalfSwappedStoreError(RuntimeError):
    """A store directory swap crashed between 'old moved aside' and
    'new moved in': the store path is unreadable but ``<store>.old``
    holds the last complete copy. Recover by moving ``<store>.old``
    back to ``<store>`` (and deleting any leftover ``<store>.compact``
    temp), then re-running the compaction."""


def _old_path(store: str) -> str:
    return store.rstrip("/") + ".old"


def atomic_swap(tmp: str, store: str) -> None:
    """Replace ``store`` with ``tmp`` without any crash window in which
    the store reads as empty-but-healthy.

    Order: (1) old store aside to ``store.old``; (2) ``tmp`` into
    place; (3) delete ``store.old``. A crash after (1) leaves
    ``store.old`` behind, which ``raise_if_half_swapped`` turns into a
    loud error on the next read; a crash after (2) leaves only a stale
    ``.old`` dir that the next swap (or a re-run) cleans up, with the
    store itself already complete and readable.
    """
    old = _old_path(store)
    if os.path.exists(old):
        if os.path.exists(store):
            # prior swap completed steps 1-2 but died before 3: the
            # store is whole; the .old copy is superseded garbage.
            shutil.rmtree(old)
        else:
            raise HalfSwappedStoreError(
                f"store swap previously crashed mid-flight: {store!r} is "
                f"missing but {old!r} exists; move {old!r} back to "
                f"{store!r} before compacting"
            )
    if os.path.exists(store):
        shutil.move(store, old)
    try:
        shutil.move(tmp, store)
    except BaseException:
        # tmp could not land: restore the old store so readers never
        # see the missing-store state from a still-running process.
        if not os.path.exists(store) and os.path.exists(old):
            shutil.move(old, store)
        raise
    if os.path.exists(old):
        shutil.rmtree(old)


def raise_if_half_swapped(store: str) -> None:
    """Loud-failure guard: a missing store is only legitimately empty
    when no ``store.old`` remnant exists."""
    if os.path.exists(_old_path(store)) and not os.path.exists(store):
        raise HalfSwappedStoreError(
            f"refusing to treat {store!r} as an empty store: "
            f"{_old_path(store)!r} exists, so a compaction swap crashed "
            f"mid-flight; restore it by moving the .old dir back"
        )


def is_empty_store_error(e: AnalysisException) -> bool:
    """Whether a failed store read means "nothing committed yet"."""
    cls = e.getCondition() if hasattr(e, "getCondition") else None
    if cls is None and hasattr(e, "getErrorClass"):
        cls = e.getErrorClass()
    if cls in _EMPTY_STORE_CLASSES:
        return True
    msg = str(e)
    return "Path does not exist" in msg or "Unable to infer schema" in msg


def read_parquet_or_none(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """The parquet dir at ``path``, partition columns discovered below
    it, or None when nothing is committed there yet (the module's one
    empty-store rule). ``schema`` (partition columns included) skips
    footer inference."""
    raise_if_half_swapped(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.option("basePath", path).parquet(path)
    except AnalysisException as e:
        if is_empty_store_error(e):
            return None
        raise


class EpochStore:
    """One per-epoch parquet store at ``path`` (see the module
    docstring for its rules). ``schema`` is what reads ask for,
    ``epoch long`` included; None infers it from the files."""

    def __init__(
        self, spark: SparkSession, path: str, schema: str | None = None
    ) -> None:
        self.spark = spark
        self.path = path
        self.schema = schema

    def write(
        self, df: DataFrame, epoch_id: int, partition_by: Sequence[str] = ()
    ) -> None:
        """Overwrite epoch ``epoch_id``'s partition with ``df``."""
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.path, f"epoch={epoch_id}"))

    def read(
        self, exclude_epoch: int | None = None, before_epoch: int | None = None
    ) -> DataFrame | None:
        """Committed rows with their ``epoch`` column, or None when
        nothing is committed yet. ``exclude_epoch`` leaves out that
        epoch's partition; ``before_epoch`` keeps only earlier ones."""
        df = read_parquet_or_none(self.spark, self.path, self.schema)
        if df is None:
            return None
        if exclude_epoch is not None:
            df = df.filter(F.col("epoch") != exclude_epoch)
        if before_epoch is not None:
            df = df.filter(F.col("epoch") < before_epoch)
        return df

    def compact(
        self,
        fold: Callable[[DataFrame], DataFrame] | None = None,
        partitions: int | None = None,
        partition_by: Sequence[str] = (),
    ) -> int:
        """Fold every committed epoch into the ``BASE_EPOCH`` layer and
        swap it in. ``fold`` reduces the rows (epoch column dropped);
        ``partitions=None`` auto-sizes the layer at ``ROWS_PER_FILE``,
        an int is clamped to >= 1. Run while the stream is STOPPED.
        Returns the folded row count (0 for an empty store, which is
        left as it is)."""
        df = self.read()
        if df is None:
            return 0
        folded = df.drop("epoch")
        if fold is not None:
            folded = fold(folded)
        n = folded.count()
        # ceil: ROWS_PER_FILE is an upper bound per file
        parts = max(1, -(-n // ROWS_PER_FILE) if partitions is None else int(partitions))
        tmp = self.path.rstrip("/") + ".compact"
        EpochStore(self.spark, tmp).write(
            folded.repartition(parts), BASE_EPOCH, partition_by
        )
        if os.path.isdir(self.path):
            for name in os.listdir(self.path):
                src = os.path.join(self.path, name)
                if name.startswith("_") and os.path.isfile(src):
                    shutil.copy2(src, tmp)
        atomic_swap(tmp, self.path)
        return n

    def clear(self) -> None:
        """Delete every committed epoch (the reference's truncate)."""
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
