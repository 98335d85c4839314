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
  (``None``): a missing store path (one ``exists`` probe, no read
  attempted) or an existing dir with no parquet in it (the Spark error
  class ``UNABLE_TO_INFER_SCHEMA``; ``PATH_NOT_FOUND`` too, for a store
  cleared between the probe and the read). Every other failure — a corrupt footer, a stray non-epoch directory
  (``CONFLICTING_DIRECTORY_STRUCTURES``), permissions, a transient FS
  error — propagates: a broken store read as empty commits a batch
  undeduped, scores it against nothing, or compacts the store away,
  and the damage is permanent (a replay rewrites only its own epoch).
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
- **Crash-safe swap.** A naive ``delete(store); rename(tmp, store)`` has
  a window where a crash leaves NO store — which then reads as the quiet
  nothing-committed-yet state. ``atomic_swap`` moves the old store
  ASIDE first (``store + ".old"``), moves the new data in, and only then
  deletes the old copy; every intermediate crash state is either
  complete or detectable. ``raise_if_half_swapped`` is the detector:
  a store read that finds no store checks for ``store.old`` before it
  answers "nothing committed", so a crashed swap fails loudly instead of
  reading as empty.
- **One filesystem path.** Every driver-side file operation on a store
  or checkpoint — existence, listing, delete, rename, small marker
  files — goes through the session's Hadoop ``FileSystem`` here, so
  the housekeeping works on every path Spark itself can read and write
  (local, ``file://``, HDFS, object stores). No other streaming module
  touches store files directly. The swap is atomic only where a
  directory rename is (local, HDFS); on an object store rename is a
  copy, so run the fold as a batch job with a rename-capable committer
  there.

Users: ``SigmaStreamPipeline`` (value store and anomaly sink — the sink
is also its cooldown state), ``IncrementalDedupPipeline`` (text and
signature stores, and the ``_FORMAT`` marker), ``StreamingCuratorPipeline``
and ``StatefulDedupPipeline`` (text, quota and funnel stores; the latter's
bootstrap guards and checkpoint schema peek), ``IvfMaintenancePipeline``
(vecs, and occupancy under its own ``version=K`` nesting, whose
superseded versions it deletes) and ``StreamingSessionPipeline``
(finalized sessions).
"""

from __future__ import annotations

import functools
import os
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


# --- the driver's one filesystem path ---------------------------------------


@functools.cache
def _hadoop_classes(jvm):
    # a py4j package walk costs ~1.5 ms; the gateway outlives sessions
    fs = jvm.org.apache.hadoop.fs
    return fs.Path, fs.ChecksumFileSystem._java_lang_class


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf.
    A checksummed FS (Hadoop's ``file:`` FS) is unwrapped to its raw
    FS: its client-side ``.<name>.crc`` sidecars would add files to a
    store dir that no other writer of it makes, and a stale one fails
    the next read of a marker another writer rewrote."""
    path_cls, checksummed = _hadoop_classes(spark._jvm)
    hpath = path_cls(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if checksummed.isInstance(fs):
        fs = fs.getRawFileSystem()
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def list_dir(spark: SparkSession, path: str) -> list[tuple[str, bool]]:
    """``(name, is_dir)`` for each entry of ``path``; ``[]`` when it is
    missing (a plain file lists as itself)."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [
        (st.getPath().getName(), bool(st.isDirectory()))
        for st in fs.listStatus(hpath)
    ]


def delete(spark: SparkSession, path: str) -> None:
    """Delete ``path`` recursively; a missing path is a no-op."""
    fs, hpath = _fs(spark, path)
    fs.delete(hpath, True)


def _rename(spark: SparkSession, src: str, dst: str) -> None:
    fs, hsrc = _fs(spark, src)
    if not fs.rename(hsrc, _fs(spark, dst)[1]):
        raise OSError(f"could not rename {src!r} to {dst!r}")


def read_bytes(spark: SparkSession, path: str) -> bytes | None:
    """A small file's contents, or None when it does not exist."""
    fs, hpath = _fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create or overwrite a small file (parent dirs included)."""
    fs, hpath = _fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


# --- the store ---------------------------------------------------------------


class HalfSwappedStoreError(RuntimeError):
    """A store directory swap crashed between 'old moved aside' and
    'new moved in': the store path is unreadable but ``<store>.old``
    holds the last complete copy. Recover by moving ``<store>.old``
    back to ``<store>`` (and deleting any leftover ``<store>.compact``
    temp), then re-running the compaction."""


def _old_path(store: str) -> str:
    return store.rstrip("/") + ".old"


def atomic_swap(spark: SparkSession, tmp: str, store: str) -> None:
    """Replace ``store`` with ``tmp`` without any crash window in which
    the store reads as empty-but-healthy.

    Order: (1) old store aside to ``store.old``; (2) ``tmp`` into
    place; (3) delete ``store.old``. A crash after (1) leaves
    ``store.old`` behind, which ``raise_if_half_swapped`` turns into a
    loud error on the next read; a crash after (2) leaves only a stale
    ``.old`` dir that the next swap (or a re-run) cleans up, with the
    store itself already complete and readable. Each step is one
    directory rename, so the swap is atomic only where rename is
    (local, HDFS): on an object store rename is a copy, and a crash
    mid-copy leaves a partial directory.
    """
    old = _old_path(store)
    if exists(spark, old):
        if exists(spark, store):
            # prior swap completed steps 1-2 but died before 3: the
            # store is whole; the .old copy is superseded garbage.
            delete(spark, old)
        else:
            raise HalfSwappedStoreError(
                f"store swap previously crashed mid-flight: {store!r} is "
                f"missing but {old!r} exists; move {old!r} back to "
                f"{store!r} before compacting"
            )
    if exists(spark, store):
        _rename(spark, store, old)
    try:
        _rename(spark, tmp, store)
    except BaseException:
        # tmp could not land: restore the old store so readers never
        # see the missing-store state from a still-running process.
        if not exists(spark, store) and exists(spark, old):
            _rename(spark, old, store)
        raise
    delete(spark, old)


def raise_if_half_swapped(spark: SparkSession, store: str) -> None:
    """Loud-failure guard: a missing store is only legitimately empty
    when no ``store.old`` remnant exists."""
    if exists(spark, _old_path(store)) and not exists(spark, store):
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
    footer inference. An existing store costs one ``exists`` probe
    before the read; a missing one is checked for a crashed swap and
    never read."""
    if not exists(spark, path):
        raise_if_half_swapped(spark, path)
        return None
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
        for name, is_dir in list_dir(self.spark, self.path):
            if name.startswith("_") and not is_dir:
                data = read_bytes(self.spark, os.path.join(self.path, name))
                write_bytes(self.spark, os.path.join(tmp, name), data)
        atomic_swap(self.spark, tmp, self.path)
        return n

    def clear(self) -> None:
        """Delete every committed epoch (the reference's truncate)."""
        delete(self.spark, self.path)
