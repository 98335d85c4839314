"""Crash-safe store swap (streaming/storeutil): every intermediate
crash state of compact()'s directory replacement is either complete or
LOUDLY detectable — never silently-empty (the permanent-damage scenario
where a half-compacted dedup store reads as an empty corpus and batches
commit undeduped)."""

from __future__ import annotations

import os

import pytest

from sarkac_spark.streaming.storeutil import (
    HalfSwappedStoreError,
    atomic_swap,
    raise_if_half_swapped,
)


def _mkstore(path, marker):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "data.txt"), "w") as f:
        f.write(marker)


def _marker(path):
    with open(os.path.join(path, "data.txt")) as f:
        return f.read()


def test_atomic_swap_replaces_and_cleans(tmp_path):
    store, tmp = str(tmp_path / "store"), str(tmp_path / "store.compact")
    _mkstore(store, "old")
    _mkstore(tmp, "new")
    atomic_swap(tmp, store)
    assert _marker(store) == "new"
    assert not os.path.exists(tmp)
    assert not os.path.exists(store + ".old")


def test_atomic_swap_first_write_no_existing_store(tmp_path):
    store, tmp = str(tmp_path / "store"), str(tmp_path / "store.compact")
    _mkstore(tmp, "new")
    atomic_swap(tmp, store)
    assert _marker(store) == "new"


def test_half_swap_detected_not_empty(tmp_path):
    # crash between "old moved aside" and "tmp moved in": store missing,
    # .old present — the guard must raise, and a fresh swap must refuse
    # rather than burying the last complete copy.
    store = str(tmp_path / "store")
    _mkstore(store + ".old", "survivor")
    raise_if_half_swapped(str(tmp_path / "unrelated"))  # no-op elsewhere
    with pytest.raises(HalfSwappedStoreError):
        raise_if_half_swapped(store)
    _mkstore(str(tmp_path / "t2"), "new")
    with pytest.raises(HalfSwappedStoreError):
        atomic_swap(str(tmp_path / "t2"), store)
    assert _marker(store + ".old") == "survivor"


def test_stale_old_after_completed_swap_is_garbage_collected(tmp_path):
    # crash between "tmp moved in" and "old deleted": store is whole;
    # the next swap clears the superseded .old and proceeds.
    store = str(tmp_path / "store")
    _mkstore(store, "current")
    _mkstore(store + ".old", "superseded")
    _mkstore(str(tmp_path / "t"), "newer")
    atomic_swap(str(tmp_path / "t"), store)
    assert _marker(store) == "newer"
    assert not os.path.exists(store + ".old")


def test_healthy_missing_store_is_still_quietly_empty(tmp_path):
    # nothing-committed-yet stays the quiet path: no .old, no error
    raise_if_half_swapped(str(tmp_path / "never_written"))


def test_pipeline_read_raises_on_half_swapped_sig_store(spark, tmp_path):
    """End-to-end: a half-swapped signature store must fail the trigger
    loudly instead of being read as an empty corpus."""
    import shutil

    from sarkac_spark.streaming.incremental_dedup import IncrementalDedupPipeline

    store = tmp_path / "store"
    pipe = IncrementalDedupPipeline(spark, str(store), minhash=None)
    pipe.process_batch(
        spark.createDataFrame([(1, "some committed text")], "doc_id long, text string"),
        0,
    )
    # simulate the mid-swap crash on the signature store
    shutil.move(pipe.sig_dir, pipe.sig_dir + ".old")
    with pytest.raises(HalfSwappedStoreError):
        pipe.process_batch(
            spark.createDataFrame([(2, "another text")], "doc_id long, text string"),
            1,
        )


def test_sigma_pipeline_reads_raise_on_half_swapped_dirs(tmp_path):
    """The rescan sigma pipeline rewrites its value store on compaction
    through atomic_swap: a crash mid-swap must fail the next read
    instead of scoring against nothing. The check runs before any Spark
    call."""
    from sarkac_spark.config import DSL
    from sarkac_spark.streaming.pipeline import (
        SigmaStreamConfig,
        SigmaStreamPipeline,
    )

    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"), anomaly_dir=str(tmp_path / "anom")
    )
    pipe = SigmaStreamPipeline(None, DSL.parse({}), cfg)
    _mkstore(cfg.store_dir + ".old", "last store")
    with pytest.raises(HalfSwappedStoreError):
        pipe._read_store()


def _parquet_files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def test_compact_store_refuses_a_store_with_a_stray_dir(spark, tmp_path):
    """A non-epoch directory inside the rescan value store makes the
    store unreadable (conflicting partition layouts). Compaction must
    fail loudly and leave every parquet file where it was, not read the
    broken store as empty and swap an empty store over the real one.
    The twin of test_incremental_stream's corrupt-signature-store case."""
    from sarkac_spark.config import DSL
    from sarkac_spark.sources.synthetic import TOPIC, example_messages
    from sarkac_spark.streaming.pipeline import (
        SigmaStreamConfig,
        SigmaStreamPipeline,
    )

    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"), anomaly_dir=str(tmp_path / "anoms")
    )
    dsl = DSL.parse({TOPIC: {"fields": {"two": {"windows": ["5m"]}}}})
    pipe = SigmaStreamPipeline(spark, dsl, cfg)
    pipe.process_batch(example_messages(spark, n=8), 0)
    spark.range(2).coalesce(1).write.parquet(os.path.join(cfg.store_dir, "stray"))
    before = _parquet_files(cfg.store_dir)
    assert {f.split("/")[0] for f in before} == {"epoch=0", "stray"}

    with pytest.raises(Exception, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        pipe.compact_store()
    assert _parquet_files(cfg.store_dir) == before
    assert not os.path.exists(cfg.store_dir + ".compact")


def _epochs(spark, store, n=3):
    """Epochs 0..n-1 with rows (epoch * 10 + i) for i < epoch + 1."""
    for e in range(n):
        store.write(
            spark.createDataFrame([(e * 10 + i,) for i in range(e + 1)], "v long"), e
        )


def test_epoch_store_missing_store_reads_as_none(spark, tmp_path):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(spark, str(tmp_path / "never_written"))
    assert store.read() is None
    assert EpochStore(spark, store.path, "epoch long, v long").read() is None
    os.makedirs(store.path)  # exists, nothing committed
    assert store.read() is None
    assert store.compact() == 0
    assert os.listdir(store.path) == []


def test_epoch_store_half_swapped_raises_before_any_read(tmp_path):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(None, str(tmp_path / "store"))  # no Spark call reached
    _mkstore(store.path + ".old", "last store")
    with pytest.raises(HalfSwappedStoreError):
        store.read()


def test_epoch_store_conflicting_layout_raises(spark, tmp_path):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(spark, str(tmp_path / "store"))
    _epochs(spark, store, n=1)
    spark.range(1).write.parquet(os.path.join(store.path, "stray"))
    with pytest.raises(Exception, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        store.read()


def test_epoch_store_replay_filters(spark, tmp_path):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(spark, str(tmp_path / "store"))
    _epochs(spark, store)
    # a replayed epoch overwrites its partition instead of appending
    store.write(spark.createDataFrame([(11,), (12,)], "v long"), 1)

    def rows(df):
        return sorted((r.epoch, r.v) for r in df.collect())

    assert rows(store.read()) == [(0, 0), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)]
    assert rows(store.read(exclude_epoch=1)) == [(0, 0), (2, 20), (2, 21), (2, 22)]
    assert rows(store.read(before_epoch=2)) == [(0, 0), (1, 11), (1, 12)]
    assert rows(store.read(before_epoch=0)) == []


def test_epoch_store_fold_round_trips(spark, tmp_path):
    """compact() folds every epoch into the base layer: the fold's rows
    read back under epoch -1, markers survive the swap, the replay
    filters never drop the base layer, and new epochs land beside it."""
    from pyspark.sql import functions as F

    from sarkac_spark.streaming.storeutil import BASE_EPOCH, EpochStore

    store = EpochStore(spark, str(tmp_path / "store"))
    _epochs(spark, store)
    with open(os.path.join(store.path, "_FORMAT"), "w") as f:
        f.write("2")

    n = store.compact(lambda df: df.agg(F.sum("v").alias("v")), partitions=3)
    assert n == 1
    assert [(r.epoch, r.v) for r in store.read().collect()] == [(BASE_EPOCH, 84)]
    assert sorted(os.listdir(store.path)) == ["_FORMAT", f"epoch={BASE_EPOCH}"]
    assert not os.path.exists(store.path + ".compact")
    assert not os.path.exists(store.path + ".old")
    assert store.read(exclude_epoch=0).count() == 1

    store.write(spark.createDataFrame([(5,)], "v long"), 3)
    assert store.compact() == 2  # identity fold, auto-sized
    assert sorted(r.v for r in store.read().collect()) == [5, 84]
    assert {r.epoch for r in store.read().collect()} == {BASE_EPOCH}
    with open(os.path.join(store.path, "_FORMAT")) as f:
        assert f.read() == "2"
