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
