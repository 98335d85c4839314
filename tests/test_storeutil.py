"""Crash-safe store swap (streaming/storeutil): every intermediate
crash state of compact()'s directory replacement is either complete or
LOUDLY detectable — never silently-empty (the permanent-damage scenario
where a half-compacted dedup store reads as an empty corpus and batches
commit undeduped).

Every case that takes ``uri`` runs twice: over plain paths, and with
each path the store code sees given as the ``file://`` URI of the same
directory (``test_store_case_on_file_uri``), so the housekeeping is
pinned on the session's Hadoop FileSystem and not on local-only calls.
Local assertions always inspect the plain directory."""

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


def _p(path, uri):
    """``path`` as the store code sees it: plain, or its file:// URI."""
    return "file://" + str(path) if uri else str(path)


def test_atomic_swap_replaces_and_cleans(spark, tmp_path, uri=False):
    store, tmp = str(tmp_path / "store"), str(tmp_path / "store.compact")
    _mkstore(store, "old")
    _mkstore(tmp, "new")
    atomic_swap(spark, _p(tmp, uri), _p(store, uri))
    assert _marker(store) == "new"
    assert not os.path.exists(tmp)
    assert not os.path.exists(store + ".old")


def test_atomic_swap_first_write_no_existing_store(spark, tmp_path, uri=False):
    store, tmp = str(tmp_path / "store"), str(tmp_path / "store.compact")
    _mkstore(tmp, "new")
    atomic_swap(spark, _p(tmp, uri), _p(store, uri))
    assert _marker(store) == "new"


def test_half_swap_detected_not_empty(spark, tmp_path, uri=False):
    # crash between "old moved aside" and "tmp moved in": store missing,
    # .old present — the guard must raise, and a fresh swap must refuse
    # rather than burying the last complete copy.
    store = str(tmp_path / "store")
    _mkstore(store + ".old", "survivor")
    raise_if_half_swapped(spark, _p(tmp_path / "unrelated", uri))  # no-op elsewhere
    with pytest.raises(HalfSwappedStoreError):
        raise_if_half_swapped(spark, _p(store, uri))
    _mkstore(str(tmp_path / "t2"), "new")
    with pytest.raises(HalfSwappedStoreError):
        atomic_swap(spark, _p(tmp_path / "t2", uri), _p(store, uri))
    assert _marker(store + ".old") == "survivor"


def test_stale_old_after_completed_swap_is_garbage_collected(
    spark, tmp_path, uri=False
):
    # crash between "tmp moved in" and "old deleted": store is whole;
    # the next swap clears the superseded .old and proceeds.
    store = str(tmp_path / "store")
    _mkstore(store, "current")
    _mkstore(store + ".old", "superseded")
    _mkstore(str(tmp_path / "t"), "newer")
    atomic_swap(spark, _p(tmp_path / "t", uri), _p(store, uri))
    assert _marker(store) == "newer"
    assert not os.path.exists(store + ".old")


def test_healthy_missing_store_is_still_quietly_empty(spark, tmp_path, uri=False):
    # nothing-committed-yet stays the quiet path: no .old, no error
    raise_if_half_swapped(spark, _p(tmp_path / "never_written", uri))


def test_pipeline_read_raises_on_half_swapped_sig_store(spark, tmp_path, uri=False):
    """End-to-end: a half-swapped signature store must fail the trigger
    loudly instead of being read as an empty corpus."""
    import shutil

    from sarkac_spark.streaming.incremental_dedup import IncrementalDedupPipeline

    store = tmp_path / "store"
    pipe = IncrementalDedupPipeline(spark, _p(store, uri), minhash=None)
    pipe.process_batch(
        spark.createDataFrame([(1, "some committed text")], "doc_id long, text string"),
        0,
    )
    # simulate the mid-swap crash on the signature store
    sig_dir = str(store) + "_sigs"
    shutil.move(sig_dir, sig_dir + ".old")
    with pytest.raises(HalfSwappedStoreError):
        pipe.process_batch(
            spark.createDataFrame([(2, "another text")], "doc_id long, text string"),
            1,
        )


def test_sigma_pipeline_reads_raise_on_half_swapped_dirs(spark, tmp_path, uri=False):
    """The rescan sigma pipeline rewrites its value store on compaction
    through atomic_swap: a crash mid-swap must fail the next read
    instead of scoring against nothing. The check runs before any Spark
    job."""
    from sarkac_spark.config import DSL
    from sarkac_spark.streaming.pipeline import (
        SigmaStreamConfig,
        SigmaStreamPipeline,
    )

    cfg = SigmaStreamConfig(
        store_dir=_p(tmp_path / "store", uri), anomaly_dir=_p(tmp_path / "anom", uri)
    )
    pipe = SigmaStreamPipeline(spark, DSL.parse({}), cfg)
    _mkstore(str(tmp_path / "store.old"), "last store")
    with pytest.raises(HalfSwappedStoreError):
        pipe._read_store()


def _parquet_files(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def test_compact_store_refuses_a_store_with_a_stray_dir(spark, tmp_path, uri=False):
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

    store_dir = str(tmp_path / "store")
    cfg = SigmaStreamConfig(
        store_dir=_p(store_dir, uri), anomaly_dir=_p(tmp_path / "anoms", uri)
    )
    dsl = DSL.parse({TOPIC: {"fields": {"two": {"windows": ["5m"]}}}})
    pipe = SigmaStreamPipeline(spark, dsl, cfg)
    pipe.process_batch(example_messages(spark, n=8), 0)
    spark.range(2).coalesce(1).write.parquet(os.path.join(store_dir, "stray"))
    before = _parquet_files(store_dir)
    assert {f.split("/")[0] for f in before} == {"epoch=0", "stray"}

    with pytest.raises(Exception, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        pipe.compact_store()
    assert _parquet_files(store_dir) == before
    assert not os.path.exists(store_dir + ".compact")


def _epochs(spark, store, n=3):
    """Epochs 0..n-1 with rows (epoch * 10 + i) for i < epoch + 1."""
    for e in range(n):
        store.write(
            spark.createDataFrame([(e * 10 + i,) for i in range(e + 1)], "v long"), e
        )


def test_epoch_store_missing_store_reads_as_none(spark, tmp_path, uri=False):
    from sarkac_spark.streaming.storeutil import EpochStore

    path = str(tmp_path / "never_written")
    store = EpochStore(spark, _p(path, uri))
    assert store.read() is None
    assert EpochStore(spark, store.path, "epoch long, v long").read() is None
    os.makedirs(path)  # exists, nothing committed
    assert store.read() is None
    assert store.compact() == 0
    assert os.listdir(path) == []


def test_epoch_store_half_swapped_raises_before_any_read(spark, tmp_path, uri=False):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(spark, _p(tmp_path / "store", uri))  # no Spark job reached
    _mkstore(str(tmp_path / "store.old"), "last store")
    with pytest.raises(HalfSwappedStoreError):
        store.read()


def test_epoch_store_conflicting_layout_raises(spark, tmp_path, uri=False):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(spark, _p(tmp_path / "store", uri))
    _epochs(spark, store, n=1)
    spark.range(1).write.parquet(os.path.join(store.path, "stray"))
    with pytest.raises(Exception, match="CONFLICTING_DIRECTORY_STRUCTURES"):
        store.read()


def test_epoch_store_replay_filters(spark, tmp_path, uri=False):
    from sarkac_spark.streaming.storeutil import EpochStore

    store = EpochStore(spark, _p(tmp_path / "store", uri))
    _epochs(spark, store)
    # a replayed epoch overwrites its partition instead of appending
    store.write(spark.createDataFrame([(11,), (12,)], "v long"), 1)

    def rows(df):
        return sorted((r.epoch, r.v) for r in df.collect())

    assert rows(store.read()) == [(0, 0), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)]
    assert rows(store.read(exclude_epoch=1)) == [(0, 0), (2, 20), (2, 21), (2, 22)]
    assert rows(store.read(before_epoch=2)) == [(0, 0), (1, 11), (1, 12)]
    assert rows(store.read(before_epoch=0)) == []


def test_epoch_store_fold_round_trips(spark, tmp_path, uri=False):
    """compact() folds every epoch into the base layer: the fold's rows
    read back under epoch -1, markers survive the swap, the replay
    filters never drop the base layer, and new epochs land beside it."""
    from pyspark.sql import functions as F

    from sarkac_spark.streaming.storeutil import BASE_EPOCH, EpochStore

    path = str(tmp_path / "store")
    store = EpochStore(spark, _p(path, uri))
    _epochs(spark, store)
    with open(os.path.join(path, "_FORMAT"), "w") as f:
        f.write("2")

    n = store.compact(lambda df: df.agg(F.sum("v").alias("v")), partitions=3)
    assert n == 1
    assert [(r.epoch, r.v) for r in store.read().collect()] == [(BASE_EPOCH, 84)]
    assert sorted(os.listdir(path)) == ["_FORMAT", f"epoch={BASE_EPOCH}"]
    assert not os.path.exists(path + ".compact")
    assert not os.path.exists(path + ".old")
    assert store.read(exclude_epoch=0).count() == 1

    store.write(spark.createDataFrame([(5,)], "v long"), 3)
    assert store.compact() == 2  # identity fold, auto-sized
    assert sorted(r.v for r in store.read().collect()) == [5, 84]
    assert {r.epoch for r in store.read().collect()} == {BASE_EPOCH}
    with open(os.path.join(path, "_FORMAT")) as f:
        assert f.read() == "2"


def test_epoch_store_clear_empties_the_store(spark, tmp_path, uri=False):
    """clear() is the reference's truncate: every committed epoch goes."""
    from sarkac_spark.streaming.storeutil import EpochStore

    path = str(tmp_path / "store")
    store = EpochStore(spark, _p(path, uri))
    _epochs(spark, store)
    assert store.read().count() == 6
    store.clear()
    assert not os.path.exists(path)
    assert store.read() is None
    store.clear()  # clearing an empty store is a no-op


def test_sig_store_format_marker(spark, tmp_path, uri=False):
    """The signature store's _FORMAT guard runs on every filesystem: a
    wrong marker fails the next trigger, and a marker written with plain
    file I/O (as older builds wrote it) passes the check."""
    from sarkac_spark.streaming.incremental_dedup import IncrementalDedupPipeline

    store = tmp_path / "store"
    pipe = IncrementalDedupPipeline(spark, _p(store, uri), minhash=None)
    schema = "doc_id long, text string"
    pipe.process_batch(spark.createDataFrame([(1, "committed text")], schema), 0)
    marker = os.path.join(str(store) + "_sigs", "_FORMAT")
    with open(marker) as f:
        assert f.read() == "2"

    with open(marker, "w") as f:
        f.write("1")
    with pytest.raises(RuntimeError, match="format"):
        pipe.process_batch(spark.createDataFrame([(2, "other text")], schema), 1)

    with open(marker, "w") as f:
        f.write("2\n")
    pipe.process_batch(spark.createDataFrame([(2, "other text")], schema), 1)
    assert sorted(r.doc_id for r in pipe.committed().collect()) == [1, 2]


def test_ivf_compact_drops_superseded_versions(spark, tmp_path, uri=False):
    """IVF compact() folds the vecs and deletes every centroid and
    occupancy version but the current one."""
    from sarkac_spark.streaming.ivf_maintenance import IvfMaintenancePipeline

    root = tmp_path / "ivf"
    pipe = IvfMaintenancePipeline(
        spark, _p(root, uri), [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.1]), (2, [0.1, 1.0])], "vec_id long, embedding array<double>"
    )
    pipe.process_batch(vecs, 0)  # version 0: centroids and occupancy
    # a refit's commit point: the next centroid version lands beside it
    pipe.centroids()[0].write.parquet(_p(root / "centroids" / "version=1", uri))
    assert pipe.compact() == 2
    assert os.listdir(root / "centroids") == ["version=1"]
    assert os.listdir(root / "occupancy") == []
    assert pipe.centroids()[1] == 1


_URI_CASES = [
    test_atomic_swap_replaces_and_cleans,
    test_atomic_swap_first_write_no_existing_store,
    test_half_swap_detected_not_empty,
    test_stale_old_after_completed_swap_is_garbage_collected,
    test_healthy_missing_store_is_still_quietly_empty,
    test_pipeline_read_raises_on_half_swapped_sig_store,
    test_sigma_pipeline_reads_raise_on_half_swapped_dirs,
    test_compact_store_refuses_a_store_with_a_stray_dir,
    test_epoch_store_missing_store_reads_as_none,
    test_epoch_store_half_swapped_raises_before_any_read,
    test_epoch_store_conflicting_layout_raises,
    test_epoch_store_replay_filters,
    test_epoch_store_fold_round_trips,
    test_epoch_store_clear_empties_the_store,
    test_sig_store_format_marker,
    test_ivf_compact_drops_superseded_versions,
]


@pytest.mark.parametrize("case", _URI_CASES, ids=lambda f: f.__name__[5:])
def test_store_case_on_file_uri(case, spark, tmp_path):
    case(spark, tmp_path, uri=True)


def test_only_storeutil_touches_store_files():
    """Driver-side store and checkpoint file operations go through
    storeutil's Hadoop FileSystem helpers. A local-only call (shutil,
    os.path.exists/isdir/isfile, os.listdir, builtin open) anywhere
    else in sarkac_spark/streaming fails or silently skips on any
    non-local path, file:// URIs included."""
    import ast
    from pathlib import Path

    banned = {"os.path.exists", "os.path.isdir", "os.path.isfile", "os.listdir", "open"}
    root = Path(__file__).resolve().parent.parent / "sarkac_spark" / "streaming"
    hits = []
    for src in sorted(root.glob("*.py")):
        if src.name == "storeutil.py":
            continue
        for node in ast.walk(ast.parse(src.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
                names += [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Call):
                names = [ast.unparse(node.func)]
            else:
                continue
            for name in names:
                if name.split(".")[0] == "shutil" or name in banned:
                    hits.append(f"{src.name}:{node.lineno}: {name}")
    assert hits == []
