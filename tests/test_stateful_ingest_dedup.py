"""StatefulDedupPipeline: the keyed-state (O(batch)/trigger) ingest
dedup engine — row-local signatures match the batch signer bit-for-bit,
the engine matches the parquet arm on chain-free corpora, the seen-vs-
committed chain divergence is pinned as the documented contract, state
survives kill-resume, and the quota stage shares the curator's
admission rule."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sarkac_spark.streaming.stateful_ingest_dedup import (
    _pack_state,
    _seed_members,
    _unpack_state,
    _verify_batch,
)

# Two tiers in this file: the pure verify/seed core tests run in the
# fast tier (no Spark session); every Spark test is marked ``slow``
# (real streaming queries / subprocess sessions — minutes each) and is
# included by the full run (pytest -m "slow or not slow").

SCHEMA = "doc_id long, text string, source string"
MH = {"k": 16, "bands": 8, "threshold": 0.5}

_W = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform "
    "victor whiskey xray yankee zulu"
).split()


def _txt(lo: int, hi: int) -> str:
    return " ".join(_W[lo:hi])


# the deterministic near-dup chain (fixed hash constants => fixed
# verdicts): J(A,B)=0.54, J(B,C)=0.54, J(A,C)=0.25 — all with band
# collisions under k=16/bands=8, so A~B and B~C pair while A-C is
# killed by the Jaccard verify
CHAIN_A = _txt(0, 12)
CHAIN_B = _txt(3, 15)
CHAIN_C = _txt(6, 18)

GOOD_1 = "the quick brown fox and the lazy dog ran over twelve quiet hills"
GOOD_2 = "spark shuffles the data between stages and it regroups all the rows by key"
GOOD_2_NEAR = (
    "spark shuffles the data between stages and it regroups all the rows by keys"
)
GOOD_3 = "broadcast joins avoid the shuffle when one side fits in the executor memory"
GOOD_4 = "partition pruning skips the files whose min max range excludes the predicate"


def _write_epochs(spark, src, epochs):
    src.mkdir(parents=True, exist_ok=True)
    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i:03d}"))


def _run(spark, tmp_path, epochs, tag="s", **pipe_kw):
    from sarkac_spark.streaming.stateful_ingest_dedup import StatefulDedupPipeline

    src = tmp_path / f"src_{tag}"
    _write_epochs(spark, src, epochs)
    pipe = StatefulDedupPipeline(spark, str(tmp_path / f"store_{tag}"), **pipe_kw)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = pipe.start(stream, str(tmp_path / f"ckpt_{tag}"))
    q.awaitTermination(300)
    return pipe


@pytest.mark.slow
def test_row_signatures_match_dedup_signatures(spark):
    """The stream-legal per-row signer == the batch groupBy signer on
    every column, including the empty/short-doc guards and the
    max_sh_set bottom-k cap."""
    from sarkac_spark.operators.dedup import dedup_signatures, row_signatures

    rows = [
        (1, GOOD_1), (2, GOOD_2), (3, "too short"), (4, ""),
        (5, GOOD_1), (6, "one two three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = dedup_signatures(df, "doc_id", "text").orderBy("doc_id").collect()
    b = (
        row_signatures(df, "doc_id", "text")
        .select("doc_id", "text_hash", "band_keys", "sh_set")
        .orderBy("doc_id")
        .collect()
    )
    for ra, rb in zip(a, b):
        assert ra.text_hash == rb.text_hash
        assert ra.band_keys == rb.band_keys
        assert sorted(ra.sh_set) == sorted(rb.sh_set)
    a = dedup_signatures(df, "doc_id", "text", max_sh_set=4).orderBy("doc_id").collect()
    b = row_signatures(df, "doc_id", "text", max_sh_set=4).orderBy("doc_id").collect()
    for ra, rb in zip(a, b):
        assert list(ra.sh_set) == list(rb.sh_set)


@pytest.mark.slow
def test_stateful_matches_parquet_arm_on_chain_free_corpus(spark, tmp_path):
    """On a chain-free corpus (pairwise dups only) the keyed-state
    engine commits EXACTLY the parquet arm's survivor set, across
    epochs: exact dup (5~1), near dup (6~2), short docs kept."""
    from sarkac_spark.streaming.incremental_dedup import IncrementalDedupPipeline

    epochs = [
        [(1, GOOD_1, "web"), (2, GOOD_2, "web"), (3, "too short here", "web")],
        [(5, GOOD_1, "blog"), (6, GOOD_2_NEAR, "web"), (7, GOOD_3, "web")],
        [(9, GOOD_4, "news"), (10, "too short here", "news")],
    ]
    pipe = _run(spark, tmp_path, epochs, tag="cf", minhash=dict(MH))
    got = {r.doc_id for r in pipe.committed().collect()}

    ref = IncrementalDedupPipeline(
        spark, str(tmp_path / "ref_store"), minhash=dict(MH)
    )
    for i, rows in enumerate(epochs):
        ref.process_batch(
            spark.createDataFrame(rows, SCHEMA).select("doc_id", "text"), i
        )
    want = {r.doc_id for r in ref.committed().collect()}
    assert got == want == {1, 2, 3, 7, 9}  # 10 is an exact dup of 3

    funnel = {
        r.stage: r.n
        for r in pipe.funnel().groupBy("stage").agg(F.sum("n_docs").alias("n")).collect()
    }
    assert funnel == {"input": 8, "dedup": 5}


@pytest.mark.slow
def test_chain_divergence_is_the_documented_contract(spark, tmp_path):
    """A committed, B dropped (~A), C ~B-but-not-~A: the parquet arm
    keeps C (committed-corpus membership), the keyed-state engine drops
    C (seen-corpus membership). Both behaviors pinned."""
    from sarkac_spark.streaming.incremental_dedup import IncrementalDedupPipeline

    epochs = [
        [(1, CHAIN_A, "web")],
        [(2, CHAIN_B, "web")],
        [(3, CHAIN_C, "web")],
    ]
    pipe = _run(spark, tmp_path, epochs, tag="ch", minhash=dict(MH))
    assert {r.doc_id for r in pipe.committed().collect()} == {1}

    ref = IncrementalDedupPipeline(spark, str(tmp_path / "ref_ch"), minhash=dict(MH))
    for i, rows in enumerate(epochs):
        ref.process_batch(
            spark.createDataFrame(rows, SCHEMA).select("doc_id", "text"), i
        )
    assert {r.doc_id for r in ref.committed().collect()} == {1, 3}


@pytest.mark.slow
def test_within_batch_rule_lower_id_mate_wins(spark, tmp_path):
    """One batch holding an exact pair and a near pair: the lower id of
    each pair survives — the incremental_minhash_drop_ids within-batch
    rule, arrival-order-free."""
    epochs = [[
        (4, GOOD_2_NEAR, "web"), (2, GOOD_2, "web"),
        (7, GOOD_1, "web"), (3, GOOD_1, "web"),
    ]]
    pipe = _run(spark, tmp_path, epochs, tag="wb", minhash=dict(MH))
    assert {r.doc_id for r in pipe.committed().collect()} == {2, 3}


@pytest.mark.slow
def test_exact_only_mode_no_shingle_state(spark, tmp_path):
    """minhash=None: exact digests only — near-dups pass, byte dups die
    across epochs."""
    epochs = [
        [(1, GOOD_2, "web")],
        [(2, GOOD_2, "web"), (3, GOOD_2_NEAR, "web")],
    ]
    pipe = _run(spark, tmp_path, epochs, tag="ex")
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 3}


@pytest.mark.slow
def test_kill_resume_no_double_commit(spark, tmp_path):
    """Stop after the first file, restart on the same checkpoint: the
    committed set equals the one-shot run (per-epoch overwrite + state
    versioning = exactly-once verdicts)."""
    from sarkac_spark.streaming.stateful_ingest_dedup import StatefulDedupPipeline

    epochs = [
        [(1, GOOD_1, "web"), (2, GOOD_2, "web")],
        [(5, GOOD_1, "blog"), (6, GOOD_2_NEAR, "web"), (7, GOOD_3, "web")],
    ]
    src = tmp_path / "src_kr"
    _write_epochs(spark, src, epochs[:1])
    pipe = StatefulDedupPipeline(spark, str(tmp_path / "store_kr"), minhash=dict(MH))

    def _stream():
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    q = pipe.start(_stream(), str(tmp_path / "ckpt_kr"))
    q.awaitTermination(300)
    # second wave lands while the query is down
    _write_epochs(spark, src, epochs)  # rewrites b000, adds b001
    q = pipe.start(_stream(), str(tmp_path / "ckpt_kr"))
    q.awaitTermination(300)
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 2, 7}


@pytest.mark.slow
def test_domain_cap_shared_quota(spark, tmp_path):
    """The quota stage is apply_domain_quota (the curator's rule): web
    fills its cap of 2 across epochs; compaction folds the running
    counts without changing them."""
    epochs = [
        [(1, GOOD_1, "web"), (2, GOOD_2, "web")],
        [(3, GOOD_3, "web"), (4, GOOD_4, "blog")],
    ]
    pipe = _run(
        spark, tmp_path, epochs, tag="dc",
        minhash=dict(MH),
        domain_cap={"domain_col": "source", "cap": 2},
    )
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 2, 4}
    n = pipe.compact()
    assert n == 3
    q = spark.read.parquet(pipe.quota_dir)
    counts = {r.source: r.n_admitted for r in q.collect()}
    assert counts == {"web": 2, "blog": 1}


@pytest.mark.slow
def test_quota_rejected_docs_join_the_seen_corpus(spark, tmp_path):
    """Band state is appended inside the stateful operator, upstream of
    the quota stage, so a quota-REJECTED doc still joins the seen
    corpus: a later near-identical doc from an UNDER-cap domain is
    dropped by this engine but admitted by the parquet arm (which
    commits signatures only for post-quota survivors). Both behaviors
    pinned — this is the documented seen-vs-committed divergence, not a
    defect (see module docstring)."""
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    cap = {"domain_col": "source", "cap": 1}
    epochs = [
        [(1, GOOD_1, "web")],                # admitted, fills web's cap
        [(2, GOOD_2, "web")],                # dedup-pass, quota-REJECTED
        [(3, GOOD_2_NEAR, "blog")],          # ~GOOD_2, blog is under cap
    ]
    pipe = _run(
        spark, tmp_path, epochs, tag="qp",
        minhash=dict(MH), domain_cap=dict(cap),
    )
    # seen-corpus: 3 matches OBSERVED (but never committed) doc 2
    assert {r.doc_id for r in pipe.committed().collect()} == {1}

    ref = StreamingCuratorPipeline(
        spark,
        str(tmp_path / "ref_qp"),
        {"dedup": {"minhash": dict(MH)}, "domain_cap": dict(cap)},
    )
    for i, rows in enumerate(epochs):
        ref.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    # committed-corpus: 2 left no signature, so 3 is admitted
    assert {r.doc_id for r in ref.committed().collect()} == {1, 3}


@pytest.mark.slow
def test_runs_on_rocksdb_provider(spark, tmp_path):
    """The deployment shape (BENCH_STREAM_DECADE's flat arm): the same
    chain-free verdicts under the RocksDB state store + changelog
    checkpointing. Provider is a runtime SQL conf read at query start,
    so it can be flipped per-test and restored."""
    from sarkac_spark.session import ROCKSDB_PROVIDER

    _CLOG = (
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    )
    saved = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    saved_clog = spark.conf.get(_CLOG, None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    spark.conf.set(_CLOG, "true")
    try:
        epochs = [
            [(1, GOOD_1, "web"), (2, GOOD_2, "web")],
            [(5, GOOD_1, "blog"), (6, GOOD_2_NEAR, "web"), (7, GOOD_3, "web")],
        ]
        pipe = _run(spark, tmp_path, epochs, tag="rdb", minhash=dict(MH))
        assert {r.doc_id for r in pipe.committed().collect()} == {1, 2, 7}
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", saved
            )
        # restore the changelog conf too: leaking =true into the shared
        # session is inert under the HDFS provider but still a silent
        # cross-test conf change
        if saved_clog is None:
            spark.conf.unset(_CLOG)
        else:
            spark.conf.set(_CLOG, saved_clog)


@pytest.mark.slow
def test_bootstrap_state_matches_trigger_replay(spark, tmp_path):
    """bootstrap_state installs the same band membership a trigger
    replay of the (deduped) corpus would: after onboarding, streamed
    triggers produce identical committed sets and funnel verdicts on
    both pipelines — exact dups and near dups of BOOTSTRAPPED docs are
    dropped, fresh docs admitted."""
    from sarkac_spark.streaming.stateful_ingest_dedup import StatefulDedupPipeline

    corpus = [(1, GOOD_1, "web"), (2, GOOD_2, "web"), (3, GOOD_3, "blog")]
    fresh = [
        [(4, GOOD_2, "news"), (5, GOOD_2_NEAR, "blog"), (6, GOOD_4, "web")],
        # 7 dups a bootstrapped doc, 8 dups a POST-bootstrap admit (6),
        # 9 is fresh — exercises state appended before AND after onboard
        [(7, GOOD_1, "web"), (8, GOOD_4, "web"), (9, CHAIN_A, "web")],
    ]
    # arm A: replay-seeded (corpus is epoch 0)
    ref = _run(spark, tmp_path, [corpus] + fresh, tag="ra", minhash=dict(MH))
    want = {r.doc_id for r in ref.committed().collect()}

    # arm B: bootstrap, then stream only the fresh batches
    src = tmp_path / "src_bs"
    pipe = StatefulDedupPipeline(
        spark, str(tmp_path / "store_bs"), minhash=dict(MH)
    )
    n = pipe.bootstrap_state(
        spark.createDataFrame(corpus, SCHEMA),
        str(tmp_path / "ckpt_bs"),
        str(src),
    )
    assert n == 3
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 2, 3}
    for i, rows in enumerate(fresh):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i:03d}")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = pipe.start(stream, str(tmp_path / "ckpt_bs"))
    q.awaitTermination(300)
    got = {r.doc_id for r in pipe.committed().collect()}
    assert got == want == {1, 2, 3, 6, 9}

    # per-trigger funnel verdicts identical for the fresh batches
    per_epoch = {
        (r.stage, r.n_docs)
        for r in pipe.funnel().filter(F.col("epoch") >= 0).collect()
    }
    ref_fresh = {
        (r.stage, r.n_docs)
        for r in ref.funnel().filter(F.col("epoch") >= 1).collect()
    }
    assert per_epoch == ref_fresh

    # guardrails: existing checkpoint / non-empty source refuse loudly
    with pytest.raises(ValueError, match="FRESH checkpoint"):
        pipe.bootstrap_state(
            spark.createDataFrame(corpus, SCHEMA),
            str(tmp_path / "ckpt_bs"),
            str(tmp_path / "src_other"),
        )
    with pytest.raises(ValueError, match="empty source_dir"):
        pipe.bootstrap_state(
            spark.createDataFrame(corpus, SCHEMA),
            str(tmp_path / "ckpt_fresh2"),
            str(src),
        )


@pytest.mark.slow
def test_state_ttl_evicts_idle_bands(spark, tmp_path):
    """state_ttl_seconds: a band idle past the TTL is evicted (timeout
    fires on the next batch that runs without data for it), so a dup of
    an expired doc is RE-admitted — the time-bounded dedup mode.
    Deterministic sequencing: the replay file is written only AFTER the
    eviction is OBSERVED in query progress (stateOperators
    numRowsRemoved), so the test never races the TTL clock."""
    import time as _time

    from sarkac_spark.streaming.stateful_ingest_dedup import StatefulDedupPipeline

    src = tmp_path / "src_ttl"
    _write_epochs(spark, src, [[(1, GOOD_1, "web")]])
    pipe = StatefulDedupPipeline(
        spark,
        str(tmp_path / "store_ttl"),
        minhash=dict(MH),
        state_ttl_seconds=2,
    )

    def _stream():
        return (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    # TTL mode refuses availableNow (with ProcessingTimeTimeout armed
    # the operator always reports another batch may be needed, so the
    # run would never terminate — and the same timer-only batches keep
    # resetting processAllAvailable's no-new-data latch, so the drain
    # is poll-the-store-then-stop)
    with pytest.raises(ValueError, match="processing-time trigger"):
        pipe.start(_stream(), str(tmp_path / "ckpt_ttl"))

    def _poll(q, pred, timeout=180):
        t0 = _time.time()
        while _time.time() - t0 < timeout:
            try:
                if pred():
                    return
            except Exception:
                pass
            if q is not None and q.exception() is not None:
                raise q.exception()
            _time.sleep(0.5)
        raise AssertionError("condition not reached within timeout")

    def _committed():
        return {r.doc_id for r in pipe.committed().collect()}

    q = pipe.start(_stream(), str(tmp_path / "ckpt_ttl"), trigger_seconds=0)
    _poll(q, lambda: _committed() == {1})
    q.stop()
    q.awaitTermination()
    _time.sleep(6)  # doc 1's bands idle well past the 2 s TTL

    # restart with one fresh doc only: its batch (or a timer batch
    # right after) finds doc 1's bands expired and evicts them
    spark.createDataFrame([(2, GOOD_3, "web")], SCHEMA).coalesce(1).write.parquet(
        str(src / "b001")
    )
    q = pipe.start(_stream(), str(tmp_path / "ckpt_ttl"), trigger_seconds=0)

    def _evicted():
        return any(
            op.get("numRowsRemoved", 0) > 0
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )

    _poll(q, lambda: _committed() == {1, 2})
    _poll(q, _evicted)
    # ONLY NOW write the replay of GOOD_1: the evicted state re-admits
    spark.createDataFrame([(3, GOOD_1, "web")], SCHEMA).coalesce(1).write.parquet(
        str(src / "b002")
    )
    _poll(q, lambda: _committed() == {1, 2, 3})
    q.stop()
    q.awaitTermination()


@pytest.mark.slow
def test_bootstrap_state_with_ttl_terminates_and_seeds(spark, tmp_path):
    """r10 ADVICE (medium): ``bootstrap_state`` on a TTL-configured
    pipeline used availableNow under ProcessingTimeTimeout — a run that
    never terminates. The seed is now driven by back-to-back
    processing-time batches and stopped once the corpus batch commits:
    it RETURNS, installs band state with the TTL armed, and a dup of a
    bootstrapped doc arriving within the TTL is dropped."""
    import time as _time

    from sarkac_spark.streaming.stateful_ingest_dedup import StatefulDedupPipeline

    src = tmp_path / "src_bttl"
    pipe = StatefulDedupPipeline(
        spark,
        str(tmp_path / "store_bttl"),
        minhash=dict(MH),
        state_ttl_seconds=3600,  # long TTL: nothing evicts mid-test
    )
    n = pipe.bootstrap_state(
        spark.createDataFrame([(1, GOOD_1, "web"), (2, GOOD_2, "web")], SCHEMA),
        str(tmp_path / "ckpt_bttl"),
        str(src),
    )
    assert n == 2
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 2}

    # dup of a bootstrapped doc (3) dropped, fresh doc (4) admitted
    spark.createDataFrame(
        [(3, GOOD_1, "web"), (4, GOOD_3, "web")], SCHEMA
    ).coalesce(1).write.parquet(str(src / "b001"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = pipe.start(stream, str(tmp_path / "ckpt_bttl"), trigger_seconds=0)
    t0 = _time.time()
    got = set()
    while _time.time() - t0 < 180:
        if q.exception() is not None:
            raise q.exception()
        try:
            got = {r.doc_id for r in pipe.committed().collect()}
        except Exception:
            got = set()
        if got == {1, 2, 4}:
            break
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    assert got == {1, 2, 4}


@pytest.mark.slow
def test_hot_band_stops_matching_and_growing(spark, tmp_path):
    """A band at its all-time df cap stops matching (docs can still
    pair via other bands) and stops growing — per-row work stays
    bounded at cap."""
    # max_band_df=1: after one doc is seen, every band is hot, so the
    # SECOND exact copy of GOOD_1 is caught only by... nothing — even
    # the exact xh| band obeys presence, which needs no growth. Near
    # dups of GOOD_2 must pass (their bands are frozen at df=1 and
    # matching is disabled).
    epochs = [
        [(1, GOOD_2, "web")],
        [(2, GOOD_2_NEAR, "web"), (3, GOOD_2, "web")],
    ]
    mh = dict(MH, max_band_df=1)
    pipe = _run(spark, tmp_path, epochs, tag="hb", minhash=mh)
    # 3 is an exact dup (xh band presence match, cap-independent);
    # 2 is a near dup but every shared band is hot => admitted
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 2}


@pytest.mark.slow
def test_preflight_state_schema_flags_pre_binary_checkpoint(spark, tmp_path):
    """r10 ADVICE: a checkpoint written by the r9 array<long> schema
    fails Spark's own validation with no remediation; the start()
    preflight adds the bootstrap_state pointer. Current-format and
    absent checkpoints pass untouched."""
    from sarkac_spark.streaming.stateful_ingest_dedup import (
        _preflight_state_schema,
    )

    meta = tmp_path / "ckpt" / "state" / "0" / "0" / "_metadata"
    meta.mkdir(parents=True)
    (meta / "schema").write_bytes(
        b'\x00\x02v2{"name":"band_key","type":"string"}'
        b'{"fields":[{"name":"ids","type":{"type":"array","elementType":'
        b'"long"}},{"name":"lens","type":{"type":"array"}},'
        b'{"name":"shs","type":{"type":"array"}}]}'
    )
    with pytest.raises(ValueError, match="bootstrap_state"):
        _preflight_state_schema(spark, str(tmp_path / "ckpt"))

    (meta / "schema").write_bytes(
        b'{"fields":[{"name":"ids","type":"binary"},'
        b'{"name":"lens","type":"binary"},{"name":"shs","type":"binary"}]}'
    )
    _preflight_state_schema(spark, str(tmp_path / "ckpt"))  # no raise
    _preflight_state_schema(spark, str(tmp_path / "absent"))  # no raise


# --- the pure per-band cores, driven directly (fast tier) -----------------

# deterministic shingle-hash sets: J(A,B) = 6/10 = 0.6 >= 0.5,
# J(A,C) = 2/14 < 0.5, J(B,C) = 0/16
SET_A = [1, 2, 3, 4, 5, 6, 7, 8]
SET_B = [3, 4, 5, 6, 7, 8, 9, 10]
SET_C = [1, 2, 100, 101, 102, 103, 104, 105]


class _State:
    """The two GroupState members ``_unpack_state`` reads."""

    def __init__(self, packed=None):
        self.exists = packed is not None
        self.get = packed


def _band_rows(rows, key="mh|b0"):
    """rows: list of (doc_id, sh_set list) -> one band's batch frame."""
    return pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [f"t{r[0]}" for r in rows],
            "sh_set": [np.asarray(r[1], dtype=np.int64) for r in rows],
            "band_key": [key] * len(rows),
        }
    )


def _drive(batches, key="mh|b0", max_band_df=4, bottom_k=None):
    """Run ``_verify_batch`` over a batch sequence, threading the packed
    state through ``_unpack_state`` the way ``_band_verdicts`` does.
    Returns (per-batch dropped lists, per-batch appended?, final
    unpacked state)."""
    ids, lens, shs = _unpack_state(_State())
    verdicts, appended = [], []
    for rows in batches:
        out, new_state = _verify_batch(
            key, _band_rows(rows, key), ids, lens, shs,
            "doc_id", 0.5, max_band_df, bottom_k,
        )
        assert list(out.columns) == ["doc_id", "text", "__dropped"]
        verdicts.append(out["__dropped"].tolist())
        appended.append(new_state is not None)
        if new_state is not None:
            ids, lens, shs = _unpack_state(_State(new_state))
    return verdicts, appended, (ids, lens, shs)


def test_verify_batch_seen_corpus_across_batches():
    """Within a batch a doc drops against a lower-id mate; across
    batches against any SEEN member, dropped or not (doc 4 matches
    doc 2, itself dropped)."""
    verdicts, appended, (ids, lens, shs) = _drive(
        [[(1, SET_A)], [(3, SET_C), (2, SET_B)], [(4, SET_B)]]
    )
    assert verdicts == [[False], [True, False], [True]]
    assert appended == [True, True, True]
    assert ids.tolist() == [1, 2, 3, 4]
    assert lens.tolist() == [8, 8, 8, 8]
    assert shs.tolist() == SET_A + SET_B + SET_C + SET_B


def test_verify_batch_exact_band_presence():
    """``xh|`` bands match on presence and keep one member forever:
    the first doc is admitted, every replay drops, and a replay appends
    nothing (no state rewrite)."""
    verdicts, appended, (ids, lens, shs) = _drive(
        [[(1, [])], [(2, [])], [(3, [])]], key="xh|deadbeef"
    )
    assert verdicts == [[False], [True], [True]]
    assert appended == [True, False, False]
    assert ids.tolist() == [1] and lens.tolist() == [0] and shs.size == 0
    # within one batch on a fresh band the lowest id wins
    verdicts, _, (ids, _, _) = _drive([[(9, []), (7, [])]], key="xh|beef")
    assert verdicts == [[False, True]]
    assert ids.tolist() == [7]


def test_verify_batch_hot_band_cap():
    """At ``max_band_df`` members a band stops matching AND stops
    growing: docs 3 and 4 (near-dups of seen members) are admitted and
    the state keeps its first two members."""
    verdicts, appended, (ids, _, _) = _drive(
        [[(1, SET_A)], [(2, SET_C)], [(3, SET_B)], [(4, SET_A)]],
        max_band_df=2,
    )
    assert verdicts == [[False], [False], [False], [False]]
    assert appended == [True, True, False, False]
    assert ids.tolist() == [1, 2]


def test_verify_batch_bottom_k_estimator():
    """With ``max_sh_set`` truncation the verdict uses the union-
    bottom-k estimator, not exact Jaccard. A vs D: exact J = 4/12
    (kept); with k=4 the 4 smallest of A∪D are all shared (dropped)."""
    set_d = [1, 2, 3, 4, 20, 21, 22, 23]
    exact, _, _ = _drive([[(1, SET_A)], [(2, set_d)]])
    assert exact == [[False], [False]]
    est, _, _ = _drive([[(1, SET_A)], [(2, set_d)]], bottom_k=4)
    assert est == [[False], [True]]
    # A vs B at k=6: 4 of the 6 smallest of A∪B are shared -> 0.666667
    est, _, _ = _drive([[(1, SET_A)], [(2, SET_B)]], bottom_k=6)
    assert est == [[False], [True]]
    est, _, _ = _drive([[(1, SET_A)], [(2, SET_C)]], bottom_k=6)
    assert est == [[False], [False]]


def test_pack_unpack_state_roundtrip():
    """State crosses the Arrow boundary as three little-endian buffers;
    ``_unpack_state`` reads exactly what ``_pack_state`` writes, and an
    absent state reads as three empty arrays of the same dtypes."""
    packed = _pack_state([1, 2], [3, 0], [10, 20, 30])
    assert packed[0] == (1).to_bytes(8, "little") + (2).to_bytes(8, "little")
    assert packed[1] == (3).to_bytes(4, "little") + (0).to_bytes(4, "little")
    ids, lens, shs = _unpack_state(_State(packed))
    assert (ids.tolist(), lens.tolist(), shs.tolist()) == (
        [1, 2], [3, 0], [10, 20, 30]
    )
    empty = _unpack_state(_State())
    assert [a.dtype.str for a in empty] == ["<i8", "<i4", "<i8"]
    assert all(a.size == 0 for a in empty)


def test_seed_members_then_verify():
    """Seeding installs the membership a replay of the deduped corpus
    would append (id-ordered, capped, one member on exact bands), and a
    later near-dup of a seeded doc is dropped."""
    corpus = _band_rows([(2, SET_C), (1, SET_A)])
    empty = _unpack_state(_State())
    seeded = _seed_members("mh|b0", corpus, *empty, "doc_id", 4)
    _, replayed = _verify_batch(
        "mh|b0", corpus, *empty, "doc_id", 0.5, 4, None
    )
    assert seeded == replayed
    ids, lens, shs = _unpack_state(_State(seeded))
    assert ids.tolist() == [1, 2]
    out, _ = _verify_batch(
        "mh|b0", _band_rows([(3, SET_B)]), ids, lens, shs,
        "doc_id", 0.5, 4, None,
    )
    assert out["__dropped"].tolist() == [True]

    # the df cap bounds an incremental (chunked) install; a band at cap
    # returns None (no state write)
    state = empty
    for lo in (0, 2):
        chunk = _band_rows([(lo + 2, SET_B), (lo + 1, SET_A)])
        state = _unpack_state(
            _State(_seed_members("mh|b0", chunk, *state, "doc_id", 3))
        )
    assert state[0].tolist() == [1, 2, 3]
    chunk = _band_rows([(9, SET_A)])
    assert _seed_members("mh|b0", chunk, *state, "doc_id", 3) is None

    exact = _band_rows([(5, []), (4, [])], key="xh|beef")
    ids, lens, _ = _unpack_state(
        _State(_seed_members("xh|beef", exact, *empty, "doc_id", None))
    )
    assert ids.tolist() == [4] and lens.tolist() == [0]
