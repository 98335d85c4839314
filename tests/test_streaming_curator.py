"""StreamingCuratorPipeline: ingest-time curation (quality gate →
signature-store incremental dedup → stateful per-source quota) equals
the batch Curator on the same corpus, survives kill-resume, never
double-counts on replay, and emits Curator.report()-named funnel rows."""

from __future__ import annotations

import pytest

# e2e tier: real streaming queries / subprocess sessions — minutes each.
# Excluded from the default (driver-verify) fast run; the builder's
# once-per-round full run includes them (pytest -m "slow or not slow").
pytestmark = pytest.mark.slow


import pytest
from pyspark.sql import functions as F

SCHEMA = "doc_id long, text string, source string"
MH = {"k": 16, "bands": 4, "threshold": 0.5, "max_band_df": None}
CONFIG = {
    "quality": {"gopher": True},
    "dedup": {"exact": True, "minhash": MH},
    "domain_cap": {"domain_col": "source", "cap": 2},
}

GOOD_A = "the quick brown fox and the lazy dog ran over twelve quiet hills"
GOOD_B = "spark shuffles the data between stages and it regroups all the rows by key"
GOOD_B_NEAR = "spark shuffles the data between stages and it regroups all the rows by keys"
GOOD_C = "a genuinely novel document about the storage formats and their encodings"
GOOD_D = "broadcast joins avoid the shuffle when one side fits in the executor memory"
GOOD_E = "partition pruning skips the files whose min max range excludes the predicate"
GOOD_E_NEAR = "partition pruning skips the files whose min max range excludes the predicates"
GOOD_F = "watermarks bound the state kept for late data in a windowed streaming aggregation"
GOOD_G = "columnar formats let the scan read only the columns a projection actually needs"


def _epochs():
    # quality drops 3, 11 (under 10 words); exact dedup drops 5 (dup of
    # 1); minhash drops 6 (near-dup of 2) and 12 (near-dup of 8); the
    # web quota (cap 2, held by 1 and 2) drops 7 and 9. No near-dup
    # CHAINS: one-shot and incremental dedup agree on chain-free
    # corpora (an A~B, B~C, A!~C chain is the documented divergence:
    # the batch pass drops both B and C, the stream keeps C because its
    # only near-dup B was never committed).
    return [
        [
            (1, GOOD_A, "web"),
            (2, GOOD_B, "web"),
            (3, "too short here", "web"),
            (4, GOOD_C, "blog"),
        ],
        [
            (5, GOOD_A, "blog"),
            (6, GOOD_B_NEAR, "web"),
            (7, GOOD_D, "web"),
            (8, GOOD_E, "blog"),
        ],
        [
            (9, GOOD_F, "web"),
            (10, GOOD_G, "news"),
            (11, "digits 1 2 3", "news"),
            (12, GOOD_E_NEAR, "news"),
        ],
    ]


EXPECTED = {1, 2, 4, 8, 10}


def _pipe(spark, tmp_path, config=CONFIG):
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    return StreamingCuratorPipeline(spark, str(tmp_path / "store"), config)


def test_stream_equals_batch_curator(spark, tmp_path):
    """The composed stream == Curator.apply() on the same corpus: same
    survivor set, and the summed per-epoch funnel equals the batch
    report stage-for-stage (same stage names)."""
    from sarkac_spark.curator import Curator

    pipe = _pipe(spark, tmp_path)
    for i, rows in enumerate(_epochs()):
        pipe.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    got = {r.doc_id for r in pipe.committed().collect()}
    assert got == EXPECTED

    # batch twin: same config, with the arrival-order ranking made
    # explicit (quality_col = -doc_id: domain_cap keeps the LOWEST ids
    # per domain, which is the stream's admission order)
    all_rows = [r for rows in _epochs() for r in rows]
    batch = spark.createDataFrame(all_rows, SCHEMA).withColumn(
        "neg_id", -F.col("doc_id")
    )
    cur = Curator(
        spark,
        {
            "quality": CONFIG["quality"],
            "dedup": CONFIG["dedup"],
            "domain_cap": {"domain_col": "source", "cap": 2,
                           "quality_col": "neg_id"},
        },
    )
    batch_ids = {r.doc_id for r in cur.apply(batch).select("doc_id").collect()}
    assert batch_ids == EXPECTED

    report = cur.report(batch)
    stream_funnel = {
        r.stage: r.n
        for r in pipe.funnel()
        .groupBy("stage")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    }
    assert stream_funnel == report  # same stage names, same totals
    assert report == {"input": 12, "quality": 10, "dedup": 7, "domain_cap": 5}


def test_quota_is_stateful_across_epochs_and_replay_safe(spark, tmp_path):
    """The web domain fills its cap in epoch 0+1; later web docs are
    dropped by the RUNNING count. Replaying an epoch (at-least-once
    delivery) changes nothing: verdicts recompute identically and the
    per-epoch partitions are overwritten, not appended."""
    pipe = _pipe(spark, tmp_path)
    epochs = _epochs()
    for i, rows in enumerate(epochs):
        pipe.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    before = {r.doc_id for r in pipe.committed().collect()}
    funnel_before = sorted(map(tuple, pipe.funnel().collect()))

    # replay the LAST epoch (the only one foreachBatch can replay)
    pipe.process_batch(spark.createDataFrame(epochs[2], SCHEMA), 2)
    assert {r.doc_id for r in pipe.committed().collect()} == before
    assert sorted(map(tuple, pipe.funnel().collect())) == funnel_before

    # a later web doc is still quota-dropped; a new domain admits
    pipe.process_batch(
        spark.createDataFrame(
            [(13, GOOD_D + " entirely new words appended", "web"),
             (14, GOOD_F + " with some freshly appended words", "wiki")],
            SCHEMA,
        ),
        3,
    )
    got = {r.doc_id for r in pipe.committed().collect()}
    assert got == before | {14}


def test_streaming_curator_kill_resume(spark, tmp_path):
    """Checkpointed stream: crash after the first ingest, land more
    files, resume — the final corpus equals the uninterrupted run."""
    pipe = _pipe(spark, tmp_path)
    src = tmp_path / "src"
    epochs = _epochs()
    spark.createDataFrame(epochs[0], SCHEMA).coalesce(1).write.parquet(
        str(src / "b0")
    )

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = pipe.start(stream, str(tmp_path / "ckpt"))
        q.awaitTermination(180)

    run()
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 2, 4}

    for i, rows in enumerate(epochs[1:], start=1):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}")
        )
    run()
    assert {r.doc_id for r in pipe.committed().collect()} == EXPECTED


def test_compact_preserves_quota_and_funnel(spark, tmp_path):
    """compact() folds all four stores; the quota keeps binding and the
    funnel totals survive the fold."""
    pipe = _pipe(spark, tmp_path)
    for i, rows in enumerate(_epochs()):
        pipe.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    totals_before = {
        r.stage: r.n
        for r in pipe.funnel().groupBy("stage").agg(F.sum("n_docs").alias("n")).collect()
    }
    n = pipe.compact()
    assert n == len(EXPECTED)
    assert {r.doc_id for r in pipe.committed().collect()} == EXPECTED
    totals_after = {
        r.stage: r.n
        for r in pipe.funnel().groupBy("stage").agg(F.sum("n_docs").alias("n")).collect()
    }
    assert totals_after == totals_before

    # post-compact: quota still remembers web is full, dedup still
    # remembers committed texts
    pipe.process_batch(
        spark.createDataFrame(
            [(20, GOOD_A, "news"),  # exact dup of committed 1
             (21, GOOD_G + " plus a few more added words here", "web")],  # quota
            SCHEMA,
        ),
        5,
    )
    assert {r.doc_id for r in pipe.committed().collect()} == EXPECTED


def test_offline_only_stages_raise(spark, tmp_path):
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    with pytest.raises(ValueError, match="no streaming member"):
        StreamingCuratorPipeline(
            spark, str(tmp_path / "s"), {"quality": {"gopher": True},
                                         "chunk": {"chunk_words": 40}}
        )


def test_exact_dedup_always_runs_without_dedup_config(spark, tmp_path):
    """The class contract: even with no 'dedup' key, byte-identical
    replays of committed text are never committed twice."""
    pipe = _pipe(spark, tmp_path, config={"quality": {"gopher": True}})
    pipe.process_batch(
        spark.createDataFrame([(1, GOOD_A, "web")], SCHEMA), 0
    )
    pipe.process_batch(
        spark.createDataFrame([(2, GOOD_A, "blog"),          # exact dup of 1
                               (3, GOOD_G, "blog")], SCHEMA), 1
    )
    assert {r.doc_id for r in pipe.committed().collect()} == {1, 3}
    stages = {r.stage for r in pipe.funnel().collect()}
    assert "dedup" in stages  # the always-on stage shows in the funnel


def test_null_domain_quota_accumulates(spark, tmp_path):
    """NULL sources are ONE domain to the running quota: the cap binds
    across epochs, not per batch (a null-unsafe join would reset it)."""
    pipe = _pipe(
        spark, tmp_path,
        config={"domain_cap": {"domain_col": "source", "cap": 2}},
    )
    texts = [GOOD_A, GOOD_B, GOOD_C, GOOD_D, GOOD_E]
    pipe.process_batch(
        spark.createDataFrame(
            [(1, texts[0], None), (2, texts[1], None)], SCHEMA
        ),
        0,
    )
    pipe.process_batch(
        spark.createDataFrame(
            [(3, texts[2], None), (4, texts[3], "web"),
             (5, texts[4], None)], SCHEMA
        ),
        1,
    )
    got = {r.doc_id for r in pipe.committed().collect()}
    # null domain filled its cap in epoch 0; 3 and 5 must be dropped
    assert got == {1, 2, 4}


def test_within_batch_quota_is_quality_ordered(spark, tmp_path):
    """With a quality_col configured, within-batch admission keeps the
    BEST documents per domain (the batch domain_cap ranking, ties to
    ascending id) — not the lowest ids — so stream == batch whenever a
    domain's contenders share a trigger. Cross-epoch the running count
    still binds (a stream cannot revoke committed docs)."""
    from sarkac_spark.curator import Curator

    schema = "doc_id long, text string, source string, q long"
    rows = [
        (1, GOOD_A, "web", 10),
        (2, GOOD_B, "web", 40),   # best
        (3, GOOD_C, "web", 30),   # second best
        (4, GOOD_D, "blog", 5),
    ]
    config = {"domain_cap": {"domain_col": "source", "cap": 2,
                             "quality_col": "q"}}
    pipe = _pipe(spark, tmp_path, config=config)
    pipe.process_batch(spark.createDataFrame(rows, schema), 0)
    got = {r.doc_id for r in pipe.committed().collect()}
    assert got == {2, 3, 4}  # quality-ranked, NOT arrival-order {1, 2, 4}

    # equals the batch Curator on the single-trigger corpus
    cur = Curator(spark, config)
    batch_ids = {
        r.doc_id
        for r in cur.apply(spark.createDataFrame(rows, schema))
        .select("doc_id").collect()
    }
    assert batch_ids == got

    # cross-epoch: a later higher-quality web doc is still quota-dropped
    # (running count, arrival wins across triggers — the documented
    # residual divergence from batch)
    pipe.process_batch(
        spark.createDataFrame([(5, GOOD_E, "web", 99)], schema), 1
    )
    assert {r.doc_id for r in pipe.committed().collect()} == got

    # replay determinism: same batch, same epoch -> same survivors
    pipe.process_batch(spark.createDataFrame(rows, schema), 0)
    assert {r.doc_id for r in pipe.committed().collect()} == got


def test_compact_with_domain_cap_removed_from_config(spark, tmp_path):
    """A quota store left by an earlier configuration must compact
    cleanly (fold by the store's own domain column) even after
    domain_cap was dropped from the config."""
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    pipe = _pipe(
        spark, tmp_path,
        config={"domain_cap": {"domain_col": "source", "cap": 2}},
    )
    pipe.process_batch(
        spark.createDataFrame(
            [(1, GOOD_A, "web"), (2, GOOD_B, "web")], SCHEMA
        ),
        0,
    )
    # same stores, new config without domain_cap
    pipe2 = StreamingCuratorPipeline(
        spark, str(tmp_path / "store"), config={"quality": {"gopher": True}}
    )
    n = pipe2.compact()  # must not KeyError on the stale quota store
    assert n == 2
    quota = spark.read.parquet(str(tmp_path / "store_quota"))
    assert [(r.source, r.n_admitted) for r in quota.collect()] == [("web", 2)]


def test_engine_stateful_facade_parity(spark, tmp_path):
    """engine="stateful" is a first-class facade switch: same quality
    closures, same shared quota rule — on a chain-free corpus both
    engines commit the SAME survivor set, and the stateful funnel maps
    onto the parquet one (its `input` row counts post-quality docs,
    i.e. the parquet arm's `quality` row; no pre-quality row exists
    inside the stateful DAG). Also pins compact() delegation and the
    process_batch guard."""
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    # parquet arm (per-batch driven — the existing contract)
    ref = _pipe(spark, tmp_path)
    for i, rows in enumerate(_epochs()):
        ref.process_batch(spark.createDataFrame(rows, SCHEMA), i)
    want = {r.doc_id for r in ref.committed().collect()}

    # stateful arm via the facade, driven through start()
    src = tmp_path / "src_sf"
    src.mkdir()
    for i, rows in enumerate(_epochs()):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i:03d}")
        )
    pipe = StreamingCuratorPipeline(
        spark, str(tmp_path / "store_sf"), CONFIG, engine="stateful"
    )
    with pytest.raises(RuntimeError, match="stateful"):
        pipe.process_batch(spark.createDataFrame(_epochs()[0], SCHEMA), 0)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = pipe.start(stream, str(tmp_path / "ckpt_sf"))
    q.awaitTermination(300)
    got = {r.doc_id for r in pipe.committed().collect()}
    assert got == want == EXPECTED

    ref_funnel = {
        r.stage: r.n
        for r in ref.funnel().groupBy("stage").agg(F.sum("n_docs").alias("n")).collect()
    }
    sf_funnel = {
        r.stage: r.n
        for r in pipe.funnel().groupBy("stage").agg(F.sum("n_docs").alias("n")).collect()
    }
    assert sf_funnel == {
        "input": ref_funnel["quality"],
        "dedup": ref_funnel["dedup"],
        "domain_cap": ref_funnel["domain_cap"],
    }

    # compact() delegates to the stateful engine's fold
    n = pipe.compact()
    assert n == len(EXPECTED)
    assert {r.doc_id for r in pipe.committed().collect()} == EXPECTED


def test_backfill_routes_by_engine(spark, tmp_path):
    """backfill(): the bulk-load entry (VERDICT r10 ask #4). Parquet
    engine: one batch trigger committed as the epoch=-1 base layer;
    streaming afterwards dedups incrementally against it. Stateful
    engine: batch-curate then bootstrap_state — identical committed set
    on the chain-free corpus — and streaming a dup of a backfilled doc
    afterwards drops it. A second parquet backfill refuses (base-layer
    overwrite guard), and the stateful arm refuses without the
    checkpoint/source dirs."""
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    raw = [r for rows in _epochs() for r in rows]  # the full raw corpus

    # parquet arm
    pq = _pipe(spark, tmp_path)
    n = pq.backfill(spark.createDataFrame(raw, SCHEMA))
    assert n == len(EXPECTED)
    assert {r.doc_id for r in pq.committed().collect()} == EXPECTED
    with pytest.raises(ValueError, match="epoch=-1 base layer"):
        pq.backfill(spark.createDataFrame(raw, SCHEMA))
    # streaming continues on the base layer: dup of committed doc 1
    # dropped, fresh doc admitted
    src = tmp_path / "src_bf_pq"
    src.mkdir()
    fresh = [(20, GOOD_A, "news"), (21, GOOD_D, "news")]
    spark.createDataFrame(fresh, SCHEMA).coalesce(1).write.parquet(
        str(src / "b000")
    )
    stream = spark.readStream.schema(SCHEMA).parquet(str(src / "*"))
    q = pq.start(stream, str(tmp_path / "ckpt_bf_pq"))
    q.awaitTermination(300)
    assert {r.doc_id for r in pq.committed().collect()} == EXPECTED | {21}

    # stateful arm: same survivors, then incremental dedup vs band state
    sf = StreamingCuratorPipeline(
        spark, str(tmp_path / "store_bf_sf"), CONFIG, engine="stateful"
    )
    with pytest.raises(ValueError, match="checkpoint_dir"):
        sf.backfill(spark.createDataFrame(raw, SCHEMA))
    n = sf.backfill(
        spark.createDataFrame(raw, SCHEMA),
        checkpoint_dir=str(tmp_path / "ckpt_bf_sf"),
        source_dir=str(tmp_path / "src_bf_sf"),
    )
    assert n == len(EXPECTED)
    assert {r.doc_id for r in sf.committed().collect()} == EXPECTED
    spark.createDataFrame(fresh, SCHEMA).coalesce(1).write.parquet(
        str(tmp_path / "src_bf_sf" / "b001")
    )
    stream = spark.readStream.schema(SCHEMA).parquet(
        str(tmp_path / "src_bf_sf" / "*")
    )
    q = sf.start(stream, str(tmp_path / "ckpt_bf_sf"))
    q.awaitTermination(300)
    assert {r.doc_id for r in sf.committed().collect()} == EXPECTED | {21}


def test_unknown_engine_rejected():
    """The engine knob takes exactly the two shipped engines; the
    check runs before any Spark call."""
    from sarkac_spark.streaming.streaming_curator import StreamingCuratorPipeline

    for engine in ("nope", "tws"):
        with pytest.raises(ValueError) as e:
            StreamingCuratorPipeline(None, "unused", CONFIG, engine=engine)
        assert str(e.value) == (
            f"unknown engine {engine!r}: expected 'parquet' or 'stateful'"
        )
