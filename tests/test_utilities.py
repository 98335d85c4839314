"""Coverage for the utility surfaces that ship without a query-contract
row: skew-salted joins, the StreamingQueryListener bridge, temp-view
registration, the Kafka sink builder's failure mode, and the cluster
conf preset. Untested code is a liability — every public entry point
gets at least a behavioral check."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_salted_join_row_identical_and_distributed(spark):
    """The salted join must return exactly the plain join's rows, and the
    hot key's rows must actually spread across salt values."""
    from sarkac_spark.operators.skew import salt_large, salted_join

    large_rows = [(i, "hot" if i % 10 else f"cold{i}", float(i)) for i in range(1000)]
    large = spark.createDataFrame(large_rows, "row_id long, k string, v double")
    small = spark.createDataFrame(
        [("hot", 1.0)] + [(f"cold{i}", 2.0) for i in range(0, 1000, 10)],
        "k string, w double",
    )

    got = salted_join(large, small, ["k"], "row_id", n_salt=8).collect()
    exp = large.join(small, "k").collect()
    key = lambda r: (r.row_id, r.k, r.v, r.w)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, exp))

    # deterministic spread: the hot key occupies every salt bucket
    salted = salt_large(large.filter(F.col("k") == "hot"), "row_id", 8)
    buckets = {r["__salt"] for r in salted.select("__salt").distinct().collect()}
    assert buckets == set(range(8))
    # and salting is retry-stable (pure function of row id)
    def salts():
        return {
            (r["row_id"], r["__salt"])
            for r in salt_large(large, "row_id", 8)
            .select("row_id", "__salt")
            .collect()
        }

    assert salts() == salts()


def test_query_listener_bridges_progress_to_bus(tmp_path, spark):
    """SigmaQueryListener must tick counters/bus from real streaming
    progress events of ITS query only: a concurrent query's rows and a
    concurrent query's failure in the same session are not counted."""
    from sarkac_spark.streaming.listener import (
        EventBus,
        SigmaQueryListener,
        StatsCounters,
    )

    def _stream(name, n_rows):
        src = tmp_path / name
        spark.createDataFrame(
            [(i,) for i in range(n_rows)], "v long"
        ).write.parquet(str(src / "b0"))
        return spark.readStream.schema("v long").parquet(str(src / "*"))

    def _fail(batch, epoch_id):
        raise RuntimeError("not the tracked query")

    bus, counters = EventBus(), StatsCounters()
    seen: list[int] = []
    bus.on("message", seen.append)
    listener = SigmaQueryListener(bus, counters)
    spark.streams.addListener(listener)
    try:
        q = (
            _stream("src", 1)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        listener.query_id = str(q.id)
        other = (
            _stream("src_other", 3)
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt_other"))
            .start()
        )
        failing = (
            _stream("src_fail", 1)
            .writeStream.foreachBatch(_fail)
            .option("checkpointLocation", str(tmp_path / "ckpt_fail"))
            .start()
        )
        q.processAllAvailable()
        other.processAllAvailable()
        with pytest.raises(Exception, match="not the tracked query"):
            failing.awaitTermination(120)
        q.stop()
        other.stop()
        # listener events are delivered asynchronously: drain the bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert counters.analysed_messages == 1
    assert counters.scan_runs >= 1
    assert sum(seen) == 1
    assert counters.errors == 0


def test_register_views_exposes_oracle_names(spark, sf_dir):
    from sarkac_spark.sources.tables import TABLES, register_views

    register_views(spark, sf_dir)
    for t in TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n >= 0
    # joins across views work (the oracle-parity surface)
    n = spark.sql(
        "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0].n
    assert n > 0


def test_write_kafka_raises_actionable_error_without_package(spark, tmp_path):
    """No Kafka package ships in this env: the sink builder must fail
    with the actionable message, not an opaque ClassNotFound."""
    from sarkac_spark.sources.kafka import write_kafka

    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    payload = stream.selectExpr("CAST(value AS STRING) AS value")
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        write_kafka(
            payload, "localhost:9092", "anomalies", str(tmp_path / "ck")
        )


def test_cluster_defaults_preset_sane():
    from sarkac_spark.session import cluster_defaults

    conf = cluster_defaults(target_tb=100.0)
    assert conf["spark.sql.adaptive.enabled"] == "true"
    assert int(conf["spark.sql.shuffle.partitions"]) >= 10_000
    assert int(conf["spark.sql.files.maxPartitionBytes"]) == 512 * 1024 * 1024
    # preset must be strings only (spark-submit --conf compatible)
    assert all(isinstance(v, str) for v in conf.values())


def test_registry_priority_and_consistency():
    """Every oracle has a query; every query the driver has never proven
    green leads the sweep order (the driver caps each round at 50
    entries, so registry order is the only coverage lever)."""
    from sarkac_spark.queries import (
        all_oracle_sql,
        all_queries,
        driver_green_queries,
    )

    qs, oracles = all_queries(), all_oracle_sql()
    assert set(oracles) <= set(qs)
    names = list(qs)
    green = driver_green_queries()
    if green:  # driver records present: never-green queries lead
        unproven = [n for n in names if n not in green]
        assert names[: len(unproven)] == unproven
        # the round-3 bookkeeping gap specifically: ivf_probe2 has no
        # driver row through r03 and must therefore hold a head slot
        if "ivf_probe2" not in green:
            assert "ivf_probe2" in names[:5]
    # EVERY registered query is oracle-backed — the driver can never
    # record `err: no_oracle` (VERDICT r8 #2). The iterative fits live
    # in the pytest-only fit_queries() surface, disjoint by name.
    from sarkac_spark.queries import fit_queries

    assert set(qs) == set(oracles)
    fits = fit_queries()
    assert set(fits) == {
        "kmeans_anomaly", "lsh_isolation", "mllib_minhash", "bpe_tokenize",
    }
    assert not (set(fits) & set(qs))


def test_sweep_order_self_maintaining(tmp_path):
    """A brand-new query (no CORRECTNESS row anywhere) must sort ahead
    of every driver-proven one, with no hand-edited list involved —
    the invariant whose absence cost two rounds of driver rows."""
    import json

    from sarkac_spark.queries import driver_green_queries, sweep_order

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "old_green": {"hash_match": True, "err": None},
                "old_red": {"hash_match": False, "err": "hash"},
                "rows_only": {"hash_match": None, "err": "no_oracle"},
            }
        )
    )
    green = driver_green_queries(root=tmp_path)
    assert green == {"old_green", "rows_only"}
    names = ["old_green", "rows_only", "old_red", "brand_new"]
    assert sweep_order(names, green) == [
        "old_red", "brand_new", "old_green", "rows_only",
    ]
    # no records at all -> static fallback head, never a crash
    empty = driver_green_queries(root=tmp_path / "nowhere")
    assert empty == set()
    assert sweep_order(["ivf_probe2", "x"], empty)[0] == "ivf_probe2"


def test_sweep_order_rotates_least_recently_proven_first(tmp_path):
    """With every query green, the sweep must NOT degenerate to fixed
    module order (VERDICT.md round 4, gap #1): the green tail is ordered
    by oldest LATEST-green round first, so the driver's capped sweep
    refreshes stale proofs instead of re-proving last round's 50."""
    import json

    from sarkac_spark.queries import driver_green_rounds, sweep_order

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({n: {"hash_match": True} for n in ["a", "b", "c"]})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "b": {"hash_match": True},            # re-proven in r02
                "d": {"hash_match": None, "err": "no_oracle"},
            }
        )
    )
    rounds = driver_green_rounds(root=tmp_path)
    assert rounds == {"a": 1, "b": 2, "c": 1, "d": 2}
    names = ["a", "b", "c", "d", "new1"]
    # never-green first; then r01-proven (module order); then r02-proven
    assert sweep_order(names, rounds) == ["new1", "a", "c", "b", "d"]
    # the real registry: whatever is green, the tail must be sorted by
    # latest-green round (non-decreasing) after the never-green head
    from sarkac_spark.queries import all_queries

    real = driver_green_rounds()
    ordered = list(all_queries())
    tail_rounds = [real[n] for n in ordered if n in real]
    assert tail_rounds == sorted(tail_rounds)


def test_check_oracle_kind_mismatch_detector():
    """The local gate must flag spark-int vs duck-float columns (the
    pandas HUGEINT widening class the %.10g collapse hides) and stay
    quiet on matching kinds and non-numeric columns."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_oracle import _kind_mismatches

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.StringType()),
        ]
    )
    # HUGEINT widens to float64 in pandas -> must flag against spark int
    bad = _kind_mismatches(schema, ["a", "b", "c"], ["HUGEINT", "DOUBLE", "VARCHAR"])
    assert bad == ["a: spark=int duck=float (HUGEINT)"]
    # BIGINT/DOUBLE/VARCHAR all agree -> clean
    assert _kind_mismatches(schema, ["a", "b", "c"], ["BIGINT", "DOUBLE", "VARCHAR"]) == []
    # duck int vs spark float flags too (driver hashes 1234 vs 1234.0)
    assert _kind_mismatches(schema, ["b"], ["BIGINT"]) == ["b: spark=float duck=int (BIGINT)"]


def test_bench_diff_exit_code_contract(tmp_path, capsys):
    """bench_diff (r11 ask #3): a >threshold mover with a CHANGED plan
    digest exits 1 (plan regression = loud failure); box drift on a
    pinned digest and acknowledged changes (--allow-plan-changes) exit
    0. The report itself renders in every case."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_diff

    def write(name, queries, digests):
        p = tmp_path / name
        p.write_text(
            json.dumps(
                {"value": sum(queries.values()), "queries": queries,
                 "plan_digests": digests}
            )
        )
        return str(p)

    old = write("old.json", {"q1": 1.0, "q2": 1.0}, {"q1": "aaa", "q2": "bbb"})

    def run(new, *extra):
        argv = sys.argv
        sys.argv = ["bench_diff.py", old, new, *extra]
        try:
            return bench_diff.main()
        finally:
            sys.argv = argv

    # mover with CHANGED digest -> exit 1
    changed = write(
        "changed.json", {"q1": 2.0, "q2": 1.0}, {"q1": "zzz", "q2": "bbb"}
    )
    assert run(changed) == 1
    assert "PLAN-CHANGED" in capsys.readouterr().out
    # acknowledged -> exit 0
    assert run(changed, "--allow-plan-changes") == 0
    # same magnitude of drift on a PINNED digest -> report-only, exit 0
    drift = write(
        "drift.json", {"q1": 2.0, "q2": 1.0}, {"q1": "aaa", "q2": "bbb"}
    )
    assert run(drift) == 0
    assert "box-drift" in capsys.readouterr().out
    # a changed digest on a NON-mover (inside threshold) doesn't fail
    quiet = write(
        "quiet.json", {"q1": 1.05, "q2": 1.0}, {"q1": "zzz", "q2": "bbb"}
    )
    assert run(quiet) == 0


def test_check_oracle_norm_cell_distinguishes_signed_zero():
    """Regression pin for the r11 embedding_covariance red row: the
    driver's pandas canonicalizer distinguishes -0.0 from 0.0, so the
    local gate's cell normalizer must too — a planted -0.0 vs 0.0
    mismatch has to FAIL, not silently collapse to '0'."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_oracle import _norm_cell, _norm_rows

    assert _norm_cell(0.0) == "0"
    assert _norm_cell(-0.0) == "-0"
    assert _norm_cell(0.0) != _norm_cell(-0.0)
    # the exact r11 shape: rows/schema/values all equal except one
    # signed zero -> normalized rows must differ
    spark_rows = [(5, 9, 0.0)]
    duck_rows = [(5, 9, -0.0)]
    assert _norm_rows(["i", "j", "cov"], spark_rows) != _norm_rows(
        ["i", "j", "cov"], duck_rows
    )
    # nan is still collapsed; floats are full-precision (shortest
    # round-trip repr — a 12th-digit divergence must FAIL, same
    # blind-spot class as the signed zero)
    assert _norm_cell(float("nan")) == "nan"
    assert _norm_cell(1234.0) == "1234.0"
    assert _norm_cell(True) == "1"
    a, b = 1.00000000001, 1.000000000011
    assert _norm_cell(a) != _norm_cell(b)


def test_check_oracle_catches_unfixed_covariance_oracle():
    """The r11 red row, regression-proofed: running the sweep's own
    comparison against the UNFIXED oracle (no `+ 0` signed-zero
    normalizer) must now FAIL locally. DuckDB's round(DOUBLE, 6)
    preserves -0.0; Spark's round does not; the fixed tool sees the
    difference."""
    import math

    import duckdb

    # premise: DuckDB round() preserves the sign of zero, `+ 0` strips it
    raw, fixed = duckdb.connect().execute(
        "SELECT round(CAST(-1e-9 AS DOUBLE), 6),"
        "       round(CAST(-1e-9 AS DOUBLE), 6) + 0"
    ).fetchone()
    assert raw == 0.0 and math.copysign(1.0, raw) < 0
    assert fixed == 0.0 and math.copysign(1.0, fixed) > 0


def test_curator_facade(spark, sf_dir):
    """The config-driven curation front door composes the existing
    operators lazily and reports the stage funnel; each stage must
    equal its hand-built equivalent."""
    import pytest
    from pyspark.sql import functions as F

    from sarkac_spark.curator import Curator
    from sarkac_spark.operators.dedup import dedup_exact, dedup_minhash
    from sarkac_spark.operators.sampling import domain_cap
    from sarkac_spark.operators.text import gopher_rules
    from sarkac_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    cfg = {
        "quality": {"gopher": True},
        "dedup": {"exact": True, "minhash": {"k": 16, "bands": 4, "threshold": 0.5}},
        "domain_cap": {"domain_col": "source", "cap": 15, "quality_col": "n_chars"},
    }
    cur = Curator(spark, cfg)
    out = cur.apply(d)
    assert out.columns == d.columns  # facade never changes the schema

    # hand-built equivalent of the same composition
    step = gopher_rules(d).filter(F.col("passes") == 1).select(*d.columns)
    canon = dedup_exact(step, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    step = step.join(canon, "doc_id", "semi")
    drop = (
        dedup_minhash(step, "doc_id", "text", k=16, bands=4, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    step = step.join(drop, "doc_id", "left_anti")
    step = domain_cap(step, "source", 15, "n_chars", "doc_id").select(*d.columns)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in step.collect()
    )

    # funnel report: monotone non-increasing counts, one entry per stage
    rep = cur.report(d)
    assert list(rep) == ["input", "quality", "dedup", "domain_cap"]
    vals = list(rep.values())
    assert all(a >= b for a, b in zip(vals, vals[1:]))
    assert vals[0] == d.count()

    with pytest.raises(ValueError):
        Curator(spark, {"nope": {}})


@pytest.mark.slow  # measured >=13 s in the r13 duration profile
def test_audit_report_tool(spark, sf_dir):
    """tools/audit_report.run_audits emits the four QA audits as a
    JSON-serializable report with bounded row counts — the one-command
    pre-launch corpus check (VERDICT round 4, item 8)."""
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from audit_report import AUDITS, run_audits

    rep = run_audits(spark, sf_dir)
    assert set(rep["audits"]) == set(AUDITS)
    blob = json.loads(json.dumps(rep, default=str))  # JSON-round-trippable
    for name, a in blob["audits"].items():
        assert a["n_rows"] == len(a["rows"]) > 0, name
        assert a["n_rows"] < 1000  # aggregate-sized, never corpus-sized
    # the recall audits carry their headline scalar
    recall_cols = {c for r in rep["audits"]["ann_recall"]["rows"] for c in r}
    assert any("recall" in c for c in recall_cols)


@pytest.mark.slow  # measured >=13 s in the r13 duration profile
def test_curator_winnow_chunk_pack_stages(spark, sf_dir):
    """Round-5 stages: winnow (local-overlap drop) equals the hand-built
    keep-lowest-id composition; chunk/pack reshape the output into the
    training-sequence plan; the full funnel exercises every stage in
    application order."""
    from pyspark.sql import functions as F

    from sarkac_spark.curator import Curator
    from sarkac_spark.operators.dedup import winnow_pairs
    from sarkac_spark.operators.text import chunk_documents
    from sarkac_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")

    # winnow stage == direct operator composition
    out = Curator(spark, {"winnow": {"min_shared": 2}}).apply(d)
    drop = {
        r.id_b for r in winnow_pairs(d, "doc_id", "text", min_shared=2).collect()
    }
    assert drop  # fixture plants local overlaps
    assert {r.doc_id for r in out.collect()} == {
        r.doc_id for r in d.collect()
    } - drop

    # chunk -> pack: chunk rows carry a unique chunk_uid; pack appends the
    # sequence plan over the chunk rows without changing their count
    shaped = Curator(
        spark, {"chunk": {"chunk_words": 40, "overlap": 8},
                "pack": {"budget": 64, "n_groups": 4}}
    ).apply(d)
    n_chunks = chunk_documents(d, "doc_id", "text", 40, 8).count()
    assert shaped.count() == n_chunks
    assert {"chunk_uid", "pack_group", "seq_id", "seq_pos"} <= set(shaped.columns)
    assert shaped.select("chunk_uid").distinct().count() == n_chunks
    # pack without chunk: doc rows + plan columns, BPE-ish token counts
    packed_docs = Curator(spark, {"pack": {"budget": 2048}}).apply(d)
    assert packed_docs.count() == d.count()
    assert "seq_id" in packed_docs.columns

    # full funnel: every stage, in the documented application order
    eval_df = d.filter(F.col("doc_id") % 200 == 0).select("doc_id", "text")
    rep = Curator(
        spark,
        {
            "quality": {"gopher": True},
            "decontaminate": {"min_shared": 1},
            "dedup": {"exact": True},
            "winnow": {"min_shared": 2},
            "domain_cap": {"domain_col": "source", "cap": 50,
                           "quality_col": "n_chars"},
            "sample": {"temperature": 0.5, "stratum_col": "lang"},
            "chunk": {"chunk_words": 40, "overlap": 8},
            "pack": {"budget": 64, "n_groups": 4},
        },
    ).report(d, eval_df=eval_df)
    assert list(rep) == [
        "input", "quality", "decontaminate", "dedup", "winnow",
        "domain_cap", "sample", "chunk", "pack",
    ]
    doc_stages = [rep[k] for k in
                  ("input", "quality", "decontaminate", "dedup", "winnow",
                   "domain_cap", "sample")]
    assert all(a >= b for a, b in zip(doc_stages, doc_stages[1:]))
    assert rep["pack"] == rep["chunk"]  # pack is a plan, not a filter


def test_curator_incremental_dedup_stage(spark, sf_dir):
    """dedup: {"incremental": True} treats df as a new ingest batch
    against corpus_df: corpus rows never drop; a batch row loses to any
    corpus near-dup and to lower-id batch mates."""
    import pytest
    from pyspark.sql import functions as F

    from sarkac_spark.curator import Curator
    from sarkac_spark.operators.dedup import (
        dedup_minhash_incremental,
        incremental_exact_dedup,
    )
    from sarkac_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)

    cfg = {"dedup": {"incremental": True, "exact": True,
                     "minhash": {"k": 16, "bands": 4, "threshold": 0.5}}}
    cur = Curator(spark, cfg)
    out = cur.apply(batch, corpus_df=corpus)
    assert out.columns == batch.columns

    # hand-built: exact against the corpus digests, then minhash victims
    seen = corpus.select(F.md5(F.col("text")).alias("text_hash"))
    step = incremental_exact_dedup(batch, seen, "doc_id", "text").select(
        *batch.columns
    )
    combined = corpus.select("doc_id", "text").withColumn(
        "__new", F.lit(False)
    ).unionByName(step.select("doc_id", "text").withColumn("__new", F.lit(True)))
    pairs = dedup_minhash_incremental(
        combined, "doc_id", "text", "__new", k=16, bands=4, threshold=0.5
    ).collect()
    assert pairs  # fixture plants near-dups across the cut
    new_ids = {r.doc_id for r in step.collect()}
    victims = set()
    for p in pairs:
        if p.id_a in new_ids and p.id_b not in new_ids:
            victims.add(p.id_a)
        else:
            victims.add(p.id_b)
    victims &= new_ids
    assert {r.doc_id for r in out.collect()} == new_ids - victims

    # corpus_df is mandatory for the incremental mode
    with pytest.raises(ValueError):
        cur.stages()

    # id-disjointness precondition: a colliding ingest fails LOUDLY in
    # report() (a shared id would silently merge shingle sets and
    # duplicate __new flag rows in dedup_minhash_incremental)
    with pytest.raises(ValueError, match="disjoint"):
        cur.report(batch, corpus_df=corpus.unionByName(batch.limit(1)))


@pytest.mark.slow  # measured >=14 s in the r13 duration profile
def test_formats_jsonl_csv_orc_roundtrip(spark, tmp_path):
    """Ingestion formats: declared-schema JSONL/CSV reads route broken
    lines into the corrupt-record audit instead of failing or silently
    dropping; ORC round-trips; write_dataset caps file sizes."""
    from pyspark.sql import functions as F

    from sarkac_spark.sources.formats import (
        clean_records,
        corrupt_records,
        read_csv,
        read_jsonl,
        write_dataset,
    )

    # JSONL with one broken line
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second"}\n'
        "{broken json here\n"
        '{"doc_id": 4, "text": "fourth"}\n'
    )
    df = read_jsonl(spark, str(p), schema="doc_id long, text string")
    assert corrupt_records(df).count() == 1
    clean = clean_records(df)
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 4]
    assert clean.columns == ["doc_id", "text"]

    # CSV with a type-broken row
    c = tmp_path / "docs.csv"
    c.write_text("doc_id,n\n1,10\n2,notanumber\n3,30\n")
    cdf = read_csv(spark, str(c), schema="doc_id long, n long")
    assert corrupt_records(cdf).count() == 1
    assert sorted(r.doc_id for r in clean_records(cdf).collect()) == [1, 3]

    # ORC roundtrip + maxRecordsPerFile splitting
    src = spark.range(1000).select(F.col("id"), (F.col("id") % 3).alias("g"))
    out = tmp_path / "orc_out"
    write_dataset(src.coalesce(1), str(out), fmt="orc", max_records_per_file=100)
    back = spark.read.orc(str(out))
    assert back.count() == 1000
    n_files = len([f for f in out.iterdir() if f.name.endswith(".orc")])
    assert n_files >= 10  # 1000 rows / 100-row cap from a single task

    # partitioned write produces directory partitions readable back
    pq = tmp_path / "pq_out"
    write_dataset(src, str(pq), partition_by=["g"])
    assert spark.read.parquet(str(pq)).filter("g = 1").count() == 333


def test_curator_sample_stage_and_jsonl_inference(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from sarkac_spark.curator import Curator
    from sarkac_spark.operators.sampling import temperature_sample
    from sarkac_spark.sources.formats import clean_records, read_jsonl
    from sarkac_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    cur = Curator(spark, {"sample": {"temperature": 0.5, "stratum_col": "lang"}})
    out = {r.doc_id for r in cur.apply(d).collect()}
    expect = {
        r.doc_id for r in temperature_sample(d, "doc_id", "lang", alpha=0.5).collect()
    }
    assert out == expect  # facade stage == direct operator call

    # read_jsonl bootstrap: schema inferred from a small sample file,
    # then applied to the full read with corrupt capture intact
    sample = tmp_path / "sample.jsonl"
    sample.write_text('{"doc_id": 1, "text": "a"}\n')
    full = tmp_path / "full.jsonl"
    full.write_text('{"doc_id": 1, "text": "a"}\n{"doc_id": 2, "text": "b"}\nnope\n')
    df = read_jsonl(spark, str(full), sample_path=str(sample))
    clean = clean_records(df)
    assert set(clean.columns) == {"doc_id", "text"}
    assert clean.count() == 2


def test_remaining_stage_branches(spark, sf_dir):
    """Branch coverage for the round-4 additions: Curator min_score and
    sample budget, grouped fixed_histogram_estimate, and the
    streaming_histogram bounds guard."""
    import pytest
    from pyspark.sql import functions as F

    from sarkac_spark.curator import Curator
    from sarkac_spark.operators.sketch import fixed_histogram_estimate
    from sarkac_spark.operators.text import quality_score
    from sarkac_spark.sources.tables import load_table
    from sarkac_spark.streaming.pipeline import streaming_histogram

    d = load_table(spark, sf_dir, "documents")

    # quality.min_score == direct quality_score cutoff
    out = Curator(spark, {"quality": {"min_score": 0.5}}).apply(d)
    expect = quality_score(d, "text").filter(F.col("quality_score") >= 0.5)
    assert out.count() == expect.count()

    # sample.budget thins toward the requested total (hash-Bernoulli:
    # binomial noise around the target)
    n = Curator(
        spark, {"sample": {"temperature": 0.5, "stratum_col": "lang", "budget": 100}}
    ).apply(d).count()
    assert 60 <= n <= 140

    # grouped fixed-bounds estimate: per-group quantiles, exact groups
    hist = spark.createDataFrame(
        [("a", b, 10) for b in range(10)] + [("b", 0, 100)],
        "g string, bin long, c long",
    )
    est = {
        r.g: r for r in fixed_histogram_estimate(hist, ["g"], 0.0, 100.0, k=10).collect()
    }
    assert est["a"].n == 100 and est["b"].n == 100
    assert est["b"].p50_est == 10.0  # all mass in bin 0 -> first edge
    assert est["a"].p50_est == 50.0  # uniform mass -> middle edge

    with pytest.raises(ValueError):
        streaming_histogram(None, "v", 5.0, 5.0)


def test_curator_decontaminate_stage(spark, sf_dir):
    import pytest
    from pyspark.sql import functions as F

    from sarkac_spark.curator import Curator
    from sarkac_spark.operators.dedup import cross_contamination
    from sarkac_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    # "benchmark": a handful of real docs — their train-side shingle
    # twins must be dropped
    eval_df = d.filter(F.col("doc_id") % 100 == 0).select("doc_id", "text")
    cur = Curator(spark, {"decontaminate": {"min_shared": 1}})
    out = cur.apply(d, eval_df=eval_df)
    dirty = {
        r.train_id
        for r in cross_contamination(d, eval_df, "doc_id", "text").collect()
    }
    assert dirty  # eval docs overlap themselves in train at minimum
    kept = {r.doc_id for r in out.collect()}
    assert kept == {r.doc_id for r in d.collect()} - dirty

    with pytest.raises(ValueError):  # stage configured, eval_df missing
        cur.apply(d)


def test_fit_queries_smoke(spark):
    """The pytest-only iterative fits (MLlib trio + BPE train loop) run
    end-to-end at sf0.001 with rows and a stable schema — the coverage
    the driver's rows-only checks used to provide, now owned by pytest
    so the driver record stays machine-clean."""
    from sarkac_spark.queries import fit_queries

    want_cols = {
        "kmeans_anomaly": {"event_id", "dist", "cluster"},
        "lsh_isolation": {"vec_id", "mean_bucket_size"},
        "mllib_minhash": {"id_a", "id_b", "jaccard_sim"},
        "bpe_tokenize": None,  # schema pinned by its own bpe tests
    }
    for name, fn in fit_queries().items():
        df = fn(spark, "/root/testdata/sf0.001")
        rows = df.collect()
        assert rows is not None  # ran to completion
        if want_cols[name]:
            assert set(df.columns) == want_cols[name]
