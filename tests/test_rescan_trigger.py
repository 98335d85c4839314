"""The foreachBatch (rescan) engine's trigger runs in the JVM alone: no
physical plan it executes holds a Python operator or a Python-built
RDD relation, so no Python worker is started, and an anomaly trigger
runs three actions (store write, head collect, anomaly write). Its plan
is built in a few hundred py4j round trips, and DSL text reaches that
plan only as Column literals."""

from __future__ import annotations

import json
import os
import re

import py4j.clientserver
import pytest
from pyspark.sql import DataFrameWriter, functions as F

from sarkac_spark.config import DSL
from sarkac_spark.sources.synthetic import TOPIC, example_messages
from sarkac_spark.streaming.pipeline import (
    SigmaStreamConfig,
    SigmaStreamPipeline,
    extract_fields,
)

# py4j round trips a steady trigger of the fixture below may make. Built
# from Column chains with PySpark's call-site capture on, it made about
# 2,570; with capture off but the same chains, about 1,050.
ROUND_TRIP_BUDGET = 500

PYTHON_NODES = re.compile(
    r"FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython|MapInPandas|Scan ExistingRDD"
)


@pytest.fixture
def plans(spark, monkeypatch):
    """Physical plan of every action run while the fixture is live."""
    frame_cls = type(spark.range(0))  # the classic DataFrame subclass
    seen = []

    def capture(df):
        seen.append(df._jdf.queryExecution().executedPlan().toString())

    def wrap(cls, name, frame=lambda df: df):
        real = getattr(cls, name)

        def action(self, *a, **k):
            capture(frame(self))
            return real(self, *a, **k)

        monkeypatch.setattr(cls, name, action)

    wrap(frame_cls, "collect")
    wrap(frame_cls, "count")
    wrap(DataFrameWriter, "parquet", lambda w: w._df)
    return seen


def _two_trigger_fixture(spark, tmp_path):
    """A pipeline over 96 fixture messages read from parquet, and the
    two halves of them, one per trigger."""
    src = str(tmp_path / "src")
    example_messages(spark, n=96).write.parquet(src)
    msgs = spark.read.schema("topic string, key string, value string, ts timestamp").parquet(src)
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"),
        anomaly_dir=str(tmp_path / "anoms"),
        # spikes every 30 s, dips every 60 s: a 150 s clock started in
        # the first trigger still runs into the second
        cooldown_seconds=150,
    )
    fields = {"sub.one": {"windows": ["5m"]}, "two": {"windows": ["5m"]}}
    dsl = DSL.parse({TOPIC: {"fields": fields}})
    key = F.col("key").cast("long")
    return SigmaStreamPipeline(spark, dsl, cfg), msgs.filter(key < 48), msgs.filter(key >= 48)


def test_rescan_trigger_runs_no_python(spark, tmp_path, plans):
    p, first_half, second_half = _two_trigger_fixture(spark, tmp_path)
    cfg = p.cfg
    del plans[:]  # the fixture's input write is Python-built
    p.process_batch(first_half, 0)
    first = list(plans)
    assert os.path.exists(os.path.join(cfg.anomaly_dir, "epoch=0"))
    del plans[:]
    p.process_batch(second_half, 1)
    second = list(plans)

    for plan in first + second:
        assert not PYTHON_NODES.search(plan), plan
    assert len(first) == len(second) == 3
    # the second trigger's cooldown is seeded from the first's sink rows
    assert any(cfg.anomaly_dir in plan for plan in second)
    # unseeded, the second trigger would emit sub.one 59 and two 71
    emitted = sorted(
        (r.epoch, r.path, int(r.key)) for r in spark.read.parquet(cfg.anomaly_dir).collect()
    )
    assert emitted == [(0, "sub.one", 11), (0, "two", 23), (1, "sub.one", 71), (1, "two", 95)]


def test_seeded_trigger_stays_within_round_trip_budget(spark, tmp_path, monkeypatch):
    """The second trigger (store non-empty, cooldown seeded from the
    sink) builds its plans in at most ``ROUND_TRIP_BUDGET`` py4j calls:
    fixed-shape projections are one SQL string each, and the DSL's
    extraction Columns are reused from the first trigger."""
    p, first_half, second_half = _two_trigger_fixture(spark, tmp_path)
    p.process_batch(first_half, 0)
    conn = py4j.clientserver.ClientServerConnection
    send, calls = conn.send_command, []

    def counted(self, *a, **k):
        calls.append(1)
        return send(self, *a, **k)

    monkeypatch.setattr(conn, "send_command", counted)
    p.process_batch(second_half, 1)
    monkeypatch.undo()
    assert 0 < len(calls) <= ROUND_TRIP_BUDGET, len(calls)
    assert spark.read.parquet(p.cfg.anomaly_dir).filter("epoch = 1").count() == 2


def test_extraction_keeps_dsl_text_out_of_sql(spark, tmp_path):
    """A topic and paths that would break SQL text if interpolated (a
    quote, a double quote, an index, a dot in a key) extract the same
    rows through the pipeline's per-DSL Columns, on first build and on
    reuse, as plain ``extract_fields`` and a Python reading of the JSON."""
    topic = 'o\'brien "x"'
    paths = ["readings[0]", "sub.one", "it's"]
    payloads = [
        {"readings": [1.5, 9.0], "sub": {"one": 2.5}, "it's": 7},
        {"readings": [], "sub": {"one": "n/a"}},
        {"readings": [-3], "it's": 0.25},
    ]
    rows = [(topic, str(i), json.dumps(d), None) for i, d in enumerate(payloads)]
    rows.append(("o'brien", "9", json.dumps(payloads[0]), None))  # not in the DSL
    batch = spark.createDataFrame(rows, "topic string, key string, value string, ts timestamp")
    dsl = DSL.parse({topic: {"fields": {p: {"windows": ["5m"]} for p in paths}}})

    # "n/a" is not numeric and the empty list has no [0]: both skipped
    want = sorted(
        [
            (topic, "readings[0]", 1.5),
            (topic, "sub.one", 2.5),
            (topic, "it's", 7.0),
            (topic, "readings[0]", -3.0),
            (topic, "it's", 0.25),
        ]
    )
    cfg = SigmaStreamConfig(str(tmp_path / "store"), str(tmp_path / "anoms"))
    pipeline = SigmaStreamPipeline(spark, dsl, cfg)

    def got(df):
        return sorted((r.topic, r.field_path, r.value) for r in df.collect())

    assert got(extract_fields(batch, dsl)) == want
    assert got(pipeline.extract(batch)) == want
    assert got(pipeline.extract(batch)) == want  # the kept Columns


def test_task_filter_follows_a_dsl_change(spark, tmp_path):
    """Live discovery swaps ``dsl`` between triggers: a series added to
    a non-empty DSL is scored and emitted from the next trigger on."""
    cfg = SigmaStreamConfig(
        store_dir=str(tmp_path / "store"), anomaly_dir=str(tmp_path / "anoms"), cooldown_seconds=0
    )
    one = {"sub.one": {"windows": ["5m"]}}
    p = SigmaStreamPipeline(spark, DSL.parse({TOPIC: {"fields": one}}), cfg)
    msgs = example_messages(spark, n=96)
    key = F.col("key").cast("long")
    p.process_batch(msgs.filter(key < 48), 0)
    p.dsl = DSL.parse({TOPIC: {"fields": {**one, "two": {"windows": ["5m"]}}}})
    p.process_batch(msgs.filter(key >= 48), 1)
    paths = {(r.epoch, r.path) for r in spark.read.parquet(cfg.anomaly_dir).collect()}
    assert paths == {(0, "sub.one"), (1, "sub.one"), (1, "two")}
