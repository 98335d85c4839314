"""The foreachBatch (rescan) engine's trigger runs in the JVM alone: no
physical plan it executes holds a Python operator or a Python-built
RDD relation, so no Python worker is started, and an anomaly trigger
runs three actions (store write, head collect, anomaly write)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import DataFrameWriter, functions as F

from sarkac_spark.config import DSL
from sarkac_spark.sources.synthetic import TOPIC, example_messages
from sarkac_spark.streaming.pipeline import SigmaStreamConfig, SigmaStreamPipeline

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


def test_rescan_trigger_runs_no_python(spark, tmp_path, plans):
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
    p = SigmaStreamPipeline(spark, dsl, cfg)
    key = F.col("key").cast("long")
    del plans[:]  # the fixture's input write is Python-built
    p.process_batch(msgs.filter(key < 48), 0)
    first = list(plans)
    assert os.path.exists(os.path.join(cfg.anomaly_dir, "epoch=0"))
    del plans[:]
    p.process_batch(msgs.filter(key >= 48), 1)
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
