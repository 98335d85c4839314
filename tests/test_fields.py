"""Path projection (P1), store fan-out, discovery flattening, cooldown."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from sarkac_spark.functions.paths import (
    json_path_expr,
    normalize_path,
    numeric_leaf,
    struct_path_col,
)
from sarkac_spark.operators.cooldown import cooldown_bucketed, cooldown_exact
from sarkac_spark.operators.discovery import (
    apply_blacklist,
    field_list_hash,
    numeric_leaf_paths,
    numeric_leaf_paths_of_json,
    topic_diff,
)
from sarkac_spark.operators.fields import to_sigma_store

JSON_SAMPLE = '{"sub": {"one": 15.5}, "two": 16, "name": "x", "arr": [1, "s", {"v": 2}], "flag": true, "nul": null}'


def test_normalize_path():
    assert normalize_path("a[3].b") == "a.3.b"
    assert normalize_path("a.b") == "a.b"


def test_json_path_extraction(spark):
    df = spark.createDataFrame([(JSON_SAMPLE,)], "payload string")
    row = df.select(
        numeric_leaf("payload", "sub.one").alias("one"),
        numeric_leaf("payload", "two").alias("two"),
        numeric_leaf("payload", "arr[0]").alias("a0"),
        numeric_leaf("payload", "arr[2].v").alias("a2v"),
        numeric_leaf("payload", "name").alias("nonnum"),
        numeric_leaf("payload", "missing.leaf").alias("miss"),
    ).collect()[0]
    assert row.one == 15.5 and row.two == 16.0
    assert row.a0 == 1.0 and row.a2v == 2.0
    assert row.nonnum is None and row.miss is None  # P4 null-on-miss


def test_scalar_root_payload(spark):
    # non-object payloads are tracked under the empty path ""
    # (FieldIdentifier.js:24-29): get_json_object("$") returns the scalar
    df = spark.createDataFrame(
        [("15.5",), ('{"a": 1}',), ("null",), ("not json",)], "payload string"
    )
    got = [r.v for r in df.select(numeric_leaf("payload", "").alias("v")).collect()]
    assert got[0] == 15.5  # scalar root tracked
    assert got[1] is None  # object root is not a numeric leaf
    assert got[2] is None and got[3] is None


def test_struct_path_col(spark):
    df = spark.createDataFrame(
        [((15.5,), [1, 2, 3])],
        "sub struct<one double>, arr array<int>",
    )
    row = df.select(
        struct_path_col("sub.one").alias("one"),
        struct_path_col("arr[1]").alias("a1"),
    ).collect()[0]
    assert row.one == 15.5 and row.a1 == 2


def test_numeric_leaf_paths_of_json():
    import json

    paths = numeric_leaf_paths_of_json(json.loads(JSON_SAMPLE))
    # numbers tracked, arrays indexed, strings/bools/nulls skipped
    assert paths == ["sub.one", "two", "arr.0", "arr.2.v"]
    # scalar root -> empty path (FieldIdentifier.js:24-29)
    assert numeric_leaf_paths_of_json(5.0) == [""]
    assert numeric_leaf_paths_of_json("str") == []


def test_numeric_leaf_paths_schema(spark):
    df = spark.createDataFrame(
        [],
        "a struct<b double, c string>, d long, e binary, f array<double>",
    )
    assert numeric_leaf_paths(df.schema) == ["a.b", "d", "f"]


def test_field_list_hash_change_detection():
    h1 = field_list_hash(["a", "b"])
    assert field_list_hash(["b", "a"]) == h1  # order-insensitive
    assert field_list_hash(["a", "b", "c"]) != h1


def test_topic_diff_and_blacklist():
    new, deleted = topic_diff(["a", "b"], ["b", "c"])
    assert new == ["c"] and deleted == ["a"]
    assert apply_blacklist(["a", "b", "out"], ["out"]) == ["a", "b"]


def test_to_sigma_store(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "t", 5.0, '{"k": 7}'),
         (2, dt.datetime(2024, 1, 2), "t", None, '{"k": "bad"}')],
        "event_id long, ts timestamp, event_type string, value double, props string",
    )
    st = to_sigma_store(
        df,
        topic_col="event_type",
        ts_col="ts",
        fields={"value": F.col("value"), "props.k": numeric_leaf("props", "k")},
        extra_cols=["event_id"],
    )
    rows = {(r.event_id, r.field_path): r.value for r in st.collect()}
    # row 2 contributes nothing: null value + non-numeric k both filtered
    assert rows == {(1, "value"): 5.0, (1, "props.k"): 7.0}


def _anoms(spark, ts_offsets):
    t0 = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [(i, "t", "p", t0 + dt.timedelta(seconds=s)) for i, s in enumerate(ts_offsets)],
        "event_id long, topic string, path string, ts timestamp",
    )


def test_cooldown_exact_emit_then_suppress(spark):
    # emits at 0; 60 and 110 suppressed; 130 emitted (>=120 after 0);
    # 240 suppressed (<120 after 130); 260 emitted
    df = _anoms(spark, [0, 60, 110, 130, 240, 260])
    kept = sorted(
        r.event_id for r in cooldown_exact(df, ["topic", "path"], "ts").collect()
    )
    assert kept == [0, 3, 5]


def _walk(rows, seed, cd_us):
    """Plain-Python emit-then-suppress over (event_id, topic, path,
    ts_us) rows, in (ts, row) order per key, each key's clock started at
    its ``seed`` last emit when it has one."""
    last, kept = dict(seed), []
    for r in sorted(rows, key=lambda r: (r[3], r)):
        key = r[1:3]
        if key not in last or r[3] - last[key] >= cd_us:
            kept.append(r)
            last[key] = r[3]
    return sorted(kept)


@pytest.mark.parametrize("cooldown_seconds", [0, 120])
def test_cooldown_exact_matches_python_walk(spark, cooldown_seconds):
    """The JVM walk equals the plain-Python one on random anomalies over
    several keys, with tied timestamps (10 s grid) and seeded and
    unseeded keys; ties go to the smaller row, on every run."""
    rng = random.Random(7)
    keys = [(t, p) for t in ("a", "b", "c") for p in ("x", "y")]
    rows = [
        (i, *rng.choice(keys), rng.randrange(60) * 10_000_000) for i in range(300)
    ]
    # a seed 100 s before the first tick (still cooling at 120 s), one
    # far in the past, one after every row, one for a key with no rows
    seed = {
        ("a", "x"): -100_000_000,
        ("b", "y"): -10**12,
        ("c", "x"): 10**12,
        ("z", "z"): 0,
    }
    df = spark.createDataFrame(rows, "event_id long, topic string, path string, ts long")
    seed_df = spark.createDataFrame(
        [(t, p, us) for (t, p), us in seed.items()],
        "topic string, path string, last_emit_us long",
    )
    cd_us = cooldown_seconds * 1_000_000
    for s, s_df in ((seed, seed_df), ({}, None)):
        got = cooldown_exact(df, ["topic", "path"], "ts", cooldown_seconds, seed=s_df)
        assert got.columns == df.columns
        assert sorted(map(tuple, got.collect())) == _walk(rows, s, cd_us)


def test_cooldown_bucketed(spark):
    # aligned 120s buckets: [0,120) keeps first, [120,240) keeps first, ...
    df = _anoms(spark, [0, 60, 130, 250])
    kept = sorted(
        r.event_id
        for r in cooldown_bucketed(
            df, ["topic", "path"], "ts", tiebreak_cols=("event_id",)
        ).collect()
    )
    assert kept == [0, 2, 3]
