"""``get_spark`` session defaults."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import SparkSession

from sarkac_spark.session import DATAFRAME_DEBUGGING, get_spark


def test_session_turns_call_site_capture_off(spark):
    assert spark.conf.get(DATAFRAME_DEBUGGING) == "false"


def test_extra_conf_overrides_call_site_default(monkeypatch):
    """The default is set before ``extra_conf`` is applied, so a caller
    can opt back in. Checked on the builder's options: the flag only
    takes effect in a process whose first session carries it."""
    seen = []

    def get_or_create(builder):
        seen.append(dict(builder._options))
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    get_spark("default", master="local[1]")
    get_spark("opt_in", master="local[1]", extra_conf={DATAFRAME_DEBUGGING: "true"})
    assert [o[DATAFRAME_DEBUGGING] for o in seen] == ["false", "true"]
