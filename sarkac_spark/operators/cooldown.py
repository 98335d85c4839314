"""Anomaly re-emit cooldown (W6).

After emitting an anomaly for a (topic, path, window), the reference
suppresses further emits for that key for 2 minutes via an in-memory TTL
cache (lib/dsl/DSLHandler.js:13,199-210) — emit-first-then-suppress,
where each *emitted* anomaly starts the 2-minute clock.

Two implementations:

- ``cooldown_bucketed``: first anomaly per key per aligned 120 s bucket.
  Pure relational (window function), SQL-expressible, scale-free — the
  semantics of ``dropDuplicatesWithinWatermark`` in the streaming lift.
  Differs from the reference only when anomalies straddle a bucket edge
  within 120 s of each other.
- ``cooldown_exact``: the reference's exact sequential semantics as a
  JVM walk per key, optionally seeded with each key's last emit (the
  foreachBatch engine seeds it from its anomaly sink's earlier epochs).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F

from sarkac_spark.config import ANOMALY_COOLDOWN_SECONDS
from sarkac_spark.functions.sqltext import epoch_us, ident


def _epoch_us(df: DataFrame, ts_col: str) -> str:
    """Epoch-microseconds SQL: long columns pass through (already
    epoch-us, e.g. sigma_scan's ``event_ts_us``); timestamps convert."""
    if dict(df.dtypes)[ts_col] in ("bigint", "int", "long"):
        return ident(ts_col)
    return epoch_us(ident(ts_col))


def cooldown_bucketed(
    anomalies: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    cooldown_seconds: int = ANOMALY_COOLDOWN_SECONDS,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Keep the earliest anomaly per key per aligned cooldown bucket.
    Pass ``tiebreak_cols`` (a unique id) when timestamps can collide, so
    "earliest" is deterministic for oracle comparison."""
    # bucket start in epoch-us — pure integer arithmetic, so the DuckDB
    # oracle (epoch_us - epoch_us % N) is bit-identical
    epoch = F.expr(_epoch_us(anomalies, ts_col))
    bucket = epoch - (epoch % F.lit(cooldown_seconds * 1_000_000))
    w = W.partitionBy(*key_cols, bucket).orderBy(epoch, *tiebreak_cols)
    return (
        anomalies.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cooldown_exact(
    anomalies: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    cooldown_seconds: int = ANOMALY_COOLDOWN_SECONDS,
    seed: DataFrame | None = None,
) -> DataFrame:
    """Reference-exact emit-then-suppress: scan each key's anomalies in
    time order; emit one, drop everything in the next ``cooldown`` window,
    emit the next survivor, repeat. ``seed`` (``key_cols`` +
    ``last_emit_us``, epoch micros) starts a key's clock at an earlier
    emit; unseeded keys start fresh.

    One JVM pass per key: its rows, sorted by (ts, then every column, so
    ties break the same way on every run), are walked by ``aggregate``
    carrying (last emit, kept rows). Appending to the kept array costs
    O(k^2) in k, the key's anomalies per call: fine while anomalies are
    rare (the streaming engine's k is capped by ``maxOffsetsPerTrigger``)."""
    cols = ", ".join(map(ident, anomalies.columns))
    # (ts, row) structs sort by ts, then by the whole row
    row = f"struct({_epoch_us(anomalies, ts_col)} AS __t, struct({cols}) AS __row)"
    rows = anomalies.groupBy(*key_cols).agg(F.expr(f"array_sort(collect_list({row})) AS __rows"))
    last = "CAST(NULL AS BIGINT)"
    if seed is not None:
        keys = [ident(k) for k in (*key_cols, "last_emit_us")]
        rows = rows.join(seed.selectExpr(*keys), list(key_cols), "left")
        last = "last_emit_us"
    emit = f"acc.last IS NULL OR x.__t - acc.last >= {int(cooldown_seconds) * 1_000_000}"
    taken = "struct(x.__t AS last, concat(acc.kept, array(x.__row)) AS kept)"
    none_kept = "transform(filter(__rows, x -> false), x -> x.__row)"  # typed empty array
    walk = (
        f"aggregate(__rows, struct({last} AS last, {none_kept} AS kept), "
        f"(acc, x) -> CASE WHEN {emit} THEN {taken} ELSE acc END, acc -> acc.kept)"
    )
    return rows.selectExpr(f"inline({walk})")
