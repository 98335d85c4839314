"""Trailing-window statistics — the reference's entire "query engine".

The reference computes, per (topic, field, window), over a *trailing*
interval ``produced >= now - window``:

- mean   (named "median"; reference admits no median support,
  lib/db/model/SigmaModel.js:48)        -> A1
- population stddev (SigmaModel.js:75-100)  -> A2
- count, with a ``count >= 3`` min-support guard
  (SigmaModel.js:102-122, DSLHandler.js:243-254)  -> A3
- the (topic x field x window) fan-out is a driver-side task list with
  concurrency 2 (DSLHandler.js:272-314)  -> A6

Scale design: the whole cross product is ONE grouped aggregation with
per-window *conditional* aggregates — a single scan and a single shuffle
regardless of how many windows are configured (trailing windows nest, so
exploding rows per window would duplicate the fact stream W times before
the shuffle; conditional aggregation keeps it 1x with map-side partial
aggregation). The wide result (a few columns per window) is then unpivoted
with ``stack`` into the long (group, window, mean, stddev, n) shape —
that unpivot runs on the already-aggregated, tiny relation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from sarkac_spark.config import MIN_EVENTS_FOR_STATS
from sarkac_spark.functions.sqltext import epoch_us, ident


def with_as_of(
    df: DataFrame, ts_col: str = "ts", as_of_col: str = "as_of"
) -> DataFrame:
    """Attach the evaluation instant as a column.

    The reference uses wall-clock ``Date.now()`` in every stats query
    (SigmaModel.js:54,81,108); for deterministic batch evaluation we pin
    "now" to ``max(ts)`` of the input. Computed as a 1-row aggregate
    broadcast-nested-loop-joined to the fact stream — no driver collect,
    scale-independent.
    """
    as_of = df.agg(F.max(ts_col).alias(as_of_col))
    return df.crossJoin(F.broadcast(as_of))


def _in_window_sql(ts_col: str, as_of_col: str, window_seconds: int) -> str:
    # epoch-microsecond arithmetic: exact, type-stable, and identical to
    # the DuckDB oracle's `epoch_us(ts) >= epoch_us(as_of) - w*1e6`.
    return (
        f"{epoch_us(ident(ts_col))} >= "
        f"{epoch_us(ident(as_of_col))} - {int(window_seconds) * 1_000_000}"
    )


def _in_window(ts_col: str, as_of_col: str, window_seconds: int) -> Column:
    return F.expr(_in_window_sql(ts_col, as_of_col, window_seconds))


def trailing_window_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ts_col: str,
    windows: Sequence[int],
    min_count: int = MIN_EVENTS_FOR_STATS,
    as_of_col: str | None = None,
) -> DataFrame:
    """Stats per (group x trailing window), evaluated at ``as_of``.

    Returns ``group_cols + (window_seconds, mean, stddev_pop, n)`` with the
    reference's min-support guard applied (count < min_count rows dropped —
    the analogue of "clear the cache entry", DSLHandler.js:243-254).

    One scan + one shuffle for ALL windows (see module docstring).
    """
    if as_of_col is None:
        df = with_as_of(df, ts_col=ts_col, as_of_col="__as_of")
        as_of_col = "__as_of"
    windows = sorted(set(windows))

    aggs: list[Column] = []
    for w in windows:
        # one SQL string per aggregate: a streaming trigger rebuilds
        # this plan, and a Column chain costs a py4j call per step
        cond_val = f"CASE WHEN {_in_window_sql(ts_col, as_of_col, w)} THEN {ident(value_col)} END"
        aggs.append(F.expr(f"avg({cond_val}) AS __mean_{w}"))
        aggs.append(F.expr(f"stddev_pop({cond_val}) AS __std_{w}"))
        aggs.append(F.expr(f"count({cond_val}) AS __n_{w}"))

    wide = df.groupBy(*group_cols).agg(*aggs)

    stack_args = ", ".join(
        f"bigint({w}), __mean_{w}, __std_{w}, __n_{w}" for w in windows
    )
    stacked = wide.selectExpr(
        *group_cols,
        f"stack({len(windows)}, {stack_args}) AS (window_seconds, mean, stddev_pop, n)",
    )
    return stacked.filter(f"n >= {int(min_count)}")


def trailing_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ts_col: str,
    windows: Sequence[int],
    probs: Sequence[float] = (0.5, 0.95, 0.99),
    min_count: int = MIN_EVENTS_FOR_STATS,
    round_digits: int = 6,
) -> DataFrame:
    """Exact percentiles per (group x trailing window) — the latency-SLO
    companion to ``trailing_window_stats`` (p95/p99 is what one actually
    alerts on for heavy-tailed series; mean/stddev is blind to tails).

    Same scale shape as the stats op: ONE scan + ONE shuffle for all
    (window x prob) cells via conditional aggregates, then the stack
    unpivot on the tiny wide result. Spark's ``percentile`` is the exact
    interpolated quantile and is bit-identical to DuckDB's
    ``quantile_cont`` (verified in the oracle gate), so no rounding
    slack is needed beyond the standard 6 digits.

    Exactness at 100 TB: ``percentile`` buffers each group x window's
    in-window values on the reducer; with bounded windows that is the
    retained series per key, same memory class as the store itself. For
    unbounded inputs switch to ``approx_percentile`` (t-digest, fixed
    memory) and drop the oracle to rows-only.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    as_of_col = "__as_of"
    df = with_as_of(df, ts_col=ts_col, as_of_col=as_of_col)
    windows = sorted(set(windows))

    def p_alias(w: int, p: float) -> str:
        return f"__p{str(p).replace('.', '_')}_{w}"

    aggs: list[Column] = []
    for w in windows:
        cond_val = F.when(_in_window(ts_col, as_of_col, w), F.col(value_col))
        for p in probs:
            aggs.append(
                F.round(F.percentile(cond_val, F.lit(p)), round_digits).alias(
                    p_alias(w, p)
                )
            )
        aggs.append(F.count(cond_val).alias(f"__n_{w}"))
    wide = df.groupBy(*group_cols).agg(*aggs)

    out_cols = [f"p{round(p * 100)}" for p in probs]  # 0.5 -> p50
    stack_args = ", ".join(
        f"bigint({w}), " + ", ".join(p_alias(w, p) for p in probs) + f", __n_{w}"
        for w in windows
    )
    stacked = wide.selectExpr(
        *group_cols,
        f"stack({len(windows)}, {stack_args}) AS (window_seconds, "
        + ", ".join(out_cols)
        + ", n)",
    )
    return stacked.filter(F.col("n") >= min_count)


def retention_filter(
    df: DataFrame,
    ts_col: str,
    retention_seconds: int,
    as_of_col: str | None = None,
) -> DataFrame:
    """Drop rows older than the retention horizon (max window) — the batch
    analogue of the reference's pre-scan delete (SigmaModel.js:39-45,
    DSLHandler.js:240-241). In streaming this is ``withWatermark`` state
    eviction instead."""
    if as_of_col is None:
        df = with_as_of(df, ts_col=ts_col, as_of_col="__as_of")
        as_of_col = "__as_of"
    return df.filter(_in_window(ts_col, as_of_col, retention_seconds))


def total_count(df: DataFrame) -> DataFrame:
    """A4: total stored events (reference SigmaModel.js:124-143, for the
    /status endpoint)."""
    return df.agg(F.count(F.lit(1)).alias("n_events"))


def rate_series(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """W7: message-rate series — count per (group, aligned time bucket).

    The reference *intends* a ``__topic_frequency`` virtual field (1 per
    message, DSLHandler.js:14-15,30-35,133-146) but the shipped code never
    stores it (the synthetic message lacks .value/.topic, so getByPath
    throws and is swallowed — DSLHandler.js:156,161-164). This implements
    the intent: bucketed counts that can then be sigma-scored like any
    value series.
    """
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket_us = epoch - (epoch % F.lit(bucket_seconds * 1_000_000))
    return (
        df.groupBy(*group_cols, bucket_us.alias("bucket_us"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "bucket_ts",
            F.timestamp_micros(F.col("bucket_us")).cast("timestamp_ntz"),
        )
    )


def latest_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Upsert compaction: the newest record per key — the CDC/state-store
    materialization primitive (the batch analogue of the streaming value
    store's per-key last value). One shuffle on the key; the row_number
    window with (ts desc, tiebreaks desc) total order keeps the result
    deterministic when timestamps collide.

    At scale this is the standard log->snapshot compaction: partial
    aggregation does NOT apply to row_number, but the shuffle moves only
    the surviving columns, and AQE handles key skew. For continuously
    arriving logs the streaming twin is the keyed state store
    (streaming/pipeline.py) rather than a recurrent full re-sort.
    """
    from pyspark.sql.window import Window

    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# cap the decay exponent: 2^62 still fits a signed 64-bit weight divisor,
# and anything past ~40 half-lives contributes < 1e-12 of a point anyway
DECAY_MAX_BUCKETS = 40


def decayed_stats(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ts_col: str,
    half_life_seconds: int,
    as_of_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Half-life-decayed mean per group — the modern replacement for the
    reference's fixed trailing windows: instead of a hard cliff at the
    window edge, each point's weight halves every ``half_life_seconds``.
    One scan + one shuffle (plain grouped aggregation, map-side partials
    apply — unlike rank-based ops).

    Cross-engine exactness: ages are bucketed to integer half-life
    multiples and the weight is ``1 / (1 << k)`` — an exact power of
    two in IEEE arithmetic on BOTH engines (``pow(2.0, -x)`` differs in
    the last ulp between engines; integer shifts cannot). The
    value*weight products are exact scalings; only the final sums are
    order-dependent, absorbed by the 6-decimal round.

    Output: group_cols + (decayed_mean, weight_mass, n).
    """
    if as_of_col is None:
        df = with_as_of(df, ts_col=ts_col, as_of_col="__as_of")
        as_of_col = "__as_of"
    age_us = F.unix_micros(F.col(as_of_col).cast("timestamp")) - F.unix_micros(
        F.col(ts_col).cast("timestamp")
    )
    k = F.least(
        F.floor(age_us / F.lit(half_life_seconds * 1_000_000)).cast("int"),
        F.lit(DECAY_MAX_BUCKETS),
    )
    # PySpark's shiftleft() only takes a literal bit count; the SQL form
    # accepts a column exponent
    df = df.withColumn("__k", k)
    w = F.lit(1.0) / F.expr("cast(shiftleft(1L, __k) as double)")
    return df.groupBy(*group_cols).agg(
        F.round(F.sum(F.col(value_col) * w) / F.sum(w), round_digits).alias(
            "decayed_mean"
        ),
        F.round(F.sum(w), round_digits).alias("weight_mass"),
        F.count(F.lit(1)).alias("n"),
    )
