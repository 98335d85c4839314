"""The 3-sigma anomaly scan — the reference's flagship computation.

Score: ``threeSigma = (value - mean) / (3 * stddev)``; anomaly iff
``|threeSigma| > 1`` (the 68-95-99.7 rule, reference
lib/dsl/DSLHandler.js:191-192, README.md:32-33). Guards replicated
behaviorally: stddev = 0 suppresses the score (the reference drops
+/-Infinity, DSLHandler.js:194-197); fewer than 3 events in the window
means no stats and therefore no score (DSLHandler.js:243-254).

Plan shape (the Spark-first translation of the reference's
cache-then-score hot path, DSLHandler.js:178-234):

    facts -> trailing_window_stats (1 shuffle, tiny output)
          -> facts JOIN broadcast(stats) ON group key   (no shuffle)
          -> score + filter                              (codegen'd)

The stats side is |groups| x |windows| rows — always broadcastable, so the
scoring pass is a map-only stage over the fact stream: exactly the
reference's "scoring reads only the cache" design (DSLHandler.js:166,
182-189), but expressed relationally so it holds at any scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from sarkac_spark.config import MIN_EVENTS_FOR_STATS, humanize_duration
from sarkac_spark.functions.sqltext import epoch_us, ident
from sarkac_spark.operators.stats import trailing_window_stats
from sarkac_spark.plans.audit import lazy_checkpoint


def score_three_sigma(
    df: DataFrame,
    value_col: str = "value",
    mean_col: str = "mean",
    stddev_col: str = "stddev_pop",
    out_col: str = "three_sigma",
) -> DataFrame:
    """Attach the 3-sigma score; rows with stddev<=0 get NULL (the
    reference's Infinity guard, DSLHandler.js:194-197)."""
    v, m, s = ident(value_col), ident(mean_col), ident(stddev_col)
    return df.withColumn(out_col, F.expr(f"CASE WHEN {s} > 0 THEN ({v} - {m}) / (3.0D * {s}) END"))


def sigma_scan(
    df: DataFrame,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    ts_col: str = "ts",
    windows: Sequence[int] = (86400,),
    min_count: int = MIN_EVENTS_FOR_STATS,
    path: str = "value",
    path_col: str | None = None,
    round_digits: int | None = 6,
    keep_ts: bool = False,
    score_df: DataFrame | None = None,
) -> DataFrame:
    """Batch sigma scan: flag every in-window row whose |3-sigma score|
    exceeds 1, for every configured trailing window.

    Output schema follows the reference anomaly record
    (DSLHandler.js:217-227; see FIXTURES.md F4): topic (the first group
    col), path, window seconds + human form, value, median (actually the
    mean — SigmaModel.js:48), std_dev, three_sigma. ``round_digits``
    stabilizes float comparison against the DuckDB oracle.

    For the multi-field fan-out (A6), group on (topic, field_path) and
    pass ``path_col="field_path"`` — the path then comes from the data
    instead of the ``path`` literal.

    ``score_df``: when given, stats come from ``df`` (the retained store)
    but only ``score_df``'s rows (same shape) are scored — the streaming
    hot path, where each micro-batch must be scored exactly once against
    store-wide stats (reference DSLHandler.js:178-189: incoming messages
    scored against the cached stats, never re-scored).
    """
    group_cols = list(group_cols)
    as_of = df.selectExpr(f"max({ident(ts_col)}) AS __as_of")
    facts = df.crossJoin(F.broadcast(as_of))
    if score_df is None:
        # facts feeds the stats aggregation AND the scoring target —
        # two corpus derivations without a barrier (r12). In streaming
        # mode (score_df given) facts feeds only the stats leg, so the
        # barrier would be pure materialization cost there — skip it.
        # The explicit not-null filter re-establishes the scan pushdown
        # the inner stats join used to inject (a null group can never
        # match it), which the barrier would otherwise hide from the
        # scan — result-identical, and the materialized relation skips
        # unjoinable rows.
        for g in group_cols:
            facts = facts.filter(f"{ident(g)} IS NOT NULL")
        facts = facts.transform(lazy_checkpoint)
    stats = trailing_window_stats(
        facts,
        group_cols,
        value_col,
        ts_col,
        windows,
        min_count=min_count,
        as_of_col="__as_of",
    )

    target = facts if score_df is None else score_df.crossJoin(F.broadcast(as_of))
    joined = target.join(F.broadcast(stats), on=group_cols, how="inner")
    # The rest is fixed-shape projection over identifiers and numbers,
    # so each step is one SQL string (one py4j call; sqltext). Window
    # length is a *column* after the stats unpivot, so the in-window
    # predicate compares epoch micros against window_seconds * 1e6.
    in_win = f"{epoch_us(ident(ts_col))} >= {epoch_us('__as_of')} - window_seconds * 1000000"
    scored = score_three_sigma(joined.filter(in_win), value_col=value_col).filter(
        "abs(three_sigma) > 1.0D"
    )

    def rnd(c: str) -> str:
        return c if round_digits is None else f"round({c}, {int(round_digits)})"

    # humanWindow is a tiny driver-side lookup over the configured window
    # list — expressed as a chained CASE so it stays inside codegen. Its
    # labels are humanize_duration's digits-and-unit output, not user text.
    human = "CAST(NULL AS STRING)"
    for w in sorted(set(windows)):
        human = f"CASE WHEN window_seconds = {int(w)} THEN '{humanize_duration(w)}' ELSE {human} END"

    if path_col is None:
        # a caller's label: a Column literal, never SQL text
        scored = scored.withColumn("__path", F.lit(path))
    ts_cols = [f"{epoch_us(ident(ts_col))} AS event_ts_us"] if keep_ts else []
    return scored.selectExpr(
        *ts_cols,
        f"{ident(group_cols[0])} AS topic",
        f"{ident(path_col or '__path')} AS path",
        "window_seconds",
        f"{human} AS human_window",
        f"{ident(value_col)} AS value",
        f"{rnd('mean')} AS median",
        f"{rnd('stddev_pop')} AS std_dev",
        f"{rnd('three_sigma')} AS three_sigma",
        *[
            ident(c)
            for c in df.columns
            if c not in (value_col, ts_col, path_col, *group_cols)
        ],
    )


def online_sigma_scan(
    df: DataFrame,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    ts_col: str = "ts",
    window_seconds: int = 86400,
    min_count: int = MIN_EVENTS_FOR_STATS,
    id_cols: Sequence[str] = ("event_id",),
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact-online sigma scan: each row is scored against the trailing
    stats of the *strictly earlier* points of its own series — the
    reference's cache model taken to zero staleness (W5: "incoming value
    is scored against the cached stats from the last scan"; here the
    "scan" is every preceding event, DSLHandler.js:178-189).

    Relational form: one window function pass with a RANGE frame
    ``[ts - w, ts)`` in epoch micros. The ``-1`` upper bound makes the
    frame end *before* the current row's peer group, so ties in ``ts``
    are excluded on both Spark and DuckDB (RANGE frames are peer-based
    in both) — deterministic and oracle-comparable.

    Guards as everywhere: ``n >= min_count`` (DSLHandler.js:243-254),
    ``stddev > 0`` (the Infinity guard, DSLHandler.js:194-197).

    Physical strategy — prefix sums, NOT a sliding frame. The naive
    form is one ``RANGE BETWEEN -w AND -1`` frame, but Spark evaluates
    *sliding* aggregate frames by rebuilding the buffer per row
    (O(rows x frame-width) per series — measured 7 s at sf0.1 vs ~1 s
    for this plan, and unbounded at 100 TB). Add-only frames
    (``UNBOUNDED PRECEDING``-based) ARE incremental, so the trailing
    aggregate is decomposed into two prefix reads:

        stats[t-w, t) = prefix(< t) - prefix(< t - w)

    ``prefix(< t)`` is an add-only frame ending at ``-1``; the second
    term is read by a *boundary probe*: a synthetic row per event at
    ``ts - w - 1`` us, unioned in, reading the inclusive prefix of the
    real rows at its sort position (conditional sums ignore probe
    rows), then joined back to its event. One union, one window sort,
    one join — all O(n log n) per series, all JVM.

    Scale note: the shuffle/sort key is the series — series count is
    the parallelism ceiling (fine for many series, wrong for one giant
    one); for the unbounded-stream version of the same semantics use
    ``streaming.stateful_sigma.stateful_sigma_scan`` (keyed state,
    bounded memory, no sort of history).
    """
    group_cols = list(group_cols)
    w_us = window_seconds * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(
        *group_cols,
        *id_cols,
        us.alias("__ts_us"),
        F.col(value_col).cast("double").alias("__v"),
    )

    # real rows + boundary probes in one relation; probes carry the id
    # of the event whose window-start prefix they fetch
    real = base.select(
        *group_cols,
        *id_cols,
        F.col("__ts_us"),
        F.col("__ts_us").alias("__sort_us"),
        F.col("__v"),
        F.lit(True).alias("__is_real"),
    )
    # one probe per DISTINCT (series, ts): tied events share a window
    # boundary, so they share a probe (also keeps the probe side join
    # key unique — no fan-out on ties)
    probe = base.select(
        *group_cols,
        F.col("__ts_us"),
        (F.col("__ts_us") - F.lit(w_us + 1)).alias("__sort_us"),
        F.lit(None).cast("double").alias("__v"),
        F.lit(False).alias("__is_real"),
    ).dropDuplicates([*group_cols, "__ts_us"])
    for c in id_cols:
        probe = probe.withColumn(c, F.lit(None).cast(dict(base.dtypes)[c]))
    unioned = real.unionByName(probe)

    # conditional prefix sums over REAL rows only. Probes sort before
    # any real peer at the same __sort_us is irrelevant: RANGE frames
    # are peer-inclusive/-exclusive by order-key value, not position.
    excl = (  # prefix(< own sort key): add-only, incremental
        Window.partitionBy(*group_cols)
        .orderBy("__sort_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    incl = (  # prefix(<= own sort key): add-only, incremental
        Window.partitionBy(*group_cols)
        .orderBy("__sort_us")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    v = F.col("__v")
    pref = unioned.select(
        *group_cols,
        *id_cols,
        "__ts_us",
        "__is_real",
        v,
        # real rows need strictly-prior prefixes; probes need inclusive
        # (probe key t-w-1 inclusive == real rows with ts < t-w)
        F.when(F.col("__is_real"), F.sum(v).over(excl)).otherwise(
            F.sum(v).over(incl)
        ).alias("__s1"),
        F.when(F.col("__is_real"), F.sum(v * v).over(excl)).otherwise(
            F.sum(v * v).over(incl)
        ).alias("__s2"),
        F.when(F.col("__is_real"), F.count(v).over(excl)).otherwise(
            F.count(v).over(incl)
        ).alias("__cnt"),
    )

    # barrier: ``pref`` feeds the real-rows leg AND the probe leg; the
    # window pass (union + per-series sort + prefix sums — the
    # expensive stage) would otherwise run twice (r12).
    pref = pref.transform(lazy_checkpoint)

    rows = pref.filter("__is_real")
    probes = pref.filter(~F.col("__is_real")).select(
        *group_cols,
        F.col("__ts_us"),
        F.coalesce(F.col("__s1"), F.lit(0.0)).alias("__q1"),
        F.coalesce(F.col("__s2"), F.lit(0.0)).alias("__q2"),
        F.col("__cnt").alias("__qn"),
    )
    join_keys = [*group_cols, "__ts_us"]
    joined = rows.join(probes, on=join_keys, how="inner")

    n = (F.col("__cnt") - F.col("__qn")).cast("double")
    s1 = F.coalesce(F.col("__s1"), F.lit(0.0)) - F.col("__q1")
    s2 = F.coalesce(F.col("__s2"), F.lit(0.0)) - F.col("__q2")
    mean = s1 / n
    var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
    scored = (
        joined.filter(n >= min_count)
        .withColumn("mean", mean)
        .withColumn("stddev_pop", F.sqrt(var))
    )
    scored = score_three_sigma(scored, value_col="__v").filter(
        F.abs(F.col("three_sigma")) > 1.0
    )
    rnd = (lambda c: F.round(c, round_digits)) if round_digits is not None else (lambda c: c)
    return scored.select(
        *group_cols,
        *id_cols,
        F.col("__ts_us").alias("event_ts_us"),
        F.col("__v").alias("value"),
        rnd(F.col("mean")).alias("median"),
        rnd(F.col("stddev_pop")).alias("std_dev"),
        rnd(F.col("three_sigma")).alias("three_sigma"),
    )


# MAD -> sigma scale factor for normal data: 1/Phi^-1(3/4). The
# textbook robust-scoring constant; fixed engine contract (the DuckDB
# oracle uses the same literal).
MAD_SIGMA_SCALE = 1.4826


def robust_sigma_scan(
    df: DataFrame,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    ts_col: str = "ts",
    windows: Sequence[int] = (86400,),
    min_count: int = MIN_EVENTS_FOR_STATS,
    z_threshold: float = 3.0,
    round_digits: int = 6,
    id_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Robust variant of the sigma scan: score against the trailing
    median/MAD instead of mean/stddev, so a burst of outliers cannot
    drag the baseline toward itself and mask follow-on anomalies (the
    classic masking failure of the reference's mean-based scan,
    DSLHandler.js:191-197 — its "median" IS the mean, SigmaModel.js:48).

    ``robust_z = (value - median) / (MAD_SIGMA_SCALE * MAD)``; anomaly
    iff ``|robust_z| > z_threshold`` (3.0 ~ the 3-sigma rule). Guards
    mirror the sigma family: ``n >= min_count``; MAD = 0 suppresses the
    score (the analogue of the stddev-0 Infinity guard).

    Plan shape — exact MAD needs two dependent medians, hence exactly
    TWO grouped aggregations (each one scan + one shuffle, all windows
    via conditional aggs), never per-window passes:

        facts -> agg1: median per (group x window)            (tiny)
              -> facts JOIN broadcast(medians)                (map-only)
              -> agg2: median of |v - med| per (group x window)
              -> facts JOIN broadcast(median+mad) -> score    (map-only)

    Both stats relations are |groups| x |windows| — always broadcast.
    Medians are rounded to ``round_digits`` BEFORE the deviation pass on
    both engines, so the MAD input is bit-identical cross-engine.
    """
    from sarkac_spark.operators.stats import _in_window

    group_cols = list(group_cols)
    windows = sorted(set(windows))
    as_of = df.agg(F.max(ts_col).alias("__as_of"))
    # barrier: facts feeds THREE legs (median agg, MAD join+agg, final
    # scoring join) — without it the corpus re-derived per leg (r12:
    # 13 runtime scans for robust_sigma). Not-null pre-filter on the
    # group keys: same pushdown-restoring, result-identical move as
    # sigma_scan (null groups can never match the inner stats joins).
    facts = df.crossJoin(F.broadcast(as_of))
    for g in group_cols:
        facts = facts.filter(F.col(g).isNotNull())
    facts = facts.transform(lazy_checkpoint)

    med_aggs: list[F.Column] = []
    for w in windows:
        cond = F.when(_in_window(ts_col, "__as_of", w), F.col(value_col))
        med_aggs.append(F.round(F.median(cond), round_digits).alias(f"__med_{w}"))
        med_aggs.append(F.count(cond).alias(f"__n_{w}"))
    meds = facts.groupBy(*group_cols).agg(*med_aggs)

    fx = facts.join(F.broadcast(meds), on=group_cols)
    mad_aggs = [
        F.round(
            F.median(
                F.when(
                    _in_window(ts_col, "__as_of", w),
                    F.abs(F.col(value_col) - F.col(f"__med_{w}")),
                )
            ),
            round_digits,
        ).alias(f"__mad_{w}")
        for w in windows
    ]
    mads = fx.groupBy(*group_cols).agg(*mad_aggs)

    stack_args = ", ".join(
        f"bigint({w}), __med_{w}, __mad_{w}, __n_{w}" for w in windows
    )
    stats = (
        meds.join(mads, on=group_cols)
        .selectExpr(
            *group_cols,
            f"stack({len(windows)}, {stack_args}) AS (window_seconds, med, mad, n)",
        )
        .filter(F.col("n") >= min_count)
    )

    joined = facts.join(F.broadcast(stats), on=group_cols)
    in_win = F.unix_micros(F.col(ts_col).cast("timestamp")) >= (
        F.unix_micros(F.col("__as_of").cast("timestamp"))
        - F.col("window_seconds") * F.lit(1_000_000)
    )
    z = (F.col(value_col) - F.col("med")) / (
        F.lit(MAD_SIGMA_SCALE) * F.col("mad")
    )
    scored = (
        joined.filter(in_win)
        .withColumn("robust_z", F.when(F.col("mad") > 0, z))
        .filter(F.abs(F.col("robust_z")) > z_threshold)
    )
    return scored.select(
        F.col(group_cols[0]).alias("topic"),
        F.col("window_seconds"),
        *[F.col(c) for c in id_cols],
        F.col(value_col).alias("value"),
        F.col("med").alias("median"),
        F.col("mad").alias("mad"),
        F.round(F.col("robust_z"), round_digits).alias("robust_z"),
    )


def iqr_outliers(
    df: DataFrame,
    group_cols: Sequence[str] = ("event_type",),
    value_col: str = "value",
    fence_factor: float = 1.5,
    min_count: int = MIN_EVENTS_FOR_STATS,
    round_digits: int = 6,
    id_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Tukey-fence outlier detection: flag rows outside
    ``[p25 - f*IQR, p75 + f*IQR]`` of their group — the
    distribution-free member of the anomaly family (3-sigma assumes
    normality; median/MAD assumes symmetric spread; Tukey fences assume
    nothing).

    Same broadcast-scoring shape as sigma_scan: one grouped quantile
    aggregation (exact interpolated percentiles, bit-identical to the
    oracle's quantile_cont), fences derived from the ROUNDED quantiles
    with identical arithmetic on both engines, then a map-only
    broadcast-join scoring pass. IQR = 0 suppresses flagging (the
    degenerate-distribution guard, like stddev=0).
    """
    group_cols = list(group_cols)
    stats = df.groupBy(*group_cols).agg(
        F.round(F.percentile(F.col(value_col), F.lit(0.25)), round_digits).alias(
            "p25"
        ),
        F.round(F.percentile(F.col(value_col), F.lit(0.75)), round_digits).alias(
            "p75"
        ),
        F.count(F.col(value_col)).alias("__n"),
    )
    iqr = F.col("p75") - F.col("p25")
    lo = F.col("p25") - F.lit(fence_factor) * iqr
    hi = F.col("p75") + F.lit(fence_factor) * iqr
    joined = df.join(F.broadcast(stats), on=group_cols).filter(
        (F.col("__n") >= min_count) & (iqr > 0)
    )
    out = joined.filter(
        (F.col(value_col) < lo) | (F.col(value_col) > hi)
    )
    return out.select(
        F.col(group_cols[0]).alias("topic"),
        *[F.col(c) for c in id_cols],
        F.col(value_col).alias("value"),
        F.col("p25"),
        F.col("p75"),
        F.round(lo, round_digits).alias("fence_lo"),
        F.round(hi, round_digits).alias("fence_hi"),
    )
