"""Per-field fan-out: the long/tall ``sigma_store`` shape.

The reference stores every observed numeric value as one document
``{key, value, produced}`` keyed by murmur3(topic + ":" + field)
(lib/db/model/SigmaModel.js:15-37). The Spark-native shape is a long
DataFrame ``(topic, field_path, value, produced)`` with natural keys —
produced from the source rows by stacking every configured field's
extraction expression (P1) in a single projection: one scan regardless of
field count, nulls (missing fields) filtered per P4
(DSLHandler.js:154-164).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, functions as F

from sarkac_spark.functions.paths import numeric_leaf


def to_sigma_store(
    df: DataFrame,
    topic_col: str,
    ts_col: str,
    fields: Mapping[str, Column],
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Stack ``{field_path: value_expr}`` into the long store shape.

    ``fields`` maps a dotted path name to the Column that extracts it
    (e.g. ``numeric_leaf("props", "k")`` or ``F.col("value")``).
    """
    extra_cols = extra_cols or []
    tagged = df.select(
        F.col(topic_col).alias("topic"),
        F.col(ts_col).alias("produced"),
        *[F.col(c) for c in extra_cols],
        *[expr.cast("double").alias(f"__f_{i}") for i, expr in enumerate(fields.values())],
    )
    paths = list(fields.keys())
    stack_args = ", ".join(f"'{p}', __f_{i}" for i, p in enumerate(paths))
    return tagged.selectExpr(
        "topic",
        "produced",
        *extra_cols,
        f"stack({len(paths)}, {stack_args}) AS (field_path, value)",
    ).filter(F.col("value").isNotNull())


def dsl_field_exprs(json_col: str, paths: list[str]) -> dict[str, Column]:
    """Build the extraction map for a list of DSL paths over a JSON string
    payload column: one independent ``get_json_object`` per path."""
    return {p: numeric_leaf(json_col, p) for p in paths}
