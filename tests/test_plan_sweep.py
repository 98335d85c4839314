"""Registry-wide plan-shape sweep: every registered query's physical
plan is screened for the scale anti-patterns that kill a 100 TB run —
row-at-a-time Python UDFs, non-broadcast cartesian products, and
unpartitioned (single-reducer) windows. Individual queries get precise
budgets in test_plans.py; this sweep guarantees no NEW query can land
with one of the forbidden shapes, whatever its name.

Plans are built (analysis + physical planning for the declarative
queries; the exceptions that do run work at build time are the
inherently iterative ones — MLlib fits, connected-components rounds —
and they are bounded by training caps / round budgets). Lineage
truncation note: ``ann_recall``'s lazy localCheckpoints and the CC
queries hide constituent subplans from this sweep; those subplans are
audited through their own registry entries (cosine_topk / ivf_topk /
lsh_topk, and the dedup_minhash candidate plan).
"""

from __future__ import annotations

import re

import pytest

from sarkac_spark.plans.audit import executed_plan, plan_digest
from sarkac_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"

# BatchEvalPython = row-at-a-time Python UDF (the ~100x-slower path).
# Arrow-vectorized Python (MapInPandas / FlatMapGroupsInPandas /
# ArrowEvalPython) is allowed — that is the designed escape hatch.
ROW_AT_A_TIME = "BatchEvalPython"

# Non-broadcast cartesian product: |left| x |right| tasks. Broadcast
# nested-loop joins (1-row as-of bounds, tiny dims, query fan-out) are
# the cheap kind and allowed.
CARTESIAN = "CartesianProduct"

# A window whose spec has no partition columns funnels the whole input
# through ONE reducer. Two complementary detectors (either alone has a
# blind spot):
#  1. textual — a windowspecdefinition whose args before
#     specifiedwindowframe are empty (no partition, no order) OR all
#     ASC/DESC-marked (order-only: Window.orderBy with no partitionBy,
#     the most common form of the anti-pattern). Misses specs whose
#     expressions contain parens (the lazy [^)]*? stops early).
#  2. structural — a Window node whose child chain contains an
#     `Exchange SinglePartition` within 3 plan lines: the physical
#     ground truth, independent of how the spec prints.
_WINDOWSPEC_PREFIX = re.compile(
    r"windowspecdefinition\(([^)]*?)specifiedwindowframe"
)
_WINDOW_NODE = re.compile(r"\b(?:Window|WindowGroupLimit|WindowInPandas)\b")


def unpartitioned_window(plan: str) -> bool:
    for m in _WINDOWSPEC_PREFIX.finditer(plan):
        args = [a.strip() for a in m.group(1).split(",") if a.strip()]
        if all("ASC" in a or "DESC" in a for a in args):
            return True
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if _WINDOW_NODE.search(line):
            if any(
                "Exchange SinglePartition" in nxt for nxt in lines[i + 1 : i + 4]
            ):
                return True
    return False


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, fn in all_queries().items():
        out[name] = executed_plan(fn(spark, SF_DIR))
    return out


def test_no_row_at_a_time_python(plans):
    bad = [n for n, p in plans.items() if ROW_AT_A_TIME in p]
    assert bad == [], f"row-at-a-time Python UDF in: {bad}"


def test_no_cartesian_products(plans):
    bad = [n for n, p in plans.items() if CARTESIAN in p]
    assert bad == [], f"non-broadcast cartesian product in: {bad}"


def test_no_unpartitioned_windows(plans):
    bad = [n for n, p in plans.items() if unpartitioned_window(p)]
    assert bad == [], f"unpartitioned window in: {bad}"


def test_detector_catches_order_only_global_window(spark):
    """The guard must actually fire on the anti-pattern it advertises:
    a Window.orderBy with no partitionBy (single-reducer global window)
    — the shape the pre-round-4 regex silently missed."""
    from pyspark.sql import Window, functions as F

    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert unpartitioned_window(executed_plan(df))
    # and must NOT fire on a properly partitioned window
    ok = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.partitionBy(F.col("id") % 7).orderBy("id"))
    )
    assert not unpartitioned_window(executed_plan(ok))


@pytest.mark.slow  # builds the whole registry twice: minutes
def test_every_query_digest_is_stable_across_rebuilds(spark):
    """A digest change must mean a plan change: every registered query,
    rebuilt in the same session, digests the same. ``profile_documents``
    (a multi-distinct aggregate whose Expand group order follows
    expression-id hashes) is the case this pins."""
    queries = all_queries()
    first = {name: plan_digest(fn(spark, SF_DIR)) for name, fn in queries.items()}
    moved = [
        name for name, fn in queries.items() if plan_digest(fn(spark, SF_DIR)) != first[name]
    ]
    assert moved == []
