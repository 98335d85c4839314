"""Physical-plan introspection helpers.

The engine's scale guarantees are *plan shapes* — stats joins stay
broadcast, filters reach the parquet scan, one shuffle per stats pass —
and refactors can silently regress them while every value stays correct.
These helpers turn the executed-plan string into assertable facts; used
by ``tests/test_plans.py`` and handy interactively:

    from sarkac_spark.plans import shuffle_count, read_schemas
    shuffle_count(trailing_window_stats(...))   # -> 1
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The (pre-execution, AQE-initial) physical plan string."""
    return df._jdf.queryExecution().executedPlan().toString()


# rdd id -> (resolved) child plan text of a lazy_checkpoint barrier.
# Lets resolved_plan()/plan_digest() hash THROUGH materialization
# barriers: without this, any plan change upstream of a checkpoint is
# invisible to the digest (the barrier plans as `Scan ExistingRDD`) and
# bench_diff would call a real plan regression "drift". Process-local,
# grows with checkpoints created this session (~KBs each) — acceptable
# for bench/test processes, which are short-lived.
_CKPT_CHILD_PLANS: dict[int, str] = {}


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` + digest transparency.

    The house materialization barrier (compute a multiply-referenced
    relation once per action) with the child plan registered under the
    checkpoint RDD's id, so ``resolved_plan``/``plan_digest`` keep
    seeing the full computation. The child was already planned to
    create the RDD, so capturing its plan text here is free."""
    try:
        child_text = resolved_plan(df)  # resolves nested barriers too
    except Exception:  # noqa: BLE001 — transparency is best-effort
        child_text = None
    out = df.localCheckpoint(eager=False)
    if child_text is not None:
        try:
            rid = out._jdf.queryExecution().analyzed().rdd().id()
            _CKPT_CHILD_PLANS[rid] = child_text
        except Exception:  # noqa: BLE001
            pass
    return out


# Floor for the size-gated plan shape (see input_size_bytes); its only
# consumer is dedup_minhash's doc-aggregate barrier: below the floor the
# barrier is off, at or above it (or when the size is unknowable —
# non-file source, checkpointed input) it is on. 64 MB sits between the
# ~7 MB x10 documents corpus, where the r13 interleaved A/B measured the
# barrier 1.6x slower, and the ~84 MB x100 corpus, where it was back to
# a wash (OPTIMIZATION_r13.md §3); far below any input where an extra
# corpus scan could matter (a scan is ~seconds at 64 MB, hours at 100 TB).
SMALL_INPUT_BYTES = 64 * 1024 * 1024


def input_size_bytes(df: DataFrame) -> int | None:
    """Best-effort total size of the files backing ``df``'s scans, or
    ``None`` when it cannot be known (non-file relation, checkpoint/RDD
    leaf, unreadable path). Callers MUST treat ``None`` as "large": the
    scale shape is always correct, merely heavier than necessary on toy
    inputs — so unknown never downgrades to the small-input branch."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — metadata probe only
        return None
    if not files:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None  # remote storage: size unknown here, treat as large
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            return None
    return total


def is_small_input(df: DataFrame) -> bool:
    """Size gate: True iff ``df``'s backing files are measurably smaller
    than ``SMALL_INPUT_BYTES``."""
    size = input_size_bytes(df)
    return size is not None and size < SMALL_INPUT_BYTES


def _ckpt_children_text(df: DataFrame) -> str:
    """Registered child-plan text for every lazy_checkpoint leaf in
    ``df``'s analyzed plan (empty when there are none)."""
    out: list[str] = []
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                child = _CKPT_CHILD_PLANS.get(leaf.rdd().id())
                if child:
                    out.append(child)
    except Exception:  # noqa: BLE001
        return ""
    if not out:
        return ""
    return "\n-- checkpointed subtree --\n" + "\n".join(out)


def resolved_plan(df: DataFrame) -> str:
    """``executed_plan`` plus the registered subtree text of every
    lazy_checkpoint barrier in the tree — the digest input that stays
    sensitive to changes on either side of a barrier."""
    return executed_plan(df) + _ckpt_children_text(df)


def final_plan(df: DataFrame) -> str:
    """The AQE-FINAL plan string — triggers one ``collect()`` so the
    adaptive re-plan actually happens. Shows runtime facts the initial
    plan cannot: ReusedExchange dedup of repeated subtrees, skew-join
    splits, SMJ→BHJ conversions. Use for assertions of the form 'these
    N static subtree copies collapse to one exchange at runtime'."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def shuffle_count(df: DataFrame) -> int:
    """Number of hash-partitioned exchanges — the data-sized shuffles.
    Broadcast exchanges are deliberately NOT counted (they're the cheap
    kind this engine leans on)."""
    return executed_plan(df).count("Exchange hashpartitioning")


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every non-empty PushedFilters entry across the plan's scans."""
    return [
        m
        for m in re.findall(r"PushedFilters: \[([^\]]*)\]", executed_plan(df))
        if m.strip()
    ]


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan — what actually gets read off
    disk; the column-pruning ground truth."""
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", executed_plan(df))


def plan_digest(df: DataFrame) -> str:
    """Stable 12-hex fingerprint of the physical plan SHAPE — equal
    across runs/sessions iff the plan is structurally the same. Strips
    everything instance-specific before hashing — expression ids
    (``#123``), codegen stage ids, plan node ids, file paths/sizes,
    row-count statistics and a file scan's DataFilters — and puts the
    distinct-aggregate Expand's group columns in one order
    (``_canonical_distinct_groups``).
    ``bench.py`` persists one per query so ``tools/bench_diff.py`` can
    answer 'did this wall move because the PLAN changed, or is it box
    drift?' mechanically across rounds."""
    import hashlib

    s = resolved_plan(df)
    # a file scan prints its DataFilters cut at a fixed length that counts
    # expression-id digits, so the cut moves as the session's id counter
    # grows; the Filter node above the scan prints the same filters whole
    s = re.sub(r"DataFilters: \[.*?(?=, Format: )", "DataFilters: [...]", s)
    s = re.sub(r"#\d+[L]?", "#", s)  # expression ids
    s = re.sub(r"\b([xyz])_\d+#", r"\1_#", s)  # session-global lambda-var counter
    s = re.sub(r"_common_expr_\d+", "_common_expr_", s)  # CSE counter, also global
    s = re.sub(r"gid# = \d+", "gid# = ", s)  # distinct-agg group ids, unordered
    s = re.sub(r"\[(id|plan_id)=#?\d+\]", "", s)  # exchange/plan node ids
    s = re.sub(r"\(\d+\)", "", s)  # codegen stage / ordinal markers
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"(Location|InMemoryFileIndex)[^\n,\]]*", r"\1", s)
    s = re.sub(r"file:[^\s,\]\)]*", "file:", s)  # absolute paths
    s = re.sub(r"\d+\.\d+ [KMGT]?i?B", "", s)  # size annotations
    s = re.sub(r"cachedcount=\d+|rowCount=\d+", "", s)
    s = _canonical_distinct_groups(s)
    return hashlib.sha256(s.encode()).hexdigest()[:12]


_DISTINCT_EXPAND = re.compile(r"Expand \[(\[.*\])\], \[([^\[\]]*)\]$", re.M)


def _canonical_distinct_groups(s: str) -> str:
    """Catalyst's RewriteDistinctAggregates numbers the distinct groups
    of a multi-distinct aggregate (``profile_documents``) in hash order
    of their expression ids, so every rebuild can order the Expand's
    group columns — and with them the aggregate keys, sort order and
    hash partitioning above it — differently. Sort those columns,
    permute each Expand projection to match, and sort the projections
    with their group-id literal blanked. Runs on the id-stripped plan
    string; an Expand whose projections hold comma-bearing expressions
    is left as it is."""
    for m in list(_DISTINCT_EXPAND.finditer(s)):
        out = m.group(2).split(", ")
        if "gid#" not in out:
            continue
        k = out.index("gid#")
        keys = out[:k]
        order = sorted(range(k), key=keys.__getitem__)
        rows = [r.split(", ") for r in m.group(1)[1:-1].split("], [")]
        if any(len(r) != len(out) for r in rows):
            continue
        canon = [keys[i] for i in order]
        projections = sorted(
            "[" + ", ".join([r[i] for i in order] + ["gid"] + r[k + 1 :]) + "]"
            for r in rows
        )
        s = s.replace(
            m.group(0),
            f"Expand [{', '.join(projections)}], [{', '.join(canon + out[k:])}]",
        )
        for sep in (", ", " ASC NULLS FIRST, "):
            s = s.replace(sep.join(keys + ["gid#"]), sep.join(canon + ["gid#"]))
    return s
