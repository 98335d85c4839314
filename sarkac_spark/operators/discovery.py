"""Schema discovery — numeric-leaf flattening and topic set-diffs.

The reference samples one message per topic per interval and flattens its
JSON payload to the list of numeric leaf paths
(lib/discovery/FieldIdentifier.js:9-57): numbers tracked, strings/bools/
nulls skipped, binary buffers skipped (:19-21,:45-47), arrays traversed
with numeric index path segments, non-object scalar roots become the empty
path (:24-29). Topic changes are detected by set-diff plus a hash of the
sorted field list (lib/discovery/Discovery.js:85-173).

Spark-first shape: schema inference is ``spark.read.json`` /
``schema_of_json`` on a sampled batch, then a recursive walk of the
resulting ``StructType`` — no per-message Python in the hot path; the
walk happens driver-side on a schema object, once per discovery tick.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import types as T

_NUMERIC_TYPES = (
    T.DoubleType,
    T.FloatType,
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DecimalType,
)


def numeric_leaf_paths(schema: T.DataType, prefix: str = "") -> list[str]:
    """Walk a Spark schema, returning dotted paths of all numeric leaves.

    Mirrors FieldIdentifier semantics: arrays contribute indexed segments
    only when element type is itself numeric/struct (we emit the
    wildcard-free ``a.0``-style path only for struct elements discovered
    from data; for schema-driven discovery an array of numerics yields the
    bare array path — callers explode it); binary is skipped.
    """
    out: list[str] = []
    if isinstance(schema, T.StructType):
        for f in schema.fields:
            child = f"{prefix}.{f.name}" if prefix else f.name
            out.extend(numeric_leaf_paths(f.dataType, child))
    elif isinstance(schema, T.ArrayType):
        out.extend(numeric_leaf_paths(schema.elementType, prefix))
    elif isinstance(schema, T.BinaryType):
        return out  # explicitly skipped (FieldIdentifier.js:19-21,45-47)
    elif isinstance(schema, _NUMERIC_TYPES):
        out.append(prefix)  # scalar root -> "" (FieldIdentifier.js:24-29)
    return out


def numeric_leaf_paths_of_json(obj) -> list[str]:
    """Data-driven flattening of one parsed JSON payload — the exact
    reference behavior including array index segments (``a.0.b``).
    Used on sampled messages when no schema is known yet."""
    out: list[str] = []

    def walk(node, prefix: str) -> None:
        if isinstance(node, bool):
            return  # JS typeof true === "boolean", not number
        if isinstance(node, (int, float)):
            out.append(prefix)
        elif isinstance(node, dict):
            for k, v in node.items():
                walk(v, f"{prefix}.{k}" if prefix else k)
        elif isinstance(node, list):
            for i, v in enumerate(node):
                walk(v, f"{prefix}.{i}" if prefix else str(i))
        # str / None / bytes: skipped

    walk(obj, "")
    return out


def field_list_hash(paths: list[str]) -> str:
    """Stable hash of the sorted field list — schema-change detection
    (Discovery.js:34-36,162-173; murmur3 there, md5 here: the value is an
    opaque change token, the algorithm is not semantics)."""
    return hashlib.md5(json.dumps(sorted(paths)).encode()).hexdigest()


def topic_diff(known: list[str], current: list[str]) -> tuple[list[str], list[str]]:
    """(new, deleted) topic sets (Discovery.js:116-134)."""
    known_s, current_s = set(known), set(current)
    return sorted(current_s - known_s), sorted(known_s - current_s)


def apply_blacklist(topics: list[str], blacklist: list[str]) -> list[str]:
    """Discovered topics minus blacklist minus own output topic
    (Discovery.js:94-104)."""
    bl = set(blacklist)
    return [t for t in topics if t not in bl]
