"""Seam registry for bench.py's in-record A/B hook (VERDICT r12 #5).

This box's wall clock drifts 1.2-1.7x within a session on PINNED plans,
so a cross-window total can mislabel a good plan as a regression. For
queries that carry an explicit dual-shape seam (a size-gated barrier),
the only locally valid perf evidence is running BOTH shapes interleaved
in ONE process. ``bench.py`` does that when ``SPARK_GRAFT_AB=1`` and
writes the rows under ``"ab"`` in the local record file — never into
the driver-facing ``queries`` map (the variants are measurement probes,
not registered queries, and both variants of a seam compute identical
results by construction — pinned in tests/test_ab_seams.py).

Each entry: query name -> {variant label -> builder(spark, sf_dir)}.
The variant named like the registered query's current branch at the
bench SF is the one the ``queries`` map already times; the other
variant exists only here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def ab_variants() -> dict[str, dict[str, Callable[..., DataFrame]]]:
    from sarkac_spark.queries.llm import QUERIES

    def minhash(barrier):
        def fn(spark, sf_dir):
            # the registered query body with the barrier flag exposed
            from sarkac_spark.operators.dedup import dedup_minhash
            from sarkac_spark.queries.llm_common import (
                JACCARD_THRESHOLD, MINHASH_BANDS, MINHASH_K, _docs,
            )

            return dedup_minhash(
                _docs(spark, sf_dir), "doc_id", "text",
                k=MINHASH_K, bands=MINHASH_BANDS,
                threshold=JACCARD_THRESHOLD, barrier=barrier,
            )

        return fn

    # sanity: the seam must shadow a live registry entry
    assert "dedup_minhash" in QUERIES

    return {
        "dedup_minhash": {
            "sig_barrier": minhash(True),
            "no_barrier": minhash(False),
        },
    }
