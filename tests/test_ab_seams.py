"""The A/B seam registry: its one seam, and the registry's claim that
both variants of a seam compute identical results."""

from __future__ import annotations

from sarkac_spark.queries.ab_seams import ab_variants


def test_ab_seam_variants_return_identical_rows(spark, sf_dir):
    seams = ab_variants()
    assert set(seams) == {"dedup_minhash"}
    on, off = (
        sorted(map(tuple, fn(spark, sf_dir).collect()))
        for fn in seams["dedup_minhash"].values()
    )
    assert on  # the fixture corpus has near-duplicate pairs to compare
    assert on == off
