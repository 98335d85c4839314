"""Product quantization: assignment mechanics on planted codebooks,
ADC exactness at zero quantization error, and fit dominance over a
degenerate codebook."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarkac_spark.operators.pq import (
    PQ_CODEBOOKS,
    PQ_K,
    PQ_M,
    fit_pq_codebooks,
    pq_adc_topk,
    pq_assign,
    pq_assign_long,
)


def _flat(codebooks, picks):
    """Build a 64-dim vector that sits exactly ON centroid picks[m] in
    every subspace m."""
    out = []
    for m, c in enumerate(picks):
        out.extend(codebooks[m][c])
    return [float(x) for x in out]


def test_pq_assign_recovers_planted_codes(spark):
    picks_a = [0, 1, 2, 3, 4, 5, 6, 7]
    picks_b = [15, 14, 13, 12, 11, 10, 9, 8]
    df = spark.createDataFrame(
        [(1, _flat(PQ_CODEBOOKS, picks_a)), (2, _flat(PQ_CODEBOOKS, picks_b))],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in pq_assign(df, PQ_CODEBOOKS).collect()}
    assert [got[1][f"code_{m}"] for m in range(PQ_M)] == picks_a
    assert [got[2][f"code_{m}"] for m in range(PQ_M)] == picks_b


def test_pq_adc_exact_at_zero_quantization_error(spark):
    # query 0 sits exactly on the same centroids as vector 100 -> the
    # quantized distance to it is exactly 0 and it ranks first
    picks = [3, 3, 3, 3, 3, 3, 3, 3]
    other = [9, 9, 9, 9, 9, 9, 9, 9]
    df = spark.createDataFrame(
        [
            (0, _flat(PQ_CODEBOOKS, picks)),
            (100, _flat(PQ_CODEBOOKS, picks)),
            (101, _flat(PQ_CODEBOOKS, other)),
        ],
        "vec_id long, embedding array<float>",
    )
    got = pq_adc_topk(df, PQ_CODEBOOKS, n_queries=1, k=2).collect()
    by_rank = {r.rank: r for r in got}
    assert by_rank[1].neighbor_id == 100 and by_rank[1].adist_micro == 0
    assert by_rank[2].neighbor_id == 101 and by_rank[2].adist_micro > 0


def test_pq_codes_are_in_range(spark, sf_dir):
    from sarkac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    long = pq_assign_long(emb, PQ_CODEBOOKS)
    bad = long.filter(
        (F.col("code") < 0) | (F.col("code") >= PQ_K)
        | (F.col("m") < 0) | (F.col("m") >= PQ_M)
    )
    assert bad.count() == 0
    assert long.count() == emb.count() * PQ_M


def test_fitted_codebooks_beat_degenerate(spark, sf_dir):
    """The seeded fit must reconstruct better than a degenerate all-zero
    codebook (whose error is the full vector energy) — the quantizer
    is learning something."""
    from sarkac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    zeros = [[[0.0] * 8 for _ in range(PQ_K)] for _ in range(PQ_M)]

    def recon_error(codebooks):
        # rebuild each vector from its assigned centroids and measure
        # total squared error via the ADC table trick: assign, then the
        # distance to the assigned centroid per subspace
        from sarkac_spark.operators.pq import _dist_expr

        v = F.col("embedding").cast("array<double>")
        total = None
        for m, cents in enumerate(codebooks):
            sv = F.slice(v, m * 8 + 1, 8)
            cents_lit = F.array(
                *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
            )
            best = F.array_min(
                F.transform(cents_lit, lambda c: _dist_expr(sv, c))
            )
            total = best if total is None else total + best
        return emb.select(F.sum(total).alias("e")).first().e

    fitted = recon_error(PQ_CODEBOOKS)
    degenerate = recon_error(zeros)
    assert fitted < 0.7 * degenerate


@pytest.mark.slow  # measured >=13 s in the r13 duration profile
def test_fit_pq_codebooks_shape_and_determinism(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-0.3, 0.3) for _ in range(64)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb1 = fit_pq_codebooks(df, m=4, k=4, seed=5, max_iter=5)
    cb2 = fit_pq_codebooks(df, m=4, k=4, seed=5, max_iter=5)
    assert cb1 == cb2  # seeded fit is reproducible
    assert len(cb1) == 4 and all(len(m) == 4 for m in cb1)
    assert all(len(c) == 16 for m in cb1 for c in m)


def test_pq_recall_floor(spark, sf_dir):
    """The shipped codebooks must retrieve SOMETHING real: mean ADC
    recall@3 vs exact L2 stays above a floor on the fixture corpus
    (0.2 operating point documented in q_pq_recall; floor at half)."""
    from sarkac_spark.queries.llm import q_pq_recall

    rows = q_pq_recall(spark, sf_dir).collect()
    assert len(rows) == 10
    mean = sum(r.recall for r in rows) / len(rows)
    assert mean >= 0.1


def test_ivfpq_candidates_are_bucket_pruned(spark, sf_dir):
    """IVF-PQ returns a subset of the probed buckets' members, ranked by
    the SAME ADC distance pq_adc_topk would give them — pruning changes
    the candidate set, never the distance arithmetic."""
    from sarkac_spark.operators.pq import ivfpq_topk, pq_adc_topk
    from sarkac_spark.operators.similarity import assign_buckets
    from sarkac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    got = ivfpq_topk(emb, PQ_CODEBOOKS, cents, n_queries=3, k=3, nprobe=2)
    rows = got.collect()
    assert {r.query_id for r in rows} <= {0, 1, 2}
    # every returned neighbor's ADC distance equals the unpruned one
    full = {
        (r.query_id, r.neighbor_id): r.adist_micro
        for r in pq_adc_topk(emb, PQ_CODEBOOKS, n_queries=3, k=10**9).collect()
    }
    for r in rows:
        assert full[(r.query_id, r.neighbor_id)] == r.adist_micro
    # and every neighbor really lives in a probed bucket
    corpus_b = {
        r.vec_id: r.bucket
        for r in assign_buckets(emb, cents, n_best=1)
        .select("vec_id", "bucket")
        .collect()
    }
    probes = {}
    for r in (
        assign_buckets(emb.filter(F.col("vec_id") < 3), cents, n_best=2)
        .select("vec_id", "bucket")
        .collect()
    ):
        probes.setdefault(r.vec_id, set()).add(r.bucket)
    for r in rows:
        assert corpus_b[r.neighbor_id] in probes[r.query_id]


def test_ivfpq_topk_matches_bruteforce_over_probed_buckets(spark, sf_dir):
    """Bucket pruning loses no candidate — the operator's output equals,
    rank for rank, the brute-force ranking of exactly {probed-bucket
    members minus self} by the UNPRUNED ADC distance with the house
    (distance, id) tie-break."""
    from sarkac_spark.operators.pq import ivfpq_topk, pq_adc_topk
    from sarkac_spark.operators.similarity import assign_buckets
    from sarkac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    k = 3
    got = [
        (r.query_id, r.rank, r.neighbor_id, r.adist_micro)
        for r in ivfpq_topk(emb, PQ_CODEBOOKS, cents, n_queries=3, k=k, nprobe=2)
        .orderBy("query_id", "rank")
        .collect()
    ]
    adc = pq_adc_topk(emb, PQ_CODEBOOKS, n_queries=3, k=10**9).collect()
    bucket = {
        r.vec_id: r.bucket
        for r in assign_buckets(emb, cents, n_best=1)
        .select("vec_id", "bucket")
        .collect()
    }
    probes: dict[int, set[int]] = {}
    for r in (
        assign_buckets(emb.filter(F.col("vec_id") < 3), cents, n_best=2)
        .select("vec_id", "bucket")
        .collect()
    ):
        probes.setdefault(r.vec_id, set()).add(r.bucket)
    per_q: dict[int, list[tuple[int, int]]] = {}
    for r in adc:
        if bucket[r.neighbor_id] in probes[r.query_id]:
            per_q.setdefault(r.query_id, []).append(
                (r.adist_micro, r.neighbor_id)
            )
    want = [
        (q, i, n, d)
        for q in sorted(per_q)
        for i, (d, n) in enumerate(sorted(per_q[q])[:k], 1)
    ]
    assert got == want


def test_pq_rerank_improves_or_matches_adc_recall(spark, sf_dir):
    """Two-stage re-rank recall vs exact L2 must dominate the raw ADC
    ranking's (the shortlist contains ADC's top-k, so re-ranking can
    only promote true neighbors into the top-k, never lose them...
    provided the true neighbor made the shortlist — assert >=)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sarkac_spark.operators.pq import (
        PQ_CODEBOOKS,
        _dist_expr,
        pq_adc_topk,
        pq_rerank_topk,
    )
    from sarkac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dist_expr(F.col("qv"), F.col("v")).alias("d"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3")
    )
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    adc = recall(pq_adc_topk(emb, PQ_CODEBOOKS, n_queries=10, k=3))
    rr = recall(pq_rerank_topk(emb, PQ_CODEBOOKS, n_queries=10, shortlist=20, k=3))
    assert rr >= adc
    assert rr >= 0.3  # the shortlist recovers well past raw-ADC recall


def test_text_ivfpq_recall_floor_vs_exact_cosine(spark):
    """Raw-text retrieval (hash_embed -> fit-free IVF -> TEXT_PQ ADC)
    holds a recall floor against exact cosine on the SAME vectors.
    The synthetic corpus is near the hardest operating point (31-word
    vocabulary => hash-embed vectors are near-random, top neighbors at
    modest cosine — the LSH_BITS note in queries/llm.py), so the floor
    is 0.3, matching the documented LSH operating point; measured
    0.4/0.5 at sf0.001/sf0.01."""
    from pyspark.sql import functions as F

    from sarkac_spark.operators.pq import TEXT_PQ_CODEBOOKS, ivfpq_topk
    from sarkac_spark.operators.similarity import ann_recall, cosine_topk
    from sarkac_spark.operators.text import hash_embed

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = hash_embed(docs, "doc_id", "text", dim=64)
    cents = emb.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("centroid_id"), "embedding"
    )
    approx = ivfpq_topk(
        emb, TEXT_PQ_CODEBOOKS, cents, id_col="doc_id", n_queries=10, k=3,
        nprobe=2,
    )
    exact = cosine_topk(emb, emb.filter(F.col("doc_id") < 10), id_col="doc_id", k=3)
    mean_recall = (
        ann_recall(exact, approx, "text_ivfpq", 3)
        .agg(F.avg("recall"))
        .collect()[0][0]
    )
    assert mean_recall >= 0.3


def test_pq_distortion_is_the_refit_trend_signal(spark, sf_dir):
    """pq_distortion (the oracle-checked audit) must agree with the
    k-means objective: the shipped fit's total distortion is strictly
    below a degenerate all-zero codebook's (= full subvector energy),
    and n_vecs covers the corpus in every subspace — the trendable
    per-epoch health number a codebook-refit cron consumes."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, PQ_K, PQ_M, pq_distortion
    from sarkac_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    zeros = [[[0.0] * 8 for _ in range(PQ_K)] for _ in range(PQ_M)]

    fit = pq_distortion(emb, PQ_CODEBOOKS).collect()
    degen = pq_distortion(emb, zeros).collect()
    assert {r.m for r in fit} == set(range(PQ_M))
    assert all(r.n_vecs == n for r in fit)
    assert sum(r.total_sqdist_micro for r in fit) < 0.7 * sum(
        r.total_sqdist_micro for r in degen
    )


def test_ivfpq_store_query_equals_on_the_fly(spark, sf_dir, tmp_path):
    """ivfpq_query_store over a materialized (and bucket-partitioned)
    ivfpq_store == ivfpq_topk re-deriving the index in one plan — same
    rows, bit for bit, with the store scan pruned to the probed
    buckets' partitions."""
    from sarkac_spark.operators.pq import (
        PQ_CODEBOOKS,
        ivfpq_query_store,
        ivfpq_store,
        ivfpq_topk,
    )
    from sarkac_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    expected = sorted(
        map(tuple, ivfpq_topk(e, PQ_CODEBOOKS, centroids, n_queries=10,
                              k=3, nprobe=2).collect())
    )

    path = str(tmp_path / "ivfpq_store")
    ivfpq_store(e, PQ_CODEBOOKS, centroids).write.partitionBy(
        "bucket"
    ).parquet(path)
    store = spark.read.parquet(path)
    queries = e.filter(F.col("vec_id") < 10)
    got_df = ivfpq_query_store(store, queries, centroids, PQ_CODEBOOKS, k=3, nprobe=2)
    assert sorted(map(tuple, got_df.collect())) == expected

    # the plan actually prunes: the store scan must carry a NON-EMPTY
    # PartitionFilters clause referencing the bucket column
    # ("PartitionFilters: []" would mean the isin literal was lost and
    # the whole index is scanned)
    import re

    probed_plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", probed_plan), (
        probed_plan[:4000]
    )
