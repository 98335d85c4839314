"""Similarity-search-family queries (split from llm.py): cosine /
IVF / LSH ANN, product quantization (assign/ADC/IVF-PQ/rerank/recall),
index-health audits (bucket stats, refit decision, PQ distortion), and
the raw-text end-to-end retrieval stack. See llm_common for shared
constants; the QUERIES/ORACLE registry lives in llm.py."""

from __future__ import annotations

from sarkac_spark.queries.llm_common import *  # noqa: F401,F403
from sarkac_spark.plans.audit import lazy_checkpoint

__all__ = [
    "q_embedding_neardup",
    "q_cosine_topk",
    "q_ivf_topk",
    "q_ivf_bucket_stats",
    "_ivf_bucket_stats_sql",
    "q_pq_distortion",
    "_pq_distortion_sql",
    "q_ivf_drift_trend",
    "_ivf_drift_trend_sql",
    "q_ivf_refit_decision",
    "_ivf_refit_decision_sql",
    "q_text_ivfpq",
    "_hash_vec_cte",
    "_text_ivfpq_sql",
    "q_ivf_probe2",
    "q_lsh_topk",
    "q_ann_recall",
    "q_quantize_audit",
    "q_embedding_health",
    "q_embedding_covariance",
    "q_hard_negatives",
    "_hard_negatives_sql",
    "q_pq_assign",
    "q_pq_topk",
    "q_pq_recall",
    "q_ivfpq_topk",
    "q_pq_rerank",
    "q_hash_embed",
    "_cosine_topk_sql",
    "_ivf_topk_sql",
    "_lsh_topk_sql",
    "_quantize_audit_sql",
    "_pq_cb_values",
    "_pq_codes_cte",
    "_pq_assign_sql",
    "_pq_topk_sql",
    "_pq_recall_sql",
    "_ivfpq_topk_sql",
    "_hash_embed_sql",
    "_pq_rerank_sql",
]

def q_embedding_neardup(spark, sf_dir):
    from sarkac_spark.operators.similarity import cosine_all_pairs

    return cosine_all_pairs(
        _embs(spark, sf_dir), threshold=EMB_NEARDUP_THRESHOLD
    )


def q_cosine_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return cosine_topk(e, e.filter(F.col("vec_id") < N_QUERIES), k=TOPK)


def q_ivf_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_topk(e, e.filter(F.col("vec_id") < N_QUERIES), centroids, k=TOPK)


def q_ivf_bucket_stats(spark, sf_dir):
    """IVF index-health audit: bucket occupancy + corpus share for the
    same centroid set ivf_topk serves from — probe cost follows bucket
    size, so this is the imbalance evidence a re-fit decision needs."""
    from sarkac_spark.operators.similarity import ivf_bucket_stats

    e = _embs(spark, sf_dir)
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_bucket_stats(e, centroids)


def _ivf_bucket_stats_sql() -> str:
    cent_cos = _COS.format(a="v.v", b="c.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS bucket, v FROM e WHERE vec_id < {N_CENTROIDS}),
ranked AS (
  SELECT v.vec_id, c.bucket, row_number() OVER (
    PARTITION BY v.vec_id ORDER BY {cent_cos} DESC, c.bucket
  ) AS rn
  FROM e v CROSS JOIN cents c
),
counts AS (
  SELECT bucket, count(*) AS n_vecs FROM ranked WHERE rn = 1 GROUP BY bucket
)
SELECT bucket, n_vecs,
       round(n_vecs / (SELECT sum(n_vecs) FROM counts), 6) AS share
FROM counts
"""


def q_pq_distortion(spark, sf_dir):
    """PQ codebook-health audit: per-subspace summed quantization error
    in integer micro-units - the k-means-cost trend that tells a
    maintenance cron when fit_pq_codebooks should re-run (the PQ
    counterpart of ivf_refit_decision)."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, pq_distortion

    return pq_distortion(_embs(spark, sf_dir), PQ_CODEBOOKS)


def _pq_distortion_sql() -> str:
    return f"""
WITH {_pq_codes_cte()}
SELECT m, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CAST(round(d * 1000000) AS BIGINT)) AS BIGINT)
         AS total_sqdist_micro
FROM (SELECT vec_id, m, min(d) AS d FROM sub GROUP BY 1, 2)
GROUP BY m
"""


def q_ivf_refit_decision(spark, sf_dir):
    """The IVF maintenance GATE (round-6 ask #4): bucket-occupancy
    evidence reduced to one row — (n_buckets, n_occupied, max_share,
    needs_refit). `needs_refit` drives `ivf_maintenance` (seeded KMeans
    re-fit on a hash-sample + re-assign; drift-recovery proven in
    tests/test_ivf_maintenance.py). The decision itself is pure
    relational work, so unlike the fit it is oracle-checked."""
    from sarkac_spark.operators.similarity import ivf_refit_decision

    e = _embs(spark, sf_dir)
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_refit_decision(e, centroids)


def _ivf_refit_decision_sql() -> str:
    cent_cos = _COS.format(a="v.v", b="c.v")
    threshold = round(2.0 / N_CENTROIDS, 6)
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS bucket, v FROM e WHERE vec_id < {N_CENTROIDS}),
ranked AS (
  SELECT v.vec_id, c.bucket, row_number() OVER (
    PARTITION BY v.vec_id ORDER BY {cent_cos} DESC, c.bucket
  ) AS rn
  FROM e v CROSS JOIN cents c
),
counts AS (
  SELECT bucket, count(*) AS n_vecs FROM ranked WHERE rn = 1 GROUP BY bucket
),
shares AS (
  SELECT bucket,
         round(n_vecs / (SELECT sum(n_vecs) FROM counts), 6) AS share
  FROM counts
)
SELECT CAST({N_CENTROIDS} AS BIGINT) AS n_buckets,
       CAST(count(*) AS BIGINT) AS n_occupied,
       max(share) AS max_share,
       (max(share) > {threshold} OR count(*) < {N_CENTROIDS}) AS needs_refit
FROM shares
"""


def q_text_ivfpq(spark, sf_dir):
    """Raw-text retrieval END-TO-END (round-6 ask #5): documents →
    hash_embed (deterministic, no encoder) → fit-free IVF coarse
    buckets (the first N docs' vectors as centroids, the vec_id<8
    precedent) → IVF-PQ ADC ranking against the shipped
    TEXT_PQ_CODEBOOKS literal. The whole no-model retrieval stack at
    the query level, over the `documents` table only — the query never
    touches a raw float vector outside its own distance tables.
    Recall floor vs exact cosine on the same vectors pinned in
    tests/test_pq.py."""
    from sarkac_spark.operators.pq import TEXT_PQ_CODEBOOKS, ivfpq_topk
    from sarkac_spark.operators.text import hash_embed

    # lazy checkpoint: ivfpq_topk derives corpus buckets, PQ codes and
    # queries from the SAME relation, and the centroid dim filters it
    # too — without a barrier each leg re-runs the full hash_embed
    # (explode + two shuffles). One materialization serves all four.
    # Known-benign noise: rebuilding this query in a session that
    # already evaluated it logs "ERROR DAGScheduler: Failed to update
    # accumulator" — stale accumulators from the checkpointed stage;
    # results are unaffected (oracle stays green). Not a defect.
    emb = hash_embed(
        _docs(spark, sf_dir), "doc_id", "text", dim=EMB_DIM
    ).transform(lazy_checkpoint)
    centroids = emb.filter(F.col("doc_id") < N_CENTROIDS).select(
        F.col("doc_id").alias("centroid_id"), "embedding"
    )
    return ivfpq_topk(
        emb,
        TEXT_PQ_CODEBOOKS,
        centroids,
        id_col="doc_id",
        n_queries=N_QUERIES,
        k=TOPK,
        nprobe=2,
    )


def _hash_vec_cte(dim: int = EMB_DIM) -> str:
    """CTE chain ending in e(vec_id, v DOUBLE[]) — the hash_embed
    relation assembled into per-doc vectors, shared by the raw-text
    retrieval oracles. Mirrors _hash_embed_sql exactly."""
    return f"""w AS (
  SELECT doc_id, lower(u.t) AS t FROM documents, UNNEST({_WORDS}) AS u(t)
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM w
),
sb AS (
  SELECT doc_id, hv % {dim} AS b,
         CASE WHEN hv % {2 * dim} >= {dim} THEN -1 ELSE 1 END AS s
  FROM h
),
pb AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v FROM sb GROUP BY 1, 2),
grid AS (
  SELECT d.doc_id, r.j
  FROM (SELECT DISTINCT doc_id FROM pb) d, range(0, {dim}) r(j)
),
dense AS (
  SELECT g.doc_id, g.j, coalesce(pb.v, 0) AS v
  FROM grid g LEFT JOIN pb ON pb.doc_id = g.doc_id AND pb.b = g.j
),
nrm AS (
  SELECT doc_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS n FROM dense GROUP BY 1
),
hv AS (
  SELECT d.doc_id, d.j,
         CASE WHEN n.n > 0 THEN round(d.v / n.n, 6) ELSE 0.0 END AS v
  FROM dense d JOIN nrm n USING (doc_id)
),
e AS (
  SELECT doc_id AS vec_id, list(v ORDER BY j) AS v FROM hv GROUP BY doc_id
)"""


def _text_ivfpq_sql(nprobe: int = 2) -> str:
    from sarkac_spark.operators.pq import TEXT_PQ_CODEBOOKS

    cent_cos = _COS.format(a="v.v", b="c.v")
    return f"""
WITH {_hash_vec_cte()},
cb(m, c, cent) AS (VALUES
  {_pq_cb_values(TEXT_PQ_CODEBOOKS)}),
sub AS (
  SELECT e.vec_id, cb.m, cb.c,
         round(list_sum(list_transform(range(1, 9),
               j -> (v[cb.m * 8 + j] - cent[j]) * (v[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM e CROSS JOIN cb
),
best AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
    FROM sub
  ) WHERE rn = 1
),
cents AS (SELECT vec_id AS bucket, v FROM e WHERE vec_id < {N_CENTROIDS}),
ivfranked AS (
  SELECT v.vec_id, c.bucket, row_number() OVER (
    PARTITION BY v.vec_id ORDER BY {cent_cos} DESC, c.bucket
  ) AS rn
  FROM e v CROSS JOIN cents c
),
assign_all AS (SELECT vec_id, bucket FROM ivfranked WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, bucket FROM ivfranked
  WHERE rn <= {nprobe} AND vec_id < {N_QUERIES}
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
tab AS (
  SELECT q.query_id, cb.m, cb.c AS code,
         round(list_sum(list_transform(range(1, 9),
               j -> (qv[cb.m * 8 + j] - cent[j]) * (qv[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM q CROSS JOIN cb
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign_all a
    ON a.bucket = p.bucket AND a.vec_id != p.query_id
),
adist AS (
  SELECT c.query_id, c.vec_id,
         CAST(sum(CAST(round(t.d * 1000000) AS BIGINT)) AS BIGINT)
           AS adist_micro
  FROM cand c
  JOIN best b ON b.vec_id = c.vec_id
  JOIN tab t ON t.query_id = c.query_id AND t.m = b.m AND t.code = b.c
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adist_micro, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist_micro, vec_id
  ) AS rank FROM adist
) WHERE rank <= {TOPK}
"""


def q_ivf_probe2(spark, sf_dir):
    """Multi-probe IVF: same index, nprobe=2 — the recall/latency dial
    demonstrated as a first-class parameter (candidates from the two
    nearest centroid buckets per query)."""
    e = _embs(spark, sf_dir)
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivf_topk(
        e, e.filter(F.col("vec_id") < N_QUERIES), centroids, k=TOPK,
        nprobe=IVF_NPROBE,
    )


def q_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed ANN (training-free scale path: md5-derived
    Rademacher hyperplanes, multi-table candidate union, exact cosine
    on candidates only)."""
    e = _embs(spark, sf_dir)
    return lsh_topk(
        e,
        e.filter(F.col("vec_id") < N_QUERIES),
        dim=EMB_DIM,
        k=TOPK,
        n_bits=LSH_BITS,
        n_tables=LSH_TABLES,
    )


def q_ann_recall(spark, sf_dir):
    """Recall@k of both approximate ANN paths (IVF, sign-LSH) against
    the exact brute-force baseline, per query vector — the tuning
    report to run before trusting approximate parameters at scale.

    The three top-k relations are k·|queries| rows — result sets, not
    corpora — but each is referenced by multiple joins, and Spark
    re-derives lineage per reference (the exact baseline would run its
    corpus scan three times). ``localCheckpoint(eager=False)``
    materializes each once AT FIRST ACTION — lazily, so that merely
    *building* this DataFrame (the plan sweep, plan_report) runs no
    jobs; at scale you'd persist tuning inputs before evaluation for
    exactly the same reason."""
    from sarkac_spark.operators.similarity import ann_recall

    exact = q_cosine_topk(spark, sf_dir).transform(lazy_checkpoint)
    ivf = q_ivf_topk(spark, sf_dir).transform(lazy_checkpoint)
    lsh = q_lsh_topk(spark, sf_dir).transform(lazy_checkpoint)
    return ann_recall(exact, ivf, "ivf", k=TOPK).unionByName(
        ann_recall(exact, lsh, "lsh", k=TOPK)
    )


def q_quantize_audit(spark, sf_dir):
    """Per-vector int8 quantization scale + worst reconstruction error."""
    from sarkac_spark.operators.similarity import quantize_int8_error

    return quantize_int8_error(_embs(spark, sf_dir))


def q_embedding_health(spark, sf_dir):
    """Per-label embedding health gate (dims/zeros/NaN) — integer-exact."""
    from sarkac_spark.operators.similarity import embedding_health

    return embedding_health(_embs(spark, sf_dir))


def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle covariance matrix of the embedding store — the
    PCA/OPQ-preprocessing input and the correlated-dimensions audit
    (off-diagonal mass = PQ subspace-independence violations). Key
    space is d(d+1)/2, so map-side combine bounds the shuffle at
    O(tasks * d^2) regardless of corpus size.

    Centering shift: the min-vec_id row's vector (deterministic; the
    oracle picks the same row in SQL). Covariance is shift-invariant,
    but shifting tames the naive-form cancellation when means dominate
    stddevs — see ``_covariance_moments``. The 1-row collect is bounded
    by contract (one vector, never n)."""
    from sarkac_spark.operators.similarity import embedding_covariance

    e = _embs(spark, sf_dir)
    first = e.orderBy("vec_id").select("embedding").first()
    shift = [float(x) for x in first[0]] if first is not None else None
    return embedding_covariance(e, shift=shift)


def q_hard_negatives(spark, sf_dir):
    """Semi-hard negative mining (triplet-loss practice): per query
    vector the 5 most similar candidates inside the [0.2, 0.45) cosine
    band — informative but below the positive threshold."""
    from sarkac_spark.operators.similarity import hard_negatives

    e = _embs(spark, sf_dir)
    return hard_negatives(
        e,
        e.filter(F.col("vec_id") < N_QUERIES),
        k=HARDNEG_K,
        lo=HARDNEG_LO,
        hi=HARDNEG_HI,
    )


def _hard_negatives_sql() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM e q JOIN e c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
banded AS (
  SELECT * FROM scored
  WHERE cos_sim >= {HARDNEG_LO} AND cos_sim < {HARDNEG_HI}
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
  ) AS rank FROM banded
) WHERE rank <= {HARDNEG_K}
"""


def q_pq_assign(spark, sf_dir):
    """Product-quantization codes: every vector snapped to its nearest
    per-subspace centroid (literal codebooks from the seeded sf0.01
    fit) — the compressed 4-bit-per-subspace index relation. Map-only
    against broadcast literals."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, pq_assign

    return pq_assign(_embs(spark, sf_dir), PQ_CODEBOOKS)


def q_pq_topk(spark, sf_dir):
    """PQ ADC top-k: quantized nearest neighbors per query (distance =
    sum of per-subspace query→assigned-centroid distances in exact
    integer micro-units) — m table lookups per candidate instead of a
    64-term dot product."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, pq_adc_topk

    return pq_adc_topk(
        _embs(spark, sf_dir), PQ_CODEBOOKS, n_queries=N_QUERIES, k=TOPK
    )


def q_pq_recall(spark, sf_dir):
    """PQ quality gate (the ann_recall discipline for the quantized
    path): recall@k of ADC top-k against the exact L2 top-k — the
    number an operator reads before trusting 4-bit codes at 100 TB.
    On this synthetic corpus (near-random embeddings, no true
    neighbors — same caveat as LSH_BITS above) recall@3 sits ~0.2 at
    64x compression; real embedding corpora with actual near-neighbor
    structure sit far right of this operating point, and the knobs are
    m/k (code budget) exactly as in the paper."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, _dist_expr, pq_adc_topk
    from pyspark.sql.window import Window

    e = _embs(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _dist_expr(F.col("qv"), F.col("v")).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d"), F.col("neighbor_id"))
    # the exact arm is referenced twice (hits join + base); without a
    # barrier the corpus-sized brute-force scoring pass runs twice —
    # same device as ann_recall's checkpointed top-k relations (r12)
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id")
        .transform(lazy_checkpoint)
    )
    approx = pq_adc_topk(
        _embs(spark, sf_dir), PQ_CODEBOOKS, n_queries=N_QUERIES, k=TOPK
    ).select("query_id", "neighbor_id")
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    base = exact.select("query_id").distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / float(TOPK), 6).alias(
            "recall"
        ),
    )


def q_ivfpq_topk(spark, sf_dir):
    """The classic IVF-PQ layout: coarse-quantizer bucket pruning
    (nprobe=2) + in-bucket ADC ranking over 4-bit codes — the query
    path that never touches a raw float vector outside its own
    distance tables."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, ivfpq_topk

    e = _embs(spark, sf_dir)
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return ivfpq_topk(
        e, PQ_CODEBOOKS, centroids, n_queries=N_QUERIES, k=TOPK, nprobe=2
    )


def q_pq_rerank(spark, sf_dir):
    """Two-stage retrieval: ADC shortlist (20) -> exact L2 re-rank ->
    top-3 — full-precision math touches shortlist x queries vectors,
    not the corpus; the standard PQ deployment shape."""
    from sarkac_spark.operators.pq import PQ_CODEBOOKS, pq_rerank_topk

    return pq_rerank_topk(
        _embs(spark, sf_dir),
        PQ_CODEBOOKS,
        n_queries=N_QUERIES,
        shortlist=PQ_SHORTLIST,
        k=TOPK,
    )


def q_hash_embed(spark, sf_dir):
    """Hashing-trick document embeddings, long form (doc_id, j, v):
    the deterministic text->vector bridge that feeds the embedding
    stack (semantic dedup / IVF / LSH / PQ) from raw text — no vocab,
    no model, integer bucket sums normalized once."""
    from sarkac_spark.operators.text import hash_embed

    emb = hash_embed(_docs(spark, sf_dir), "doc_id", "text", dim=EMB_DIM)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("j", "v")
    ).withColumn("j", F.col("j").cast("long"))


def _cosine_topk_sql() -> str:
    cos = _COS.format(a="q.v", b="c.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM e q JOIN e c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
  ) AS rank FROM scored
) WHERE rank <= {TOPK}
"""


def _ivf_topk_sql(nprobe: int = 1) -> str:
    cent_cos = _COS.format(a="v.v", b="c.v")
    cos = _COS.format(a="q.v", b="n.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS bucket, v FROM e WHERE vec_id < {N_CENTROIDS}),
ranked AS (
  SELECT v.vec_id, c.bucket, row_number() OVER (
    PARTITION BY v.vec_id ORDER BY {cent_cos} DESC, c.bucket
  ) AS rn
  FROM e v CROSS JOIN cents c
),
assign_all AS (SELECT vec_id, bucket FROM ranked WHERE rn = 1),
probes AS (SELECT vec_id, bucket FROM ranked WHERE rn <= {nprobe}),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {cos} AS cos_sim
  FROM e q
  JOIN probes qa ON qa.vec_id = q.vec_id
  JOIN assign_all na ON na.bucket = qa.bucket AND na.vec_id != q.vec_id
  JOIN e n ON n.vec_id = na.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
  ) AS rank FROM scored
) WHERE rank <= {TOPK}
"""


def _lsh_topk_sql() -> str:
    # mirror of operators/similarity.py::lsh_topk — hyperplane (t, bit)
    # unrolled to a global plane index j: t = j // bits, bit = j % bits.
    # list_dot_product over the ORDER BY d list matches Spark's
    # sequential zip_with/aggregate fold; dots rounded before the sign
    # test on both sides so bucket ids are order-of-summation-proof.
    cos = _COS.format(a="q.v", b="n.v")
    n_planes = LSH_BITS * LSH_TABLES
    return f"""
WITH hp AS (
  SELECT j, list(
    CASE WHEN ('0x' || substr(md5('lsh|' || j || ':' || d), 1, 15))::BIGINT % 2 = 0
         THEN 1.0 ELSE -1.0 END ORDER BY d) AS hv
  FROM range({n_planes}) t1(j) CROSS JOIN range({EMB_DIM}) t2(d)
  GROUP BY j
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (
  SELECT e.vec_id, hp.j // {LSH_BITS} AS t,
         SUM(CASE WHEN round(list_dot_product(e.v, hp.hv), 6) > 0
                  THEN (1::BIGINT << (hp.j % {LSH_BITS})) ELSE 0 END) AS bucket
  FROM e CROSS JOIN hp
  GROUP BY e.vec_id, hp.j // {LSH_BITS}
),
cand AS (
  SELECT DISTINCT qs.vec_id AS query_id, ns.vec_id AS neighbor_id
  FROM sig qs
  JOIN sig ns ON ns.t = qs.t AND ns.bucket = qs.bucket AND ns.vec_id != qs.vec_id
  WHERE qs.vec_id < {N_QUERIES}
),
scored AS (
  SELECT c.query_id, c.neighbor_id, {cos} AS cos_sim
  FROM cand c
  JOIN e q ON q.vec_id = c.query_id
  JOIN e n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
  ) AS rank FROM scored
) WHERE rank <= {TOPK}
"""


def _quantize_audit_sql() -> str:
    return """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vd FROM embeddings
),
s AS (
  SELECT vec_id, vd,
         list_max(list_transform(vd, x -> abs(x))) / 127 AS sc
  FROM v
)
SELECT vec_id, round(sc, 6) AS scale,
       CASE WHEN sc = 0 THEN 0.0 ELSE
         round(list_max(list_transform(vd,
           x -> abs(floor(x / sc + 0.5) * sc - x))), 6)
       END AS max_abs_err
FROM s
"""


def _pq_cb_values(codebooks=None) -> str:
    from sarkac_spark.operators.pq import PQ_CODEBOOKS

    rows = []
    for m, cents in enumerate(codebooks or PQ_CODEBOOKS):
        for c, cent in enumerate(cents):
            lst = ", ".join(repr(float(x)) for x in cent)
            rows.append(f"({m}, {c}, CAST([{lst}] AS DOUBLE[]))")
    return ",\n  ".join(rows)


def _pq_codes_cte() -> str:
    """cb + e + per-(vec, subspace) argmin code — shared by both PQ
    oracles; mirrors pq_assign_long (round-6 distance, index
    tie-break)."""
    return f"""cb(m, c, cent) AS (VALUES
  {_pq_cb_values()}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (
  SELECT e.vec_id, cb.m, cb.c,
         round(list_sum(list_transform(range(1, 9),
               j -> (v[cb.m * 8 + j] - cent[j]) * (v[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM e CROSS JOIN cb
),
best AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
    FROM sub
  ) WHERE rn = 1
)"""


def _pq_assign_sql() -> str:
    from sarkac_spark.operators.pq import PQ_M

    codes = ",\n       ".join(
        f"CAST(max(CASE WHEN m = {mi} THEN c END) AS BIGINT) AS code_{mi}"
        for mi in range(PQ_M)
    )
    return f"""
WITH {_pq_codes_cte()}
SELECT vec_id,
       {codes}
FROM best GROUP BY vec_id
"""


def _pq_topk_sql() -> str:
    return f"""
WITH {_pq_codes_cte()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
tab AS (
  SELECT q.query_id, cb.m, cb.c AS code,
         round(list_sum(list_transform(range(1, 9),
               j -> (qv[cb.m * 8 + j] - cent[j]) * (qv[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM q CROSS JOIN cb
),
adist AS (
  SELECT t.query_id, b.vec_id,
         CAST(sum(CAST(round(t.d * 1000000) AS BIGINT)) AS BIGINT)
           AS adist_micro
  FROM best b JOIN tab t ON t.m = b.m AND t.code = b.c
  WHERE b.vec_id != t.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adist_micro, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist_micro, vec_id
  ) AS rank FROM adist
) WHERE rank <= {TOPK}
"""


def _pq_recall_sql() -> str:
    return f"""
WITH {_pq_codes_cte()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_sum(list_transform(range(1, 65),
                       j -> (qv[j] - c.v[j]) * (qv[j] - c.v[j]))), 6),
                      c.vec_id
           ) AS rank
    FROM q CROSS JOIN e c
    WHERE c.vec_id != q.query_id
  ) WHERE rank <= {TOPK}
),
tab AS (
  SELECT q.query_id, cb.m, cb.c AS code,
         round(list_sum(list_transform(range(1, 9),
               j -> (qv[cb.m * 8 + j] - cent[j]) * (qv[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM q CROSS JOIN cb
),
adist AS (
  SELECT t.query_id, b.vec_id,
         CAST(sum(CAST(round(t.d * 1000000) AS BIGINT)) AS BIGINT)
           AS adist_micro
  FROM best b JOIN tab t ON t.m = b.m AND t.code = b.c
  WHERE b.vec_id != t.query_id
  GROUP BY 1, 2
),
ap AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adist_micro, vec_id
    ) AS rank FROM adist
  ) WHERE rank <= {TOPK}
),
hits AS (
  SELECT e2.query_id, count(*) AS n_hits
  FROM ap JOIN ex e2 USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT b.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / CAST({TOPK} AS DOUBLE), 6) AS recall
FROM (SELECT DISTINCT query_id FROM ex) b
LEFT JOIN hits h USING (query_id)
"""


def _ivfpq_topk_sql(nprobe: int = 2) -> str:
    cent_cos = _COS.format(a="v.v", b="c.v")
    return f"""
WITH {_pq_codes_cte()},
cents AS (SELECT vec_id AS bucket, v FROM e WHERE vec_id < {N_CENTROIDS}),
ivfranked AS (
  SELECT v.vec_id, c.bucket, row_number() OVER (
    PARTITION BY v.vec_id ORDER BY {cent_cos} DESC, c.bucket
  ) AS rn
  FROM e v CROSS JOIN cents c
),
assign_all AS (SELECT vec_id, bucket FROM ivfranked WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, bucket FROM ivfranked
  WHERE rn <= {nprobe} AND vec_id < {N_QUERIES}
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
tab AS (
  SELECT q.query_id, cb.m, cb.c AS code,
         round(list_sum(list_transform(range(1, 9),
               j -> (qv[cb.m * 8 + j] - cent[j]) * (qv[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM q CROSS JOIN cb
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assign_all a
    ON a.bucket = p.bucket AND a.vec_id != p.query_id
),
adist AS (
  SELECT c.query_id, c.vec_id,
         CAST(sum(CAST(round(t.d * 1000000) AS BIGINT)) AS BIGINT)
           AS adist_micro
  FROM cand c
  JOIN best b ON b.vec_id = c.vec_id
  JOIN tab t ON t.query_id = c.query_id AND t.m = b.m AND t.code = b.c
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adist_micro, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist_micro, vec_id
  ) AS rank FROM adist
) WHERE rank <= {TOPK}
"""


def _hash_embed_sql(dim: int = EMB_DIM) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, lower(u.t) AS t FROM documents, UNNEST({_WORDS}) AS u(t)
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM w
),
sb AS (
  SELECT doc_id, hv % {dim} AS b,
         CASE WHEN hv % {2 * dim} >= {dim} THEN -1 ELSE 1 END AS s
  FROM h
),
pb AS (SELECT doc_id, b, CAST(sum(s) AS BIGINT) AS v FROM sb GROUP BY 1, 2),
grid AS (
  SELECT d.doc_id, r.j
  FROM (SELECT DISTINCT doc_id FROM pb) d, range(0, {dim}) r(j)
),
dense AS (
  SELECT g.doc_id, g.j, coalesce(pb.v, 0) AS v
  FROM grid g LEFT JOIN pb ON pb.doc_id = g.doc_id AND pb.b = g.j
),
nrm AS (
  SELECT doc_id, sqrt(sum(CAST(v AS DOUBLE) * v)) AS n FROM dense GROUP BY 1
)
SELECT d.doc_id, d.j,
       CASE WHEN n.n > 0 THEN round(d.v / n.n, 6) ELSE 0.0 END AS v
FROM dense d JOIN nrm n USING (doc_id)
"""


def _pq_rerank_sql() -> str:
    return f"""
WITH {_pq_codes_cte()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
tab AS (
  SELECT q.query_id, cb.m, cb.c AS code,
         round(list_sum(list_transform(range(1, 9),
               j -> (qv[cb.m * 8 + j] - cent[j]) * (qv[cb.m * 8 + j] - cent[j])
         )), 6) AS d
  FROM q CROSS JOIN cb
),
adist AS (
  SELECT t.query_id, b.vec_id,
         CAST(sum(CAST(round(t.d * 1000000) AS BIGINT)) AS BIGINT)
           AS adist_micro
  FROM best b JOIN tab t ON t.m = b.m AND t.code = b.c
  WHERE b.vec_id != t.query_id
  GROUP BY 1, 2
),
short AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY adist_micro, vec_id
    ) AS rn FROM adist
  ) WHERE rn <= {PQ_SHORTLIST}
),
rescored AS (
  SELECT s.query_id, s.neighbor_id,
         round(list_sum(list_transform(range(1, 65),
               j -> (q.qv[j] - n.v[j]) * (q.qv[j] - n.v[j]))), 6) AS dist
  FROM short s
  JOIN q ON q.query_id = s.query_id
  JOIN e n ON n.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, dist, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY dist, neighbor_id
  ) AS rank FROM rescored
) WHERE rank <= {TOPK}
"""


def q_ivf_drift_trend(spark, sf_dir):
    """Per-version IVF distortion trend (the 'when did the index start
    rotting' audit): three fit-free centroid generations (vec_id
    windows [0,8), [8,16), [16,24) — the N_CENTROIDS convention, one
    relation per version) scored against the whole corpus, one
    kmeans-objective total per version. Longitudinal twin of
    ivf_refit_decision; streaming twin reads the real maintenance
    store (IvfMaintenancePipeline.distortion_trend)."""
    from sarkac_spark.operators.similarity import ivf_distortion_trend

    e = _embs(spark, sf_dir)
    cents = e.filter(F.col("vec_id") < 3 * N_CENTROIDS).select(
        (F.col("vec_id") / N_CENTROIDS).cast("long").alias("version"),
        (F.col("vec_id") % N_CENTROIDS).alias("centroid_id"),
        "embedding",
    )
    return ivf_distortion_trend(e, cents)


def _ivf_drift_trend_sql() -> str:
    cos = _COS.format(a="e.v", b="c.v")
    return f"""
WITH ed AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (
  SELECT vec_id // {N_CENTROIDS} AS version, v
  FROM ed WHERE vec_id < {3 * N_CENTROIDS}
),
s AS (
  SELECT c.version, e.vec_id, coalesce({cos}, -1.0) AS sim
  FROM ed e, c
),
pv AS (SELECT version, vec_id, max(sim) AS best FROM s GROUP BY 1, 2)
SELECT version, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CAST(round((1 - best) * 1000000) AS BIGINT)) AS BIGINT)
         AS total_gap_micro
FROM pv GROUP BY version
"""
