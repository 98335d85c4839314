"""Similarity search over embedding columns (``array<float>``).

Three paths, mirroring how a 100 TB pipeline would actually run ANN:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries are broadcast (they're the small side by construction), so the
  corpus is scanned once, map-only, no shuffle until the per-query top-k
  aggregation. Cosine runs through JVM higher-order functions
  (``zip_with`` + ``aggregate``) in whole-stage codegen — no Python.
- ``ivf_topk``: IVF-style bucketed ANN — the scale path. Vectors are
  assigned to their nearest centroid once (one scan, map-only with
  broadcast centroids); a query probes its ``nprobe`` nearest centroid
  buckets (the standard recall/latency dial). Recall < 1 by design; the
  tradeoff documented in the returned plan shape. Centroids here are
  caller-provided (k first vectors for determinism in tests; MLlib
  KMeans in production).
- ``lsh_topk``: training-free sign-LSH ANN — multi-table random-
  hyperplane bucketing (md5-derived Rademacher planes, so bucketing is
  a pure deterministic expression: no fit step, no centroid state,
  streaming-composable), candidates from an equi-join on (table,
  bucket), exact cosine only on candidates.

Embedding-cosine near-dup dedup reuses ``cosine_topk`` output filtered to
similarity >= threshold (see queries/llm.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window
from sarkac_spark.plans.audit import lazy_checkpoint


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double-array columns — all JVM-side.
    For pairwise workloads prefer ``norm()`` precomputation per side +
    ``cosine_with_norms`` — this form recomputes both norms per pair.
    Zero-norm operands yield NULL (``try_divide``), the documented
    contract everywhere cosines feed a threshold — under ANSI mode a
    bare division would instead kill the job on the first zero vector."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """dot/(|a||b|) with norms computed once per vector instead of once
    per pair — cuts pairwise cosine work ~3x. Same double arithmetic, so
    results are bit-identical to ``cosine`` (norm is a deterministic
    function of the vector either way). NULL on zero norms, like
    ``cosine``."""
    return F.try_divide(_dot(a, b), norm_a * norm_b)


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def cosine_all_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    round_digits: int = 6,
    n_blocks: int = 8,
    small_corpus: bool = False,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold WITHOUT materializing the n^2
    pair relation and WITHOUT collecting the corpus to the driver.

    Default (scale) path — block-matrix self-join: rows hash into
    ``n_blocks`` row-blocks; a tiny block-pair relation (bi <= bj,
    B(B+1)/2 rows) replicates each row to the block-pairs it belongs to
    (B copies/row); each ``applyInPandas`` group then holds exactly two
    blocks and computes their gram sub-matrix with one float64 BLAS
    matmul, emitting only above-threshold pairs. The inherent n^2*d flops
    stay — vectorized and spread over B(B+1)/2 independent tasks. Memory
    per task = 2 blocks = 2*(n/B)*d*8 bytes: size ``n_blocks`` so a block
    fits comfortably in an executor python worker (e.g. 1e8 x 64-dim
    vectors at B=1000 -> ~100 MB/task; shuffle volume = B*n rows, far
    below the compute cost that dominates any exact all-pairs run).

    ``small_corpus=True`` is the documented fast path for corpora that
    fit on the driver (~1e6 x 64 dims = 512 MB practical ceiling): one
    driver collect + broadcast of the matrix, one scan computing gram
    blocks against the broadcast side — no shuffle at all.

    Both paths round inside float64 numpy and emit identical pairs. For
    sub-exact budgets use LSH candidate generation (``lsh_topk``) —
    recall < 1, so it is NOT a drop-in for this operator's contract.
    """
    if small_corpus:
        return _cosine_all_pairs_broadcast(
            corpus, id_col, vec_col, threshold, round_digits
        )

    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    side_a = base.join(F.broadcast(pairs), base.blk == pairs.bi).select(
        "bi", "bj", "id", "vec", F.lit("a").alias("role")
    )
    side_b = base.join(F.broadcast(pairs), base.blk == pairs.bj).select(
        "bi", "bj", "id", "vec", F.lit("b").alias("role")
    )
    both = side_a.unionByName(side_b)

    def gram(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["role"] == "a"]
        b = pdf[pdf["role"] == "b"]
        if a.empty or b.empty:
            return pd.DataFrame(
                {
                    "id_a": np.array([], dtype=np.int64),
                    "id_b": np.array([], dtype=np.int64),
                    "cos_sim": np.array([], dtype=np.float64),
                }
            )
        a_ids = np.asarray(a["id"].to_numpy(), dtype=np.int64)
        b_ids = np.asarray(b["id"].to_numpy(), dtype=np.int64)
        a_mat = np.vstack(a["vec"].to_numpy()).astype(np.float64)
        b_mat = np.vstack(b["vec"].to_numpy()).astype(np.float64)
        a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
        b_norms = np.sqrt(np.einsum("ij,ij->i", b_mat, b_mat))
        sims = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
        sims = np.round(sims, round_digits)
        if bi == bj:
            # diagonal: both roles hold the same rows, so each unordered
            # pair appears twice — id_a < id_b keeps exactly one copy
            ai, bx = np.nonzero(
                (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
            )
            id_a, id_b = a_ids[ai], b_ids[bx]
        else:
            # off-diagonal: each unordered pair appears exactly once (one
            # row per role), in whichever orientation the hash dealt —
            # canonicalize to (min, max) instead of filtering
            ai, bx = np.nonzero(sims >= threshold)
            id_a = np.minimum(a_ids[ai], b_ids[bx])
            id_b = np.maximum(a_ids[ai], b_ids[bx])
        return pd.DataFrame(
            {"id_a": id_a, "id_b": id_b, "cos_sim": sims[ai, bx]}
        )

    return both.groupBy("bi", "bj").applyInPandas(
        gram, schema="id_a long, id_b long, cos_sim double"
    )


def _cosine_all_pairs_broadcast(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Small-corpus fast path: driver collect + broadcast gram blocks."""
    spark = corpus.sparkSession
    side = corpus.select(id_col, vec_col).toPandas()
    ids = np.asarray(side[id_col].to_numpy(), dtype=np.int64)
    mat = np.vstack(side[vec_col].to_numpy()).astype(np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
    bc = spark.sparkContext.broadcast((ids, mat, norms))

    def block(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            a_ids = np.asarray(pdf[id_col].to_numpy(), dtype=np.int64)
            a_mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            a_norms = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
            sims = (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)
            sims = np.round(sims, round_digits)
            ai, bj = np.nonzero((sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": a_ids[ai],
                    "id_b": b_ids[bj],
                    "cos_sim": sims[ai, bj],
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        block, schema="id_a long, id_b long, cos_sim double"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine per query vector.

    Output: (query_id, neighbor_id, cos_sim, rank). Self-matches are
    excluded. Similarities are rounded before ranking, with neighbor id
    as tiebreak, so results are stable across engines and runs.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("q_vec"),
    ).withColumn("q_norm", norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("c_vec"),
    ).withColumn("c_norm", norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
    )
    # rank as long: DuckDB row_number() is BIGINT and the driver may
    # compare dtypes across engines
    return (
        scored.withColumn("rank", w.cast("long")).filter(F.col("rank") <= k)
    )


def _rademacher_hyperplanes(
    n_planes: int, dim: int, salt: str = "lsh"
) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — the engine contract that
    makes sign-LSH oracle-checkable: any engine that can md5 a string can
    rebuild the exact same planes (DuckDB mirror in queries/llm.py).
    Rademacher entries are as good as Gaussian for sign-LSH (the
    Charikar'02 random-projection argument only needs symmetric,
    independent coordinates) and avoid shipping float literals."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{salt}|{j}:{d}".encode()).hexdigest()[:15], 16) % 2
            == 0
            else -1.0
            for d in range(dim)
        ]
        for j in range(n_planes)
    ]


def lsh_sign_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 6,
    n_tables: int = 3,
    salt: str = "lsh",
    include_table_vector: bool = False,
) -> DataFrame:
    """Sign-LSH bucket assignment, ``n_tables`` independent tables of
    ``n_bits`` hyperplanes each: bit j of table t is 1 iff the vector's
    dot with plane (t*n_bits + j) is positive. Output: (id, t, bucket) —
    one row per table; with ``include_table_vector`` each row also
    carries ``__buckets``, the full n_tables-long bucket array (a few
    longs — what lets ``lsh_topk`` dedupe multi-table candidate pairs
    without shuffling them).

    One corpus scan, map-only: the planes ride as ONE array-of-arrays
    literal and all dots come from a single higher-order ``transform``
    (the fold logic appears once in the plan — unrolling a
    ``zip_with``+``aggregate`` fold per plane exploded generated-code
    size and cost seconds of codegen compile per executor). The dot
    vector is materialized in its own projection before the per-table
    bucket expressions read it (no CSE across the HOF boundary — same
    pitfall as dedup.shingles). Dots are rounded to 6 decimals before
    the sign test so the bucket id is stable across engines regardless
    of float summation order.
    """
    planes = _rademacher_hyperplanes(n_tables * n_bits, dim, salt)
    vec = _as_double(vec_col)
    planes_lit = F.array(
        *[F.array(*[F.lit(s) for s in hv]) for hv in planes]
    )
    dots = F.transform(planes_lit, lambda hv: F.round(_dot(vec, hv), 6))
    with_dots = df.select(F.col(id_col), dots.alias("__dots"))

    def bucket(t: int) -> Column:
        acc = F.lit(0).cast("long")
        for j in range(n_bits):
            d = F.element_at(F.col("__dots"), t * n_bits + j + 1)
            acc = acc + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0))
        return acc

    tables = F.array(
        *[F.struct(F.lit(t).alias("t"), bucket(t).alias("bucket")) for t in range(n_tables)]
    )
    extra = (
        [F.array(*[bucket(t) for t in range(n_tables)]).alias("__buckets")]
        if include_table_vector
        else []
    )
    return with_dots.select(
        F.col(id_col), F.explode(tables).alias("tb"), *extra
    ).select(
        id_col,
        F.col("tb.t").alias("t"),
        F.col("tb.bucket").alias("bucket"),
        *(["__buckets"] if include_table_vector else []),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 3,
    n_bits: int = 6,
    n_tables: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """LSH-bucketed ANN — the second scale path next to ``ivf_topk``:
    candidates are vectors sharing ANY table's bucket with the query
    (multi-table union is the standard recall lever: P[candidate] =
    1-(1-p^bits)^tables), scored exactly by cosine, top-k per query.

    Scale shape: the n^2 cross product becomes an equi-join on
    (t, bucket) — per-bucket work only. Unlike IVF there is no training
    step and no centroid broadcast; bucketing is pure expression code,
    so the operator composes with streaming (assign is stateless).
    Output: (query_id, neighbor_id, cos_sim, rank).
    """
    ca = lsh_sign_assign(
        corpus, id_col, vec_col, dim, n_bits, n_tables, include_table_vector=True
    )
    qa = lsh_sign_assign(
        queries, id_col, vec_col, dim, n_bits, n_tables, include_table_vector=True
    )
    # A pair co-bucketed in several tables matches the join several
    # times; keep it only at the FIRST matching table (both bucket
    # vectors — n_tables longs — ride the join) instead of distinct():
    # same pair set, no shuffle of the candidate-pair stream (the same
    # rewrite as dedup_simhash's banding).
    joined = (
        qa.select(F.col(id_col).alias("query_id"), "t", "bucket", F.col("__buckets").alias("__qb"))
        .join(
            ca.select(
                F.col(id_col).alias("neighbor_id"), "t", "bucket", F.col("__buckets").alias("__cb")
            ),
            ["t", "bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    earlier_table_matched = F.lit(False)
    for tp in range(n_tables - 1):
        earlier_table_matched = earlier_table_matched | (
            (F.col("t") > tp)
            & (F.element_at("__qb", tp + 1) == F.element_at("__cb", tp + 1))
        )
    cand = joined.filter(~earlier_table_matched).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    ).withColumn("q_norm", norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("c_vec")
    ).withColumn("c_norm", norm(F.col("c_vec")))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
    )
    return scored.withColumn("rank", w.cast("long")).filter(F.col("rank") <= k)


def assign_buckets(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_best: int = 1,
) -> DataFrame:
    """IVF assignment: the ``n_best`` nearest centroids by cosine for
    every vector — one corpus scan with broadcast centroids,
    deterministic tiebreak on centroid id. ``n_best=1`` is storage
    assignment (each vector lives in ONE bucket); ``n_best>1`` is the
    probe side of multi-probe search. Output: (id, bucket, vec), one
    row per (vector, probed bucket).

    The ``n_best=1`` path is MAP-ONLY: an argmax fold over the
    broadcast centroid array (expression code, no corpus x centroids
    explode, no per-id window shuffle) — storage assignment is the
    corpus-sized leg of IVF, so it must not shuffle at 100 TB. The
    window formulation remains for the ``n_best>1`` probe side, which
    only ever runs over the (small) query set. Both paths share the
    tiebreak contract: highest rounded cosine, then lowest bucket id;
    null cosines (zero-norm vectors) lose to every real score and fall
    to the lowest bucket id."""
    if n_best == 1:
        # centroid array sorted by bucket id, so array_position's
        # first-occurrence-of-max IS the lowest-bucket tiebreak; null
        # cosines (zero-norm vectors) coalesce to -2.0, below any real
        # score, so an all-null row falls to the lowest bucket — both
        # exactly the window formulation's ordering contract.
        carr = (
            centroids.select(
                F.col(centroid_id_col).cast("long").alias("bucket"),
                _as_double(vec_col).alias("cent_vec"),
            )
            .withColumn("cent_norm", norm(F.col("cent_vec")))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("bucket", "cent_vec", "cent_norm"))
                ).alias("__cents")
            )
        )
        base = (
            corpus.select(F.col(id_col), _as_double(vec_col).alias("vec"))
            .withColumn("vec_norm", norm(F.col("vec")))
            .crossJoin(F.broadcast(carr))
            .withColumn(
                "__sims",
                F.transform(
                    F.col("__cents"),
                    lambda c: F.coalesce(
                        F.round(
                            cosine_with_norms(
                                F.col("vec"),
                                c.getField("cent_vec"),
                                F.col("vec_norm"),
                                c.getField("cent_norm"),
                            ),
                            6,
                        ),
                        F.lit(-2.0),
                    ),
                ),
            )
        )
        idx = F.array_position(F.col("__sims"), F.array_max(F.col("__sims")))
        best = F.element_at(F.col("__cents"), idx.cast("int"))
        return base.select(
            F.col(id_col), best.getField("bucket").alias("bucket"), "vec"
        )
    # same cast as the n_best=1 fast path, so the output bucket schema is
    # independent of n_best (both branches emit bucket: long)
    c = centroids.select(
        F.col(centroid_id_col).cast("long").alias("bucket"),
        _as_double(vec_col).alias("cent_vec"),
    ).withColumn("cent_norm", norm(F.col("cent_vec")))
    scored = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("vec"))
        .withColumn("vec_norm", norm(F.col("vec")))
        .crossJoin(F.broadcast(c))
        .select(
            id_col,
            "vec",
            "bucket",
            F.round(
                cosine_with_norms(
                    F.col("vec"), F.col("cent_vec"), F.col("vec_norm"), F.col("cent_norm")
                ),
                6,
            ).alias("cent_sim"),
        )
    )
    w = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("cent_sim").desc(), F.col("bucket"))
    )
    return scored.withColumn("rn", w).filter(F.col("rn") <= n_best).select(
        id_col, "bucket", "vec"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Bucketed ANN: probe the query's ``nprobe`` nearest centroid
    buckets. The candidate join stays an equi-join on bucket — work is
    nprobe buckets per query instead of full-corpus, which is the whole
    point at scale; nprobe is the standard recall/latency dial (each
    corpus vector lives in exactly one bucket, so probing more buckets
    widens candidates without duplicates)."""
    assigned = assign_buckets(corpus, centroids, id_col, vec_col)
    q_assigned = assign_buckets(
        queries, centroids, id_col, vec_col, n_best=nprobe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("bucket"),
        F.col("vec").alias("q_vec"),
    )
    cand = q_assigned.withColumn("q_norm", norm(F.col("q_vec"))).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"), "bucket", F.col("vec").alias("c_vec")
        ).withColumn("c_norm", norm(F.col("c_vec"))),
        "bucket",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_with_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
    )
    # rank as long: DuckDB row_number() is BIGINT and the driver may
    # compare dtypes across engines
    return (
        scored.withColumn("rank", w.cast("long")).filter(F.col("rank") <= k)
    )


def ivf_bucket_stats(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF index-health audit: per-bucket occupancy and corpus share —
    the gate run before a bucketed index serves traffic. Probe cost is
    ∝ bucket size, so one bucket holding 30% of a 100 TB corpus makes
    every query that probes it pay 0.3·|corpus| instead of
    |corpus|/n_buckets; the fix is re-fitting centroids (or splitting
    the bucket), and this relation is the evidence. Plan: the map-only
    argmax assignment (shared with ``ivf_topk``) + one
    |centroids|-row aggregation + a broadcast of the 1-row total —
    nothing data-sized beyond the single corpus scan.

    Output: (bucket, n_vecs, share), rounded for cross-engine equality;
    empty buckets don't appear (count them against the centroid relation
    — their absence is itself the imbalance signal)."""
    counts = (
        assign_buckets(corpus, centroids, id_col, vec_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    total = counts.agg(F.sum("n_vecs").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n_vecs",
        F.round(F.col("n_vecs") / F.col("__total"), 6).alias("share"),
    )


def ivf_refit_decision(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skew_factor: float = 2.0,
) -> DataFrame:
    """The refit GATE, as a one-row relation: occupancy evidence from
    ``ivf_bucket_stats`` reduced to (n_buckets, n_occupied, max_share,
    needs_refit). ``needs_refit`` fires when the hottest bucket carries
    more than ``skew_factor``× the uniform share (probe cost on that
    bucket is that many times budget) or when buckets sit empty (the
    index wastes its fanout). Pure relational — the decision an
    ``ivf_maintenance`` cron evaluates per index epoch at 100 TB costs
    one corpus scan + a |centroids|-row reduction."""
    n_cents = centroids.count()
    stats = ivf_bucket_stats(corpus, centroids, id_col, vec_col)
    uniform = 1.0 / n_cents
    return stats.agg(
        F.lit(n_cents).cast("long").alias("n_buckets"),
        F.count(F.lit(1)).cast("long").alias("n_occupied"),
        F.max("share").alias("max_share"),
        (
            (F.max("share") > F.lit(round(skew_factor * uniform, 6)))
            | (F.count(F.lit(1)) < F.lit(n_cents))
        ).alias("needs_refit"),
    )


def refit_ivf_centroids(
    corpus: DataFrame,
    n_buckets: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
    max_train_rows: int = 100_000,
    salt: str = "ivf_refit",
) -> DataFrame:
    """Re-fit IVF centroids with seeded KMeans on a hash-deterministic
    sample of the CURRENT corpus — the repair arm of the maintenance
    loop, run when ``ivf_refit_decision`` fires (drifted streams pile
    into stale buckets; re-fitting restores both balanced probe cost
    and same-cluster-same-bucket recall — see
    tests/test_ivf_maintenance.py for the drift-recovery proof).

    Training is capped at ``max_train_rows`` via ``hash_sample`` (row-
    content-deterministic, replay-safe — k centroids over a sample are
    statistically the centroids of the corpus, the ``kmeans_anomaly``
    argument); the fit input is hash-partitioned by ``id_col`` into 8
    id-sorted partitions + persisted for the iteration loop. KMeans||
    seeds its sampling per partition, so a layout set by the rows'
    content (not by the corpus's file layout or the core count) is what
    makes the fit reproduce the same centers anywhere. Iterative ⇒
    rows-only tier, like every MLlib fit here.

    Output: (centroid_id long, ``vec_col`` array<double>) — drop-in for
    ``assign_buckets`` / ``ivf_topk`` / ``ivf_bucket_stats``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from sarkac_spark.operators.sampling import hash_sample

    n_rows = corpus.count()
    train = corpus
    if max_train_rows and n_rows > max_train_rows:
        train = hash_sample(corpus, id_col, max_train_rows / n_rows, salt=salt)
    feats = (
        train.repartition(8, id_col)
        .sortWithinPartitions(id_col)
        .select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias(
                "__features"
            )
        )
        .persist()
    )
    try:
        model = KMeans(
            k=n_buckets, seed=seed, maxIter=max_iter, featuresCol="__features"
        ).fit(feats)
    finally:
        feats.unpersist()
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return corpus.sparkSession.createDataFrame(
        centers, f"centroid_id long, {vec_col} array<double>"
    )


def ivf_maintenance(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skew_factor: float = 2.0,
    seed: int = 7,
    max_iter: int = 20,
    max_train_rows: int = 100_000,
) -> tuple[DataFrame, bool, dict]:
    """One maintenance tick: evaluate ``ivf_refit_decision``; when it
    fires, ``refit_ivf_centroids`` on the current corpus. Returns
    (centroids', refitted, decision_row) — centroids' is the input
    relation untouched when healthy, so callers re-assign only on
    change. Driver cost: one |centroids|-row collect (the decision);
    the refit itself is the capped KMeans fit."""
    decision = ivf_refit_decision(
        corpus, centroids, id_col, vec_col, skew_factor
    ).collect()[0]
    if not decision.needs_refit:
        return centroids, False, decision.asDict()
    new_cents = refit_ivf_centroids(
        corpus,
        decision.n_buckets,
        id_col,
        vec_col,
        seed=seed,
        max_iter=max_iter,
        max_train_rows=max_train_rows,
    )
    return new_cents, True, decision.asDict()


def embedding_health(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding-store health audit: vector count, dimension
    bounds (min==max is the invariant a downstream matmul relies on),
    zero vectors, and NaN/Inf carriers. The gate run before an
    embedding table is allowed into ANN indexing or training.

    Integer-only outputs, so cross-engine comparison is exact. Map-only
    scan + |groups|-row aggregation; the array predicates (``exists``)
    short-circuit JVM-side — no Python, no shuffle beyond the final agg.
    """
    is_zero = ~F.exists(F.col(vec_col), lambda x: x != F.lit(0.0))
    has_bad = F.exists(
        F.col(vec_col), lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min(F.size(F.col(vec_col))).cast("long").alias("min_dims"),
        F.max(F.size(F.col(vec_col))).cast("long").alias("max_dims"),
        F.count_if(is_zero).alias("n_zero_vecs"),
        F.count_if(has_bad).alias("n_nonfinite_vecs"),
    )


def _covariance_moments(
    df: DataFrame, vec_col: str, shift: list[float] | None = None
) -> DataFrame:
    """Unrounded covariance moments per upper-triangle dimension pair:
    (i, j, __n, __si, __sj, __sij). One corpus scan; the groupBy key
    space is only d(d+1)/2, so map-side partial aggregation collapses
    each task's contribution to <= d^2 rows before the shuffle.
    ``embedding_covariance`` derives cov from it; ``pca_rotation``
    additionally reads the means off the i==j rows — ONE scan serves
    both, dimension included (max i + 1).

    ``shift``: optional per-dimension constants subtracted from every
    value BEFORE the sums. Covariance is shift-invariant, but the naive
    (sum(xy) - sum(x)sum(y)/n)/n form cancels catastrophically when
    |mean| >> stddev (real text/clip encoders); shifting by any sample
    vector moves the data near the origin, so sum(x) ~ 0 and the
    subtraction keeps its digits. With a shift, the moments are of the
    SHIFTED data: mean_i = __si/__n + shift[i]."""
    e1 = df.select(
        F.posexplode(F.col(vec_col)).alias("i", "xi"),
        F.col(vec_col).alias("__v"),
    )
    e2 = e1.select(
        "i",
        F.col("xi").cast("double").alias("xi"),
        F.posexplode("__v").alias("j", "xj"),
    ).filter(F.col("j") >= F.col("i"))
    xi = F.col("xi")
    xj = F.col("xj").cast("double")
    if shift is not None:
        sh = F.lit([float(s) for s in shift])
        xi = xi - F.element_at(sh, F.col("i") + F.lit(1))
        xj = xj - F.element_at(sh, F.col("j") + F.lit(1))
    return e2.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(xi).alias("__si"),
        F.sum(xj).alias("__sj"),
        F.sum(xi * xj).alias("__sij"),
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    round_digits: int = 6,
    shift: list[float] | None = None,
) -> DataFrame:
    """Population covariance matrix of an embedding column, as rows
    (i, j, cov) over the upper triangle (i <= j) — the input to the PCA
    rotation (``pca_rotation``) and an audit in its own right
    (off-diagonal mass = correlated dimensions = PQ subspaces that
    violate the product-quantizer independence assumption).

    Scale shape: double posexplode emits n*d(d+1)/2 multiply rows, but
    shuffle volume is O(tasks * d^2), independent of n (see
    ``_covariance_moments``). The multiplies are the covariance's
    inherent FLOPs. One grouped agg carries all four moments (n,
    sum xi, sum xj, sum xixj), so no second pass for mean-centering.
    Doubles everywhere, rounded to ``round_digits`` (the house
    cross-engine float rule).

    ``shift``: optional per-dimension centering constants (pass any
    sample vector) — the result is identical in exact arithmetic, but
    the naive-form cancellation is tamed when means dominate stddevs
    (see ``_covariance_moments``). ``+ lit(0.0)`` after the round
    normalizes IEEE signed zero: a covariance that rounds to zero from
    below would otherwise emit -0.0 on engines that preserve the sign
    through round() (DuckDB does, Spark does not — the r11 driver hash
    divergence), and -0.0 + 0.0 = +0.0 on every IEEE engine."""
    return _covariance_moments(df, vec_col, shift=shift).select(
        "i",
        "j",
        (
            F.round(
                (F.col("__sij") - F.col("__si") * F.col("__sj") / F.col("__n"))
                / F.col("__n"),
                round_digits,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


def pca_rotation(
    df: DataFrame,
    vec_col: str = "embedding",
    shift: list[float] | None = None,
) -> tuple[list[list[float]], list[float]]:
    """PCA basis of the embedding column: returns (components, mean) —
    ``components[r]`` is the r-th principal axis (descending variance).
    ONE distributed pass (``_covariance_moments`` — dimension, means
    and covariance all come off the same d(d+1)/2-row relation); only
    the d x d matrix is collected (bounded by contract: d^2 values,
    never n), and the eigendecomposition runs driver-side in numpy —
    the standard split for d in the hundreds. Sign convention: each
    component's largest-|coefficient| entry is made positive, so the
    basis is deterministic across runs/platforms."""
    comps, mu, _, _ = _collect_pca(df, vec_col, shift)
    return comps, mu


def _collect_pca(
    df: DataFrame, vec_col: str, shift: list[float] | None = None
) -> tuple[list[list[float]], list[float], list[float], float]:
    """Shared driver-side PCA assembly: ONE distributed moments pass,
    d x d collect (bounded by contract), eigh. Returns (components,
    mean, eigenvalues, offdiag_mass) with components/eigenvalues
    descending and the deterministic sign convention applied;
    offdiag_mass = sum|off-diagonal| / sum|diagonal| of the covariance
    (the correlated-dimensions audit number)."""
    import numpy as np

    rows = _covariance_moments(df, vec_col, shift=shift).collect()
    if not rows:
        raise ValueError(
            "cannot fit a PCA basis on an empty embedding store "
            f"(no rows / no {vec_col!r} values)"
        )
    d = max(r["j"] for r in rows) + 1
    cov = np.zeros((d, d))
    mu = np.zeros(d)
    for r in rows:
        # dict-style access: Row.__getattr__ rejects __-prefixed names
        n, si, sj, sij = r["__n"], r["__si"], r["__sj"], r["__sij"]
        c = (sij - si * sj / n) / n
        cov[r["i"], r["j"]] = c
        cov[r["j"], r["i"]] = c
        if r["i"] == r["j"]:
            # moments are of the shifted data; undo the shift on the mean
            mu[r["i"]] = si / n + (shift[r["i"]] if shift is not None else 0.0)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    comps = vecs[:, order].T
    for k in range(comps.shape[0]):
        pivot = np.argmax(np.abs(comps[k]))
        if comps[k, pivot] < 0:
            comps[k] = -comps[k]
    diag = np.abs(np.diag(cov)).sum()
    off = np.abs(cov).sum() - diag
    offdiag_mass = float(off / max(diag, 1e-300))
    return comps.tolist(), mu.tolist(), vals[order].tolist(), offdiag_mass


def opq_rotation_decision(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    spread_threshold: float = 20.0,
    offdiag_threshold: float = 3.0,
) -> dict:
    """The MEASURED gate for rotating an embedding store before a PQ
    (re-)index — tools/probe_pca_pq.py, BENCH_PCA_PQ.json:

    - near-isotropic corpora (eigenvalue spread ~2-4x, off-diag/diag
      mass ~1-2): rotation is a wash (r11 null result, re-confirmed);
    - anisotropic corpora (spread 100-1000x, the clip/text-encoder
      regime): PLAIN PCA rotation makes PQ distortion WORSE (0.89-
      0.93x — it concentrates all variance into the first subspaces),
      while the eigenvalue-BALANCED order (``balanced_subspace_order``)
      improves it 1.61-2.12x.

    So the wired default is: rotate with the balanced order when
    ``eig_spread > spread_threshold`` OR ``offdiag_mass >
    offdiag_threshold`` (thresholds sit between the measured wash
    regime [2.3 / 1.27] and the measured win regime [100 / 7.2]);
    never rotate with the plain descending order. Returns a dict with
    the audit numbers, the decision, and — when rotate is True —
    ``components`` already balanced-permuted plus ``mean``, ready for
    ``apply_rotation`` at index build (queries must ride the same
    rotation; this is a re-index decision, not a per-query one).

    Cost: one covariance moments pass (shuffle O(tasks x d^2)) and a
    d x d driver collect — the same bounded contract as
    ``pca_rotation``."""
    comps, mu, evals, offdiag = _collect_pca(df, vec_col)
    top = max(evals[0], 1e-300)
    bot = max(evals[-1], 1e-300)
    spread = top / bot
    rotate = spread > spread_threshold or offdiag > offdiag_threshold
    out = {
        "rotate": rotate,
        "eig_spread": spread,
        "offdiag_mass": offdiag,
        "spread_threshold": spread_threshold,
        "offdiag_threshold": offdiag_threshold,
    }
    if rotate:
        order = balanced_subspace_order(evals, m)
        out["components"] = [comps[p] for p in order]
        out["mean"] = mu
    return out


def balanced_subspace_order(
    eigenvalues: list[float], m: int
) -> list[int]:
    """OPQ's parametric eigenvalue allocation (Ge et al. 2013 §4):
    permute the PCA axes so each of the ``m`` PQ subspaces gets a
    near-equal variance PRODUCT — descending eigenvalues are dealt
    greedily to the (non-full) subspace with the smallest running
    log-product, so one subspace doesn't hoard all the signal while
    another quantizes noise. Returns the axis permutation, subspace-
    major: feed ``components[p] for p in order`` to ``apply_rotation``
    and the PQ splitter's fixed ``d/m`` slices land on the balanced
    groups. Driver-side on the d eigenvalues — no distributed work."""
    import math

    d = len(eigenvalues)
    if d % m:
        raise ValueError(f"d={d} not divisible by m={m}")
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    # Deal level-by-level: only buckets at the CURRENT minimum fill
    # count are candidates. Comparing log-sums across unequal counts is
    # scale-sensitive (all-lambda<1 spectra would funnel every axis
    # into one bucket — its log-sum only shrinks); within a level the
    # comparison is scale-invariant and yields the snake deal. Guard
    # the log against zero/negative numerical dust.
    for axis in sorted(range(d), key=lambda i: -eigenvalues[i]):
        level = min(len(b) for b in buckets)
        open_b = [b for b in range(m) if len(buckets[b]) == level]
        b = min(open_b, key=lambda x: logs[x])
        buckets[b].append(axis)
        logs[b] += math.log(max(float(eigenvalues[axis]), 1e-300))
    return [a for bucket in buckets for a in bucket]


def apply_rotation(
    df: DataFrame,
    components: list[list[float]],
    mean: list[float],
    vec_col: str = "embedding",
    out_col: str = "rotated",
    n_components: int | None = None,
) -> DataFrame:
    """Map-only projection onto a PCA basis: center on ``mean``, dot
    with the first ``n_components`` axes (default all) — pure JVM HOFs
    (zip_with + aggregate), no Python, no shuffle; the basis rides as
    a literal (d x d doubles — kilobytes). Feeding PQ/IVF with the
    rotated (decorrelated) vectors is the OPQ-lite preprocessing that
    makes the product quantizer's per-subspace independence assumption
    hold better."""
    k = len(components) if n_components is None else int(n_components)
    # list-valued F.lit: ONE array literal per vector (O(d) plan nodes)
    # instead of d separate lit() py4j round-trips — at d in the
    # hundreds the per-element form costs minutes of plan construction
    mean_lit = F.lit([float(m) for m in mean])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_lit, lambda x, m: x - m
    )
    comp_lits = [
        F.lit([float(c) for c in comp]) for comp in components[:k]
    ]
    dot = lambda v, c: F.aggregate(  # noqa: E731
        F.zip_with(v, c, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return df.withColumn("__c", centered).withColumn(
        out_col, F.array(*[dot(F.col("__c"), c) for c in comp_lits])
    ).drop("__c")


# --- embedding compression ----------------------------------------------------


def quantize_int8_error(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit: scale =
    max|x|/127, q = round-half-up(x/scale), and the worst-case
    reconstruction error ``max|q*scale - x|`` per vector — the report
    run before committing an embedding store to int8 (4x smaller, and
    the error bound to check is scale/2).

    Map-only: one projection per vector, no shuffle, no Python — all
    array math is JVM higher-order functions. Intermediates (__v,
    __s) are materialized in their own projections because HOF lambdas
    re-evaluate referenced expressions per element. Round-half-up via
    ``floor(x/s + 0.5)`` is used instead of ``round()`` because engines
    disagree on banker's rounding; floor is IEEE-deterministic.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    with_v = df.select(F.col(id_col), v.alias("__v"))
    with_s = with_v.select(
        id_col,
        "__v",
        (F.array_max(F.transform(F.col("__v"), F.abs)) / F.lit(127.0)).alias("__s"),
    )
    s = F.col("__s")
    err = F.zip_with(
        F.col("__v"),
        F.transform(F.col("__v"), lambda x: F.floor(x / s + F.lit(0.5))),
        lambda x, q: F.abs(q * s - x),
    )
    return with_s.select(
        id_col,
        F.round(s, round_digits).alias("scale"),
        F.when(s == 0, F.lit(0.0))
        .otherwise(F.round(F.array_max(err), round_digits))
        .alias("max_abs_err"),
    )


def sign_dots(vec: Column, dim: int, n_bits: int, salt: str) -> Column:
    """Array of the vector's rounded dots with the ``n_bits`` md5-derived
    Rademacher hyperplanes — materialize this in its OWN projection
    before reading it per-bit (HOF lambdas re-evaluate referenced
    expressions per element)."""
    planes = _rademacher_hyperplanes(n_bits, dim, salt)
    planes_lit = F.array(*[F.array(*[F.lit(s) for s in hv]) for hv in planes])
    return F.transform(planes_lit, lambda hv: F.round(_dot(vec, hv), 6))


def bucket_from_dots(dots: Column, n_bits: int) -> Column:
    """Sign-LSH bucket id from a staged dots array: bit j set iff
    dot j is positive. Shared by batch ``semantic_dedup`` and the
    streaming twin so stream buckets equal batch buckets exactly."""
    bucket = F.lit(0).cast("long")
    for j in range(n_bits):
        d = F.element_at(dots, j + 1)
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    tau: float = 0.9,
    salt: str = "semdedup",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    embedding space into deterministic buckets (one sign-LSH table of
    ``n_bits`` md5-derived Rademacher hyperplanes — the training-free
    stand-in for the paper's k-means clusters), then inside each bucket
    drop every vector that has a LOWER-ID bucket-mate at cosine > tau.
    The keep-lowest-id rule is the deterministic version of the paper's
    "keep one per semantic duplicate group" and needs no iteration: one
    self-join per bucket, one anti-join. Output: (id, bucket, kept).

    Scale shape: bucket assignment is map-only expression code (no fit
    step) computed in the SAME projection as the vector and its norm —
    no assignment-to-vector join; the pairwise cosine runs only WITHIN
    buckets via an equi-join on bucket (n_bits is the knob that bounds
    bucket size as the corpus grows — 2^n_bits partitions the space,
    and real corpora at 100 TB run 14+ bits). No driver collect, no
    Python.

    Exact-duplicate collapse (the adversarial-bucket guard): a corpus
    with many IDENTICAL vectors would otherwise form an n²/2 clique
    inside one bucket — the worst case of any within-bucket pairwise
    scheme. For tau < 1 the pairwise join therefore runs on DISTINCT
    vectors only (one representative per identical group, min id):
    identical copies always co-bucket with cosine 1 > tau, so every
    non-representative nonzero copy is dropped by construction, and a
    representative's verdict transfers to its whole group — the output
    is IDENTICAL to the naive pairwise, but the clique collapses to
    one row. Zero-norm vectors are exempt (their cosine is null, which
    never exceeds tau, so all copies stay kept — same as the naive
    rule). The degenerate tau >= 1 case (nothing can drop; identical
    copies must survive) falls back to the direct pairwise.
    """
    staged = df.select(
        F.col(id_col).alias("__id"), _as_double(vec_col).alias("__v")
    ).withColumn("__dots", sign_dots(F.col("__v"), dim, n_bits, salt))
    bucket = bucket_from_dots(F.col("__dots"), n_bits)
    # barriers (r12): ``av`` feeds the reps aggregation AND the member
    # join-back; ``reps`` feeds three legs (lo, hi, membership join).
    # Without them the corpus scan + sign-dot pass re-ran per leg
    # (7 runtime scans for one semantic_dedup query).
    av = staged.select(
        "__id", bucket.alias("bucket"), "__v", norm(F.col("__v")).alias("__n")
    ).transform(lazy_checkpoint)
    if tau < 1.0:
        reps = (
            av.groupBy("bucket", "__v", "__n")
            .agg(F.min("__id").alias("rep_id"))
            .transform(lazy_checkpoint)
        )
        lo = reps.select(
            F.col("rep_id").alias("lo_id"),
            "bucket",
            F.col("__v").alias("lo_v"),
            F.col("__n").alias("lo_n"),
        )
        hi = reps.select(
            F.col("rep_id").alias("hi_id"),
            "bucket",
            F.col("__v").alias("hi_v"),
            F.col("__n").alias("hi_n"),
        )
        dropped_reps = (
            lo.join(hi, "bucket")
            .filter(F.col("lo_id") < F.col("hi_id"))
            .filter(
                F.round(
                    cosine_with_norms(
                        F.col("lo_v"), F.col("hi_v"), F.col("lo_n"), F.col("hi_n")
                    ),
                    round_digits,
                )
                > tau
            )
            .select(F.col("hi_id").alias("rep_id"))
            .distinct()
            .withColumn("__rep_dropped", F.lit(1))
        )
        membered = av.join(reps, ["bucket", "__v", "__n"]).join(
            dropped_reps, "rep_id", "left"
        )
        return membered.select(
            F.col("__id").alias(id_col),
            "bucket",
            F.when(
                ((F.col("__id") != F.col("rep_id")) & (F.col("__n") > 0))
                | F.col("__rep_dropped").isNotNull(),
                F.lit(0),
            )
            .otherwise(F.lit(1))
            .cast("long")
            .alias("kept"),
        )
    assign = av.select("__id", "bucket")
    lo = av.select(
        F.col("__id").alias("lo_id"),
        "bucket",
        F.col("__v").alias("lo_v"),
        F.col("__n").alias("lo_n"),
    )
    hi = av.select(
        F.col("__id").alias("hi_id"),
        "bucket",
        F.col("__v").alias("hi_v"),
        F.col("__n").alias("hi_n"),
    )
    dropped = (
        lo.join(hi, "bucket")
        .filter(F.col("lo_id") < F.col("hi_id"))
        .filter(
            F.round(
                cosine_with_norms(
                    F.col("lo_v"), F.col("hi_v"), F.col("lo_n"), F.col("hi_n")
                ),
                round_digits,
            )
            > tau
        )
        .select(F.col("hi_id").alias("__id"))
        .distinct()
    )
    return (
        assign.join(dropped.withColumn("__dropped", F.lit(1)), "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "bucket",
            F.when(F.col("__dropped").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("kept"),
        )
    )


def ann_recall(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    method: str,
    k: int,
    round_digits: int = 6,
) -> DataFrame:
    """Recall@k report for an approximate top-k against the exact
    baseline — the measurement to run BEFORE trusting IVF/LSH parameters
    on 100 TB: both inputs are (query_id, neighbor_id, ...) top-k
    relations; output is one row per query with the hit count and
    recall, labeled by ``method``.

    Shape: one equi-join on (query_id, neighbor_id) over two k·|queries|
    relations (tiny by construction — these are result sets, not
    corpora), one grouped count. Compose over several methods with
    unionByName to get the tuning comparison table.

    The denominator is ``least(k, n_exact)`` per query, not a fixed k:
    a query whose exact top-k has fewer than k neighbors (small corpus,
    degenerate vectors) can still reach recall 1.0 when the approximate
    result is perfect.
    """
    hits = (
        exact_topk.select("query_id", "neighbor_id")
        .join(
            approx_topk.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    base = exact_topk.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__n_exact")
    )
    denom = F.least(F.col("__n_exact"), F.lit(k)).cast("double")
    return (
        base.join(hits, "query_id", "left")
        .select(
            F.lit(method).alias("method"),
            "query_id",
            F.coalesce(F.col("__hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / denom,
                round_digits,
            ).alias("recall"),
        )
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lo: float = 0.2,
    hi: float = 0.45,
    round_digits: int = 6,
) -> DataFrame:
    """Semi-hard negative mining for contrastive training: per query
    vector, the ``k`` MOST similar candidates whose cosine falls in
    [lo, hi) — close enough to be informative gradients, below the
    positive band so they are true negatives (the [lo, hi) band is the
    'semi-hard' region of triplet-loss practice; ``hi`` should sit at
    the positive/near-dup threshold, ``lo`` above the noise floor).

    Same scale shape as ``cosine_topk``: one corpus scan, queries
    broadcast, per-query rank window — the band filter prunes before
    the window, so the ranked relation is the band only.

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1..<=k.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("q_vec"),
    ).withColumn("q_norm", norm(F.col("q_vec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("c_vec"),
    ).withColumn("c_norm", norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms(
                    F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
                ),
                round_digits,
            ).alias("cos_sim"),
        )
        .filter((F.col("cos_sim") >= lo) & (F.col("cos_sim") < hi))
    )
    w = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
    )
    return scored.withColumn("rank", w.cast("long")).filter(F.col("rank") <= k)


def ivf_distortion_trend(
    corpus: DataFrame,
    centroids_versioned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version_col: str = "version",
) -> DataFrame:
    """Index distortion per CENTROID VERSION — the longitudinal twin of
    ``ivf_refit_decision``: the gate says "the index is unbalanced
    NOW"; this trend says "when did it start rotting". For every
    version in ``centroids_versioned`` (the ``ivf_maintenance``
    centroids store shape: version, centroid_id, vec), every corpus
    vector scores against its best centroid UNDER THAT VERSION, and the
    per-version total cosine gap (1 - best cosine, exact integer
    micro-units — the ``pq_distortion`` discipline: sums, never means)
    is the kmeans-objective health of that index generation on the
    CURRENT corpus. A drifted corpus shows old versions' totals rising
    and the post-refit version's total dropping (pinned in
    tests/test_ivf_maintenance_stream.py).

    Output: (version, n_vecs, total_gap_micro). Plan: one corpus scan
    × broadcast (versions × centroids) dim, grouped max per
    (version, vector) — map-side combinable, unlike a per-id window —
    then a versions-sized rollup. Zero-norm vectors coalesce to
    cosine -1.0 (the worst real score), mirrored in the oracle.
    """
    c = centroids_versioned.select(
        F.col(version_col).cast("long").alias("version"),
        _as_double(vec_col).alias("cent_vec"),
    ).withColumn("cent_norm", norm(F.col("cent_vec")))
    scored = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("vec"))
        .withColumn("vec_norm", norm(F.col("vec")))
        .crossJoin(F.broadcast(c))
        .select(
            "version",
            id_col,
            F.coalesce(
                F.round(
                    cosine_with_norms(
                        F.col("vec"),
                        F.col("cent_vec"),
                        F.col("vec_norm"),
                        F.col("cent_norm"),
                    ),
                    6,
                ),
                F.lit(-1.0),
            ).alias("sim"),
        )
    )
    per_vec = scored.groupBy("version", id_col).agg(
        F.max("sim").alias("best_sim")
    )
    return per_vec.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            F.round((F.lit(1.0) - F.col("best_sim")) * 1_000_000).cast("long")
        ).alias("total_gap_micro"),
    )
