"""Curation-family queries (split from llm.py): sampling (stratified
/ temperature / weighted / per-language), corpus mixing, sequence
packing, shard manifests, the distilled quality classifier, delta
curation, and the end-to-end curation funnel over the real Curator
stages. See llm_common for shared constants; the QUERIES/ORACLE
registry lives in llm.py."""

from __future__ import annotations

from pyspark.sql.window import Window as W

from sarkac_spark.queries.llm_common import *  # noqa: F401,F403
from sarkac_spark.plans.audit import lazy_checkpoint

__all__ = [
    "q_pack_sequences",
    "q_temperature_sample",
    "q_stratified_sample",
    "q_per_lang_sample",
    "q_domain_cap",
    "q_gopher_rules",
    "q_weighted_sample",
    "_weighted_sample_sql",
    "q_corpus_mix",
    "q_snapshot_diff",
    "q_curation_pipeline",
    "q_shard_manifest",
    "q_mixture_plan",
    "q_quality_classifier",
    "_snapshot_pair",
    "q_delta_curation",
    "q_classifier_confusion",
    "q_mixture_realize",
    "q_classifier_calibration",
    "CURATION_FUNNEL_CONFIG",
    "q_curation_funnel",
    "_gopher_pass_cte",
    "_curation_funnel_sql",
    "_stratified_sample_sql",
    "_per_lang_sample_sql",
    "_corpus_mix_sql",
    "_QUALITY_FEATS_SQL",
    "_curation_pipeline_sql",
    "_gopher_rules_sql",
    "_quality_micro_cte",
    "_logit_nano_expr",
    "_quality_classifier_sql",
    "_delta_curation_sql",
    "_classifier_confusion_sql",
    "_mixture_realize_sql",
    "_classifier_calibration_sql",
]

def q_pack_sequences(spark, sf_dir):
    """Deterministic sequence packing: documents dealt into hash groups
    and cut into ~200-token training sequences (stable across re-runs)."""
    from sarkac_spark.operators.sampling import pack_sequences
    from sarkac_spark.operators.text import token_count

    d = _docs(spark, sf_dir)
    return pack_sequences(
        d,
        "doc_id",
        token_count("text"),
        budget=PACK_BUDGET,
        n_groups=PACK_GROUPS,
    ).select("doc_id", "pack_group", "seq_id", "seq_pos")


def q_temperature_sample(spark, sf_dir):
    """Temperature-balanced corpus sample (p_l ∝ count_l^0.5): head
    languages thinned toward the tempered mixture, deterministic
    hash-Bernoulli, rate table broadcast."""
    from sarkac_spark.operators.sampling import temperature_sample

    return temperature_sample(
        _docs(spark, sf_dir), "doc_id", "lang", alpha=TEMP_ALPHA
    ).select("doc_id", "lang")


def q_stratified_sample(spark, sf_dir):
    """Deterministic curation sampling: per-language Bernoulli rates
    (hash-of-id, not rand() — reproducible across runs/retries/engines)
    plus a disjoint train/eval split label."""
    from sarkac_spark.operators.sampling import stratified_sample, train_eval_split

    d = _docs(spark, sf_dir)
    sampled = stratified_sample(
        d, "doc_id", "lang", SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
    )
    return train_eval_split(sampled, "doc_id", eval_rate=EVAL_RATE).select(
        "doc_id", "lang", "split"
    )


def q_per_lang_sample(spark, sf_dir):
    """Fixed per-group budget: exactly min(30, |lang|) docs per language
    by deterministic hash rank — reservoir sampling without rand()."""
    from sarkac_spark.operators.sampling import sample_per_group

    return sample_per_group(
        _docs(spark, sf_dir), "doc_id", "lang", PER_LANG_BUDGET
    ).select("doc_id", "lang")


def q_domain_cap(spark, sf_dir):
    """Per-source quota, quality-ordered: keep the 10 longest docs per
    source (ties to smallest id) — the per-domain cap that stops one
    site dominating the corpus while keeping its best pages."""
    from sarkac_spark.operators.sampling import domain_cap

    return domain_cap(
        _docs(spark, sf_dir), "source", DOMAIN_CAP, "n_chars", "doc_id"
    ).select("doc_id", "source", "n_chars", "domain_rank")


def q_gopher_rules(spark, sf_dir):
    """Gopher-rules quality gate: word-count / mean-word-length /
    symbol-ratio / stopword-presence flags per document."""
    from sarkac_spark.operators.text import gopher_rules

    return gopher_rules(_docs(spark, sf_dir)).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "stop_hits",
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_stopwords",
        "passes",
    )


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement: 15
    docs per source with inclusion probability proportional to length —
    the 'favor high-quality docs' draw, deterministic via the hash
    variate (no rand())."""
    from sarkac_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir), "doc_id", "n_chars", WSAMPLE_N, stratum_col="source"
    ).select("doc_id", "source", "n_chars", "sample_rank")


def _weighted_sample_sql() -> str:
    return f"""
SELECT doc_id, source, n_chars, sample_rank FROM (
  SELECT doc_id, source, n_chars, row_number() OVER (
    PARTITION BY source
    ORDER BY ln(({_sample_hash_sql("wsample")} + 1) / 1000001.0) / n_chars DESC,
             doc_id
  ) AS sample_rank
  FROM documents WHERE n_chars > 0
) WHERE sample_rank <= {WSAMPLE_N}
"""


def q_corpus_mix(spark, sf_dir):
    """Weighted epoch composition: deterministic replication/trim per
    source (floor(w) copies + hash-Bernoulli fractional copy)."""
    from sarkac_spark.operators.sampling import weighted_mix

    d = _docs(spark, sf_dir)
    return weighted_mix(d, "doc_id", "source", MIX_WEIGHTS).select(
        "doc_id", "source", "copy"
    )


def q_snapshot_diff(spark, sf_dir):
    """Corpus-version diff: added/removed/changed/unchanged status per
    doc between two snapshot views of the corpus — the delta relation
    an incremental re-curation consumes. One full-outer join on id over
    md5 fingerprints."""
    from sarkac_spark.operators.profiling import snapshot_diff

    old, new = _snapshot_pair(_docs(spark, sf_dir))
    return snapshot_diff(old, new, "doc_id", "text")


def q_curation_pipeline(spark, sf_dir):
    """The composed corpus-curation pass: exact-dedup to canonical docs
    -> quality gate -> per-language corpus budget (docs + BPE-ish
    tokens). One semi-join + one aggregation over the quality features;
    the dedup side reduces to (hash -> min id), always the cheapest
    full-corpus dedup."""
    d = _docs(spark, sf_dir)
    # keep min(id) per digest as ONE window instead of the former
    # dedup_exact agg + semi-join-back (r13, guide §2.4): the semi
    # re-shuffled the full-width corpus by id after the digest agg had
    # already shuffled it by hash — same survivors, one exchange fewer
    w = W.partitionBy(F.md5(F.col("text"))).orderBy(F.col("doc_id"))
    kept = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    good = quality_score(kept, "text").filter(
        F.col("quality_score") >= QUALITY_CUTOFF
    )
    return good.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_ish_token_count("text")).alias("total_bpe_tokens"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


def q_shard_manifest(spark, sf_dir):
    """Training-shard manifest: deal documents into N_SHARDS
    deterministic hash shards and audit per-shard doc/token/char load
    vs the ideal — the output-sharding balance check a dataloader
    depends on. Map-only deal + one uniform-key groupBy."""
    from sarkac_spark.operators.sampling import shard_manifest
    from sarkac_spark.operators.text import token_count

    return shard_manifest(
        _docs(spark, sf_dir),
        "doc_id",
        N_SHARDS,
        weights={
            "n_tokens": token_count("text"),
            "n_chars": F.col("n_chars"),
        },
    )


def q_mixture_plan(spark, sf_dir):
    """Domain-reweighting plan: per-language token loads vs the
    MIX_TARGETS spec — natural share, target weight, and the epochs
    factor (>1 = target infeasible without repetition). One grouped
    sum + broadcast dims."""
    from sarkac_spark.operators.sampling import mixture_plan
    from sarkac_spark.operators.text import token_count

    return mixture_plan(
        _docs(spark, sf_dir), "lang", MIX_TARGETS, weight_col=token_count("text")
    )


def q_quality_classifier(spark, sf_dir):
    """Distilled-classifier quality gate (the fastText-filter shape of
    CCNet/LLaMA pipelines): logistic scoring over the quality features
    with the shipped literal weights. The logit is exact integer
    nano-units (BIGINT) — no float summation anywhere — so the oracle
    matches bit-for-bit; map-only, no shuffle."""
    from sarkac_spark.operators.classify import logistic_quality_score

    return logistic_quality_score(_docs(spark, sf_dir))


def _snapshot_pair(d):
    """Two deterministic snapshot views of the corpus (drop-in fixture
    for snapshot-delta queries): 10% of ids absent from each side, 20%
    edited on the old side — all hash-derived, engine-stable."""
    from sarkac_spark.operators.sampling import sample_hash

    edited = F.when(
        sample_hash("doc_id", "snap_edit") < SNAP_EDIT_CUTOFF,
        F.reverse(F.col("text")),
    ).otherwise(F.col("text"))
    old = d.filter(sample_hash("doc_id", "snap_add") >= SNAP_ADD_CUTOFF).select(
        "doc_id", edited.alias("text")
    )
    new = d.filter(sample_hash("doc_id", "snap_del") >= SNAP_DEL_CUTOFF).select(
        "doc_id", "text"
    )
    return old, new


def q_delta_curation(spark, sf_dir):
    """Incremental re-curation: the snapshot delta drives the work list
    — only added/changed docs are (re)scored by the quality classifier;
    unchanged docs keep their prior verdict, removed docs drop. The
    100 TB point: per-drop curation cost is O(delta), not O(corpus).
    Output: per-status churn/work/keep counts (4 rows)."""
    from sarkac_spark.operators.classify import logistic_quality_score
    from sarkac_spark.operators.profiling import snapshot_diff

    old, new = _snapshot_pair(_docs(spark, sf_dir))
    # barrier: ``diff`` feeds the work list AND the final roll-up join
    # — without it the snapshot full-outer diff re-ran per leg (r12)
    diff = snapshot_diff(old, new, "doc_id", "text").transform(lazy_checkpoint)
    work_ids = diff.filter(F.col("status").isin("added", "changed")).select("doc_id")
    scored = logistic_quality_score(
        new.join(work_ids, "doc_id", "left_semi"), "doc_id", "text"
    )
    return (
        diff.join(scored, "doc_id", "left")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("logit_nano").alias("n_scored"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)), F.lit(0)
            )
            .cast("long")
            .alias("n_kept"),
        )
    )


def q_classifier_confusion(spark, sf_dir):
    """Filter-launch audit: the agreement matrix between the distilled
    classifier gate and its gopher weak-label teacher — the
    precision/recall evidence reviewed before flipping a corpus-wide
    filter on. ONE scan, zero joins: both gates are map-only column
    expressions stacked on the same pass."""
    from sarkac_spark.operators.classify import quality_gate
    from sarkac_spark.operators.text import gopher_rules

    g = gopher_rules(quality_gate(_docs(spark, sf_dir)), "text").select(
        F.col("keep"), F.col("passes").alias("gopher_pass")
    )
    return g.groupBy("keep", "gopher_pass").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def q_mixture_realize(spark, sf_dir):
    """Execute the MIX_TARGETS plan: floor(epochs) copies per doc plus a
    deterministic fractional Bernoulli copy — the repetition schedule a
    dataloader actually consumes; expected per-language token load hits
    the target mixture exactly."""
    from sarkac_spark.operators.sampling import apply_mixture
    from sarkac_spark.operators.text import token_count

    return apply_mixture(
        _docs(spark, sf_dir),
        "doc_id",
        "lang",
        MIX_TARGETS,
        weight_col=token_count("text"),
    ).select("doc_id", "lang", "epoch_copy")


def q_classifier_calibration(spark, sf_dir):
    """Threshold calibration for the quality gate: per target keep rate
    (25/50/75%), the exact logit percentile realizing it and the keep
    count that threshold yields — read before setting threshold_nano on
    a shifted corpus. One scoring scan + one percentile agg + a 3-row
    broadcast back for the realized counts."""
    from sarkac_spark.operators.classify import calibration_table

    return calibration_table(_docs(spark, sf_dir))


CURATION_FUNNEL_CONFIG = {
    "quality": {"gopher": True, "classifier": True},
    "dedup": {"exact": True, "minhash": {
        "k": MINHASH_K, "bands": MINHASH_BANDS,
        "threshold": JACCARD_THRESHOLD,
    }},
    "domain_cap": {"domain_col": "source", "cap": 10,
                   "quality_col": "n_chars"},
}


def q_curation_funnel(spark, sf_dir):
    """Curator.report() as an oracle-checked query: the per-stage
    survivor funnel of a full curation pass (gopher+classifier quality
    gate → exact+MinHash dedup → per-source quota), one row per stage
    boundary. This is the audit a pipeline operator reads before
    committing a 100 TB pass — and because it drives the REAL Curator
    stages (the same closures `apply()` composes), the oracle gate
    covers the facade's stage wiring, not a parallel reimplementation."""
    from functools import reduce

    from sarkac_spark.curator import Curator

    cur = Curator(spark, CURATION_FUNNEL_CONFIG)
    d = _docs(spark, sf_dir)
    frames = [
        d.agg(
            F.lit("0_input").alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    ]
    for i, (name, fn) in enumerate(cur.stages(), start=1):
        # LAZY localCheckpoint at each stage boundary: the funnel reads
        # every stage twice (its count row + the next stage's input), and
        # without a materialization barrier Spark re-derives the whole
        # prefix per branch — 4x the corpus scans for a 4-stage funnel
        # (41 shuffles / 30 scans in the naive plan; ~1x pipeline after).
        # Lazy (not eager) keeps query BUILD free; the driver's single
        # action evaluates each stage once through the checkpoint chain.
        # Known-benign noise: later rebuilds in the same session log
        # "ERROR DAGScheduler: Failed to update accumulator" from the
        # checkpointed stages — results unaffected (oracle green).
        # Measured r13 interleaved against the barrier-free plan: sf0.1
        # 3.23 vs 4.37 s, x10 10.0 vs 17.6 s, x100 61.9 vs 155.4 s.
        d = fn(d).transform(lazy_checkpoint)
        frames.append(
            d.agg(
                F.lit(f"{i}_{name}").alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_docs"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), frames)


def _gopher_pass_cte(src: str) -> str:
    """CTE ending in gop(doc_id) — ids passing all four Gopher rules
    over ``src``; the same expressions as _gopher_rules_sql."""
    from sarkac_spark.operators.text import _GOPHER_STOPWORDS

    stoplist = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)
    return f"""gstaged AS (
  SELECT doc_id, {_WORDS} AS w, length(text) AS nc,
         length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS nclean
  FROM {src}
),
gop AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CASE WHEN len(w) > 0
                THEN round(CAST(list_sum(list_transform(w, x -> length(x)))
                                AS BIGINT) / len(w), 6)
                ELSE 0.0 END AS mean_word_len,
           CASE WHEN nc > 0 THEN round((nc - nclean) / nc, 6)
                ELSE 0.0 END AS symbol_ratio,
           CAST(len(list_filter(w, x -> list_contains([{stoplist}], lower(x))))
                AS BIGINT) AS stop_hits
    FROM gstaged)
  WHERE n_words BETWEEN 10 AND 1000 AND mean_word_len BETWEEN 2.0 AND 12.0
    AND symbol_ratio <= 0.1 AND stop_hits >= 2
)"""


def _curation_funnel_sql() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    mh_aggs = ",\n    ".join(
        f"min(({_LCG_A[i] % MINHASH_P} * h + {_LCG_B[i] % MINHASH_P}) % {MINHASH_P})"
        f" AS mh_{i}"
        for i in range(MINHASH_K)
    )
    band_exprs = ",\n      ".join(
        "'{b}|' || {cols}".format(
            b=b,
            cols=" || '|' || ".join(
                f"mh_{b * rows + r}::varchar" for r in range(rows)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    cap = CURATION_FUNNEL_CONFIG["domain_cap"]["cap"]
    return f"""
WITH {_gopher_pass_cte("documents")},
q1 AS (SELECT d.* FROM documents d WHERE doc_id IN (SELECT doc_id FROM gop)),
{_quality_micro_cte("q1").strip()},
kept AS (SELECT doc_id FROM micro WHERE {_logit_nano_expr()} >= 0),
q2 AS (SELECT * FROM q1 WHERE doc_id IN (SELECT doc_id FROM kept)),
canon AS (SELECT min(doc_id) AS doc_id FROM q2 GROUP BY md5(text)),
q3 AS (SELECT * FROM q2 WHERE doc_id IN (SELECT doc_id FROM canon)),
ws AS (SELECT doc_id, {_WORDS} AS w FROM q3),
sh AS (
  SELECT DISTINCT doc_id, u.s AS shingle
  FROM ws, UNNEST(
    CASE WHEN len(w) >= 3 THEN
      list_transform(range(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
    ELSE [] END
  ) AS u(s)
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::bigint % {MINHASH_P} AS h
  FROM sh
),
sigs AS (
  SELECT doc_id, {mh_aggs}
  FROM hashed GROUP BY doc_id
),
{_capped_bands_cte(band_exprs)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
drops AS (
  SELECT DISTINCT i.id_b FROM (
    SELECT c.id_a, c.id_b, count(*) AS n_common
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
  ) i
  JOIN sizes na ON na.doc_id = i.id_a
  JOIN sizes nb ON nb.doc_id = i.id_b
  WHERE round(n_common / (na.n_sh + nb.n_sh - n_common), 6)
        >= {JACCARD_THRESHOLD}
),
q4 AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id_b FROM drops)),
ranked AS (
  SELECT doc_id, row_number() OVER (
    PARTITION BY source ORDER BY n_chars DESC, doc_id
  ) AS rn FROM q4
),
q5 AS (SELECT * FROM q4 WHERE doc_id IN
       (SELECT doc_id FROM ranked WHERE rn <= {cap}))
SELECT '0_input' AS stage, (SELECT count(*) FROM documents) AS n_docs
UNION ALL
SELECT '1_quality', (SELECT count(*) FROM q2)
UNION ALL
SELECT '2_dedup', (SELECT count(*) FROM q4)
UNION ALL
SELECT '3_domain_cap', (SELECT count(*) FROM q5)
"""


def _stratified_sample_sql() -> str:
    rate_rows = ", ".join(
        f"('{k}', {int(round(v * 1_000_000))})" for k, v in SAMPLE_RATES.items()
    )
    return f"""
WITH rates(lang, cutoff) AS (VALUES {rate_rows})
SELECT d.doc_id, d.lang,
       CASE WHEN {_sample_hash_sql("split")} < {int(round(EVAL_RATE * 1_000_000))}
            THEN 'eval' ELSE 'train' END AS split
FROM documents d LEFT JOIN rates r USING (lang)
WHERE {_sample_hash_sql("strata")}
      < coalesce(r.cutoff, {int(round(SAMPLE_DEFAULT_RATE * 1_000_000))})
"""


def _per_lang_sample_sql() -> str:
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY lang ORDER BY {_sample_hash_sql("pergroup")}, doc_id
  ) AS rnk
  FROM documents
) WHERE rnk <= {PER_LANG_BUDGET}
"""


def _corpus_mix_sql() -> str:
    w_rows = ", ".join(
        f"('{k}', {int(v)}, {int(round((v - int(v)) * 1_000_000))})"
        for k, v in MIX_WEIGHTS.items()
    )
    return f"""
WITH w(source, whole, frac_cutoff) AS (VALUES {w_rows}),
n AS (
  SELECT d.doc_id, d.source,
         coalesce(w.whole, 1)
         + CASE WHEN {_sample_hash_sql("mix")} < coalesce(w.frac_cutoff, 0)
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d LEFT JOIN w USING (source)
)
SELECT doc_id, source, CAST(u.c AS INT) AS copy
FROM n, UNNEST(range(1, n_copies + 1)) AS u(c)
WHERE n_copies > 0
"""


_QUALITY_FEATS_SQL = """
feats AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         round(len(list_distinct(string_split_regex(trim(text), '\\s+')))
               / len(string_split_regex(trim(text), '\\s+')), 6) AS unique_ratio,
         round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / length(text), 6) AS punct_ratio,
         round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               / length(text), 6) AS digit_ratio
  FROM documents
)
"""


def _curation_pipeline_sql() -> str:
    return f"""
WITH canon AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
{_QUALITY_FEATS_SQL.strip().rstrip()},
scored AS (
  SELECT f.doc_id, f.lang, f.text,
         (35 * CAST(round(unique_ratio * 1000000) AS BIGINT)
        + 35 * least(n_words * 10000, 1000000)
        + 15 * (1000000 - CAST(round(punct_ratio * 1000000) AS BIGINT))
        + 15 * (1000000 - CAST(round(digit_ratio * 1000000) AS BIGINT))
         ) / 100000000.0 AS quality_score
  FROM feats f JOIN canon c ON f.doc_id = c.doc_id
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CAST(list_sum(list_transform(
           list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                       p -> p != ''),
           p -> CAST(ceil(length(p) / 4.0) AS BIGINT))) AS BIGINT)) AS BIGINT)
         AS total_bpe_tokens,
       round(avg(quality_score), 6) AS avg_quality
FROM scored
WHERE quality_score >= {QUALITY_CUTOFF}
GROUP BY lang
"""


def _gopher_rules_sql() -> str:
    from sarkac_spark.operators.text import _GOPHER_STOPWORDS

    stoplist = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)
    return f"""
WITH staged AS (
  SELECT doc_id, {_WORDS} AS w, length(text) AS nc,
         length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS nclean
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CASE WHEN len(w) > 0
              THEN round(CAST(list_sum(list_transform(w, x -> length(x)))
                              AS BIGINT) / len(w), 6)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN nc > 0 THEN round((nc - nclean) / nc, 6)
              ELSE 0.0 END AS symbol_ratio,
         CAST(len(list_filter(w, x -> list_contains([{stoplist}], lower(x))))
              AS BIGINT) AS stop_hits
  FROM staged
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, stop_hits,
       CAST(CASE WHEN n_words BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS BIGINT)
         AS ok_word_count,
       CAST(CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END
            AS BIGINT) AS ok_mean_word_len,
       CAST(CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS BIGINT)
         AS ok_symbol_ratio,
       CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS ok_stopwords,
       CAST(CASE WHEN n_words BETWEEN 10 AND 1000
                  AND mean_word_len BETWEEN 2.0 AND 12.0
                  AND symbol_ratio <= 0.1
                  AND stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS passes
FROM feats
"""


def _quality_micro_cte(src: str) -> str:
    """Quality features in exact integer micro-units over ``src`` —
    shared by the classifier oracles; mirrors
    operators/classify.quality_feature_frame."""
    return f"""
feats AS (
  SELECT doc_id,
         len({_WORDS}) AS n_words,
         round(len(list_distinct({_WORDS})) / len({_WORDS}), 6) AS unique_ratio,
         round(CAST(list_sum(list_transform({_WORDS}, x -> length(x))) AS BIGINT)
               / len({_WORDS}), 6) AS mean_word_len,
         round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / length(text), 6) AS punct_ratio,
         round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
               / length(text), 6) AS digit_ratio
  FROM {src}
),
micro AS (
  SELECT doc_id,
         CAST(round(unique_ratio * 1000000) AS BIGINT) AS unique_ratio,
         least(n_words * 10000, 1000000) AS len_term,
         CAST(round(mean_word_len * 1000000) AS BIGINT) AS mean_word_len,
         CAST(round(punct_ratio * 1000000) AS BIGINT) AS punct_ratio,
         CAST(round(digit_ratio * 1000000) AS BIGINT) AS digit_ratio
  FROM feats
)"""


def _logit_nano_expr() -> str:
    """The shipped model's integer logit — generated from the SAME
    weight dict the Spark operator reads (one source of truth)."""
    from sarkac_spark.operators.classify import (
        DEFAULT_BIAS_MILLI,
        DEFAULT_WEIGHTS_MILLI,
    )

    terms = " + ".join(
        f"({w}) * {name}" for name, w in sorted(DEFAULT_WEIGHTS_MILLI.items())
    )
    # CAST: DuckDB integer literals are INT32 — bias*1e6 overflows them
    return f"(CAST({DEFAULT_BIAS_MILLI} AS BIGINT) * 1000000 + {terms})"


def _quality_classifier_sql() -> str:
    return f"""
WITH {_quality_micro_cte("documents")}
SELECT doc_id,
       {_logit_nano_expr()} AS logit_nano,
       ({_logit_nano_expr()} >= 0) AS keep
FROM micro
"""


def _delta_curation_sql() -> str:
    return f"""
WITH old AS (
  SELECT doc_id,
         CASE WHEN {_sample_hash_sql("snap_edit")} < {SNAP_EDIT_CUTOFF}
              THEN reverse(text) ELSE text END AS text
  FROM documents
  WHERE {_sample_hash_sql("snap_add")} >= {SNAP_ADD_CUTOFF}
),
new AS (
  SELECT doc_id, text FROM documents
  WHERE {_sample_hash_sql("snap_del")} >= {SNAP_DEL_CUTOFF}
),
o AS (SELECT doc_id, md5(text) AS old_fp FROM old),
nn AS (SELECT doc_id, md5(text) AS new_fp FROM new),
diff AS (
  SELECT doc_id,
         CASE WHEN old_fp IS NULL THEN 'added'
              WHEN new_fp IS NULL THEN 'removed'
              WHEN old_fp != new_fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL OUTER JOIN nn USING (doc_id)
),
work AS (SELECT doc_id FROM diff WHERE status IN ('added', 'changed')),
src AS (SELECT n.doc_id, n.text FROM new n JOIN work USING (doc_id)),
{_quality_micro_cte("src")},
scored AS (
  SELECT doc_id,
         {_logit_nano_expr()} AS logit_nano,
         ({_logit_nano_expr()} >= 0) AS keep
  FROM micro
)
SELECT d.status,
       count(*) AS n_docs,
       count(s.logit_nano) AS n_scored,
       CAST(sum(CASE WHEN s.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM diff d LEFT JOIN scored s USING (doc_id)
GROUP BY 1
"""


def _classifier_confusion_sql() -> str:
    return f"""
WITH {_quality_micro_cte("documents")},
logits AS (
  SELECT doc_id, ({_logit_nano_expr()} >= 0) AS keep FROM micro
),
gp AS (SELECT doc_id, passes FROM ({_gopher_rules_sql()}) g)
SELECT l.keep, gp.passes AS gopher_pass, count(*) AS n_docs
FROM logits l JOIN gp USING (doc_id)
GROUP BY 1, 2
"""


def _mixture_realize_sql() -> str:
    targets = ", ".join(f"('{k}', {v})" for k, v in MIX_TARGETS.items())
    h = (
        "('0x' || substr(md5('mix_epochs|' || CAST(doc_id AS VARCHAR) || '#' "
        "|| CAST(u.c AS VARCHAR)), 1, 15))::BIGINT % 1000000"
    )
    return f"""
WITH c AS (
  SELECT lang, CAST(sum(len({_WORDS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM c),
w(lang, target_weight) AS (VALUES {targets}),
plan AS (
  SELECT c.lang,
         round(t.total * CAST(coalesce(w.target_weight, 0.0) AS DOUBLE)
               / c.n_tokens, 6) AS epochs
  FROM c LEFT JOIN w USING (lang), t
)
SELECT d.doc_id, d.lang, u.c AS epoch_copy
FROM documents d
JOIN plan p USING (lang),
UNNEST(range(0, CAST(floor(p.epochs) AS BIGINT) + 1)) AS u(c)
WHERE u.c < CAST(floor(p.epochs) AS BIGINT)
   OR {h} < CAST(round((p.epochs - floor(p.epochs)) * 1000000) AS BIGINT)
"""


def _classifier_calibration_sql(rates=(0.25, 0.5, 0.75)) -> str:
    thr_rows = "\n  UNION ALL\n".join(
        f"  SELECT CAST({r} AS DOUBLE) AS keep_rate,"
        f" round(quantile_cont(logit_nano, {1.0 - float(r)!r}), 6)"
        f" AS threshold_nano FROM logits"
        for r in rates
    )
    return f"""
WITH {_quality_micro_cte("documents")},
logits AS (SELECT {_logit_nano_expr()} AS logit_nano FROM micro),
thr AS (
{thr_rows}
)
SELECT t.keep_rate, t.threshold_nano,
       CAST(sum(CASE WHEN l.logit_nano >= t.threshold_nano THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM logits l CROSS JOIN thr t
GROUP BY 1, 2
"""
