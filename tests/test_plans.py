"""Physical-plan regression tests: the properties that make these
operators scale must survive refactors — broadcast joins staying
broadcast, filters reaching the parquet scan, column pruning, and
shuffle counts. Substring checks on the executed-plan string are
deliberately loose (plan rendering changes across Spark versions; the
*properties* must not)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarkac_spark.operators.anomaly import sigma_scan
from sarkac_spark.operators.similarity import cosine_topk
from sarkac_spark.operators.stats import trailing_window_stats
from sarkac_spark.plans import (
    executed_plan as _plan,
    final_plan,
    has_broadcast_hash_join,
    pushed_filters,
    read_schemas,
    shuffle_count,
)
from sarkac_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_sigma_scan_stats_join_is_broadcast(events):
    df = sigma_scan(events, windows=(3600, 86400))
    assert has_broadcast_hash_join(df)  # stats side must never shuffle facts
    assert "SortMergeJoin" not in _plan(df)


def test_sigma_scan_filter_pushdown(events):
    # streaming mode (score_df given) has no materialization barrier —
    # the group-key not-null predicate must reach the parquet scan
    # there, where per-trigger re-scans make pushdown matter most
    assert "IsNotNull(event_type)" in ";".join(
        pushed_filters(sigma_scan(events, windows=(3600,), score_df=events))
    )
    # batch mode (r12): facts are materialized once behind a lazy
    # checkpoint; the same predicate is applied explicitly BEFORE the
    # barrier (sigma_scan filters group keys pre-checkpoint), so the
    # query-side plan reads the ExistingRDD, not a parquet re-scan
    plan = _plan(sigma_scan(events, windows=(3600,)))
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan


def test_trailing_stats_single_shuffle(events):
    # all windows in ONE grouped aggregation: exactly one Exchange for the
    # group-by plus one 1-row as-of broadcast — never an Exchange per window
    assert (
        shuffle_count(
            trailing_window_stats(
                events, ["event_type"], "value", "ts", [3600, 43200, 86400, 604800]
            )
        )
        == 1
    )


def test_as_of_scan_prunes_columns(events):
    # the max(ts) side scan must read only the ts column (any timestamp
    # physical type — the driver's parquet stores TIMESTAMP(NANOS), which
    # renders as bigint under nanosAsLong or timestamp_ntz after conversion)
    schemas = read_schemas(
        trailing_window_stats(events, ["event_type"], "value", "ts", [3600])
    )
    assert any(s.startswith("struct<ts:") and s.count(",") == 0 for s in schemas)


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=3))
    assert "BroadcastNestedLoopJoin" in plan  # queries replicated, corpus scanned once


def test_minhash_signatures_single_shuffle(spark, sf_dir):
    from sarkac_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    # all k minhashes in ONE grouped aggregation over the shingle explode
    assert shuffle_count(minhash_signatures(docs, "doc_id", "text")) == 1


def test_top_customers_uses_distributed_topk(spark, sf_dir):
    from sarkac_spark.queries.relational import q_top_customers

    plan = _plan(q_top_customers(spark, sf_dir))
    # per-partition top-k merge, never a single-partition global sort
    assert "TakeOrderedAndProject" in plan


def test_online_sigma_uses_no_sliding_frames(events):
    from sarkac_spark.operators.anomaly import online_sigma_scan
    from sarkac_spark.plans.audit import resolved_plan

    # resolved_plan: the window pass sits behind the r12 lazy checkpoint
    # (it runs once per action), which the executed plan shows only as
    # an ExistingRDD scan; the resolved text includes its subtree
    plan = resolved_plan(online_sigma_scan(events, window_seconds=86400))
    # the trailing stats must come from add-only (unboundedpreceding)
    # prefix frames — Spark re-scans sliding RANGE frames per row,
    # which is O(rows x frame) and collapses at scale
    assert "unboundedpreceding" in plan.lower()
    lowered = plan.lower()
    import re

    # a sliding frame (finite lower bound) renders as
    # "specifiedwindowframe(RangeFrame, -N, -1)" in the physical plan
    # ("range between -N ..." in SQL text) — forbid both
    assert not re.search(r"range(?:frame,| between) -\d+", lowered)


def test_skew_report_no_global_sort(spark, sf_dir):
    from sarkac_spark.operators.profiling import skew_report

    li = load_table(spark, sf_dir, "lineitem")
    plan = _plan(skew_report(li, ["l_orderkey"]))
    # top-k must be per-partition + driver merge, never a global sort
    assert "TakeOrderedAndProject" in plan
    # key column pruning reaches the scan
    assert all("l_comment" not in s for s in read_schemas(skew_report(li, ["l_orderkey"])))


def test_lsh_assign_is_map_only(spark, sf_dir):
    from sarkac_spark.operators.similarity import lsh_sign_assign

    emb = load_table(spark, sf_dir, "embeddings")
    df = lsh_sign_assign(emb, dim=64, n_bits=4, n_tables=3)
    # bucketing must be a pure per-row expression: one scan, zero
    # shuffles — the property that lets it run inside a streaming stage
    assert shuffle_count(df) == 0
    assert _plan(df).count("Scan parquet") == 1
    # only the columns the op needs reach the scan
    assert all("label" not in s for s in read_schemas(df))


def test_dedup_minhash_bounded_corpus_scans(spark, sf_dir):
    from sarkac_spark.operators.dedup import dedup_minhash

    docs = load_table(spark, sf_dir, "documents")
    # scale branch (barrier=True; also the derived default when input
    # size is large or unknowable): the doc-level signature+set
    # aggregation is materialized ONCE behind a lazy localCheckpoint
    # (r12 — ReuseExchange could not collapse the differently-pruned
    # legs; 9 runtime corpus scans before). Visible plan: NO parquet
    # re-scan, legs read the checkpointed relation.
    plan = _plan(dedup_minhash(docs, "doc_id", "text", barrier=True))
    assert plan.count("Scan parquet") == 0
    assert "Scan ExistingRDD" in plan
    # the candidate/verify tail stays bounded: band explode + cap +
    # self-join + two set joins, never a shape growing with features
    assert plan.count("Exchange hashpartitioning") <= 12
    # small-input branch (r13 size gate — the derived default on the
    # toy fixture): no barrier, so the legs re-derive the agg subtree;
    # the scan fan-out must stay the BOUNDED r11 shape (the three
    # sig/set legs + band-cap leg), never growing with features
    plan_small = _plan(dedup_minhash(docs, "doc_id", "text"))
    n_scans = plan_small.count("Scan parquet")
    assert 1 <= n_scans <= 12
    assert plan_small.count("Exchange hashpartitioning") <= 28


def test_supplier_nation_revenue_broadcasts_dims(spark, sf_dir):
    from sarkac_spark.queries.relational import q_supplier_nation_revenue

    df = q_supplier_nation_revenue(spark, sf_dir)
    plan = _plan(df)
    # the supplier⋈nation chain must collapse into a broadcast: the fact
    # table shuffles once (for the |nations|-row group-by), never on the
    # join key
    assert has_broadcast_hash_join(df)
    assert "SortMergeJoin" not in plan
    assert shuffle_count(df) == 1
    # column pruning: only the 3 needed lineitem columns reach the scan
    assert all("l_shipdate" not in s for s in read_schemas(df))


def test_promo_revenue_single_fact_scan(spark, sf_dir):
    from sarkac_spark.queries.relational import q_promo_revenue

    df = q_promo_revenue(spark, sf_dir)
    assert has_broadcast_hash_join(df)
    # single-row final agg: partial aggregation happens map-side, the
    # shuffle carries one row per task
    assert "SortMergeJoin" not in _plan(df)


def test_top_docs_per_lang_partitions_by_group(spark, sf_dir):
    from sarkac_spark.queries.relational import q_top_docs_per_lang

    plan = _plan(q_top_docs_per_lang(spark, sf_dir))
    # rank window partitioned by lang — no single-partition global sort
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan


def test_value_histogram_is_two_stage(spark, sf_dir):
    from sarkac_spark.queries.relational import q_value_histogram

    df = q_value_histogram(spark, sf_dir)
    # map-side binning: one shuffle carrying |bins| rows per task
    assert shuffle_count(df) == 1
    assert all("props" not in s for s in read_schemas(df))


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    from sarkac_spark.sources.bucketing import colocated_join, write_bucketed

    loc = tmp_path_factory.mktemp("bucket_wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdb LOCATION '{loc}'")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    write_bucketed(li, "buckdb.li_b", "l_orderkey", 4)
    write_bucketed(od, "buckdb.od_b", "l_orderkey", 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "buckdb.li_b", "buckdb.od_b", "l_orderkey")
        # matching bucket specs: the join is bucket-aligned, zero shuffles
        assert shuffle_count(j) == 0
        assert "SortMergeJoin" in _plan(j)
        assert j.count() == li.join(od, "l_orderkey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS buckdb.li_b")
        spark.sql("DROP TABLE IF EXISTS buckdb.od_b")
        spark.sql("DROP DATABASE IF EXISTS buckdb")


def test_cosine_all_pairs_default_never_touches_driver(spark, sf_dir, monkeypatch):
    """The default (block-matrix) all-pairs path must build AND execute
    without any driver-side collect of the corpus — the round-1 scale
    defect was an eager toPandas() at plan-construction time."""
    from pyspark.sql import DataFrame

    from sarkac_spark.operators.similarity import cosine_all_pairs

    def _boom(self, *a, **k):  # pragma: no cover - tripping it IS the failure
        raise AssertionError("driver collect in scale path")

    emb = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    df = cosine_all_pairs(emb, threshold=0.9)
    assert df.count() >= 0  # executes fully with toPandas() forbidden


def test_cosine_all_pairs_blocked_matches_broadcast(spark, sf_dir):
    """Block-matrix and small-corpus broadcast paths are the same exact
    operator: identical pair sets and similarities."""
    from sarkac_spark.operators.similarity import cosine_all_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # sf0.001 has no pairs above ~0.5; 0.3 yields a few hundred
    blocked = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_all_pairs(emb, threshold=0.3, n_blocks=4).collect()
    }
    bcast = {
        (r.id_a, r.id_b): r.cos_sim
        for r in cosine_all_pairs(emb, threshold=0.3, small_corpus=True).collect()
    }
    assert blocked and blocked == bcast


def test_new_curation_query_plan_shapes(spark, sf_dir):
    """Plan regressions for the round-2 curation queries: shuffle budgets
    and fact-side broadcast joins must survive refactors."""
    from sarkac_spark.queries.llm import (
        q_pack_sequences,
        q_span_dedup,
        q_temperature_sample,
        q_vocab_coverage,
    )

    sd = q_span_dedup(spark, sf_dir)
    # span-hash window + totals + rebuild: three data-sized shuffles max
    assert shuffle_count(sd) <= 3

    ts = q_temperature_sample(spark, sf_dir)
    # rate dim joins broadcast; only the tiny count/total aggs shuffle
    assert has_broadcast_hash_join(ts)
    assert shuffle_count(ts) <= 2

    ps = q_pack_sequences(spark, sf_dir)
    # the (group, seq) ordinal window must reuse the group exchange
    assert shuffle_count(ps) == 1

    vc = q_vocab_coverage(spark, sf_dir)
    plan = _plan(vc)
    # top-k is a driver merge, and no unpartitioned window sneaks in
    assert "TakeOrderedAndProject" in plan
    # 3 data-sized shuffles (term count, total, cum) + 2 k-row exchanges
    # from the declarative rank_topk (broadcast self-join + agg over the
    # <=top_k survivors) — metadata-sized, not data-sized
    assert shuffle_count(vc) <= 5


def test_round3_query_plan_shapes(spark, sf_dir):
    """Plan budgets for the round-3 operators: gopher is map-only,
    unigram_kl broadcasts its totals, semantic_dedup shuffles only on
    the bucket key plus the final kept-flag join."""
    from sarkac_spark.queries.llm import (
        q_gopher_rules,
        q_semantic_dedup,
        q_unigram_kl,
    )

    gr = q_gopher_rules(spark, sf_dir)
    assert shuffle_count(gr) == 0  # pure column expressions, no shuffle
    plan = _plan(gr)
    assert "Exchange" not in plan

    kl = q_unigram_kl(spark, sf_dir)
    # statically: the (grp, tok) count (data-sized), its grand-total twin,
    # and the two vocab-sized marginal windows — and the twin must
    # dedupe into a ReusedExchange at runtime (ONE corpus scan/shuffle;
    # the marginals come from windows, not corpus-rescanning branches)
    assert shuffle_count(kl) <= 4
    kl.collect()
    assert "ReusedExchange" in _plan(kl)

    sd = q_semantic_dedup(spark, sf_dir)
    # bucket self-join + dropped-id dedup + kept-flag join; assignment
    # itself is map-only expression code
    assert shuffle_count(sd) <= 5
    assert "InMemoryTableScan" not in _plan(sd)  # no hidden caching


def test_dedup_simhash_no_pair_distinct(spark, sf_dir):
    """Round-4 budget: the candidate-pair stream must not be re-shuffled
    for dedup — first-matching-band emission replaced the distinct().
    Shuffles left: word-explode agg (corpus-sized), the band self-join
    exchange (reused across both legs at runtime)."""
    from sarkac_spark.queries.llm import QUERIES

    sh = QUERIES["dedup_simhash"](spark, sf_dir)
    assert shuffle_count(sh) <= 3  # was 4 with the pair distinct
    plan = _plan(sh)
    assert "HashAggregate" in plan  # the fingerprint agg
    # no aggregation keyed on the pair ids (the old distinct's shape)
    assert "hashpartitioning(id_a" not in plan


def test_ivf_storage_assignment_is_map_only(spark, sf_dir):
    """Round-4 budget: corpus-side IVF bucket assignment is an argmax
    fold over broadcast centroids — the corpus leg must contribute NO
    shuffle; the plan's single data-sized exchange is the bucket join's."""
    from sarkac_spark.queries.llm import QUERIES

    iv = QUERIES["ivf_topk"](spark, sf_dir)
    assert shuffle_count(iv) <= 1  # was 5 with the per-id window assignment


def test_lsh_topk_no_pair_distinct(spark, sf_dir):
    """Round-4 budget: candidate pairs from the multi-table bucket join
    are deduped by first-matching-table bit ops, not a distinct() —
    no exchange keyed on the pair ids may appear."""
    from sarkac_spark.queries.llm import QUERIES

    lt = QUERIES["lsh_topk"](spark, sf_dir)
    plan = _plan(lt)
    # the only query_id-keyed exchange allowed is the top-k window's;
    # the old distinct() added a second one over (query_id, neighbor_id)
    assert plan.count("hashpartitioning(query_id") <= 1


def test_tpch_shape_query_plans(spark, sf_dir):
    """Plan shapes for the Q4/Q13/Q16-style queries: the semi-join's
    returnflag filter reaches the lineitem scan, the distribution query
    keeps its outer join, and the distinct-agg expands to the two-phase
    aggregate instead of collecting a set anywhere."""
    from sarkac_spark.queries.relational import (
        q_customer_order_distribution,
        q_order_priority_counts,
        q_part_supplier_variety,
    )

    opc = q_order_priority_counts(spark, sf_dir)
    plan = _plan(opc)
    assert "LeftSemi" in plan
    assert any("l_returnflag" in f for f in pushed_filters(opc)), pushed_filters(opc)

    cod = q_customer_order_distribution(spark, sf_dir)
    assert "LeftOuter" in _plan(cod)
    assert shuffle_count(cod) <= 3  # custkey join/agg + tiny rollup

    psv = q_part_supplier_variety(spark, sf_dir)
    p = _plan(psv)
    assert "Expand" in p or "distinct" in p.lower()  # two-phase distinct agg
    assert "collect_set" not in p


def test_new_sketch_and_curation_budgets(spark, sf_dir):
    """Shuffle budgets for the round-4 additions: the sketch builds are
    sketch-sized single aggregations, the samplers one exchange."""
    from sarkac_spark.operators.sampling import domain_cap, weighted_sample
    from sarkac_spark.operators.sketch import (
        histogram_quantiles,
        hll_distinct,
    )

    docs = load_table(spark, sf_dir, "documents")
    # domain cap: ONE exchange on the domain key feeding the rank window
    assert shuffle_count(domain_cap(docs, "source", 10, "n_chars", "doc_id")) == 1
    # weighted per-stratum draw: same single-exchange shape
    assert (
        shuffle_count(
            weighted_sample(docs, "doc_id", "n_chars", 10, stratum_col="source")
        )
        == 1
    )
    # HLL: register-sized groupBy + per-group estimate re-agg — 2
    assert shuffle_count(hll_distinct(docs, "doc_id", ["lang"])) == 2
    # histogram: bounds agg + (group, bin) agg + <=k-row window; the
    # bounds ride back as a broadcast, never a shuffle
    hq = histogram_quantiles(docs, "n_chars", ["lang"], k=64)
    assert shuffle_count(hq) <= 4
    assert has_broadcast_hash_join(hq)


def test_round6_query_plan_shapes(spark, sf_dir):
    """Plan budgets for the round-6 operators: the classifier is a pure
    scan (ZERO shuffles — the whole point of integer-logit scoring),
    the confusion audit adds only its 4-group agg, and the span/dedup
    additions stay inside their banded/windowed budgets."""
    from sarkac_spark.queries.llm import (
        q_classifier_confusion,
        q_contamination_spans,
        q_dup_ngram_frac,
        q_quality_classifier,
        q_snapshot_diff,
    )

    qc = q_quality_classifier(spark, sf_dir)
    assert shuffle_count(qc) == 0  # map-only scoring, one scan

    cc = q_classifier_confusion(spark, sf_dir)
    assert shuffle_count(cc) <= 1  # both gates stacked on one pass

    sd = q_snapshot_diff(spark, sf_dir)
    # ONE full-outer equi-join on the unique id key: two input exchanges
    assert shuffle_count(sd) <= 2

    df_ = q_dup_ngram_frac(spark, sf_dir)
    # (doc,gram) collapse -> gram-df agg -> join back -> per-doc rollup:
    # every shuffle data-sized, per-occurrence join fanout exactly 1
    assert shuffle_count(df_) <= 4

    cs = q_contamination_spans(spark, sf_dir)
    # shingle df-cap semi-join legs + h-join + island window + rollup
    assert shuffle_count(cs) <= 6
    plan = _plan(cs)
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_aqe_splits_skewed_shuffle_join(spark):
    """The named join scale-killer: a shuffled join where one key holds
    ~90% of the rows pins a single reducer at any cluster size. The
    engine's answer is AQE skew-join (on by default in get_spark);
    pinned here by the FINAL adaptive plan carrying a skew=true join
    leg once runtime stats see the oversized partition. Thresholds are
    lowered to make local-test data register as skewed — production
    defaults only split real multi-hundred-MB partitions."""
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    try:
        # incompressible payload: shuffle blocks are lz4-compressed, so
        # a constant pad would deflate below the skew threshold
        pad = F.sha2(F.col("id").cast("string"), 256)
        hot = spark.range(20_000).select(
            F.lit(0).cast("long").alias("k"), pad.alias("payload")
        )
        cold = spark.range(300).select(
            (1 + F.col("id") % 3).alias("k"), pad.alias("payload")
        )
        left = hot.unionByName(cold)
        right = spark.range(4).select(
            F.col("id").alias("k"), F.lit("dim").alias("attr")
        )
        # broadcast disabled above, so this is a shuffle join with
        # ENSURE_REQUIREMENTS exchanges on BOTH sides — a user
        # .repartition(n, k) here would be REPARTITION_BY_NUM, which
        # AQE must preserve and therefore refuses to skew-split
        j = left.join(right, "k")
        # final_plan collects THIS dataset (a count() would plan a
        # separate query and leave j's AdaptiveSparkPlan unfinalized)
        plan = final_plan(j)
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_round9_tpch_plan_shapes(spark, sf_dir):
    """Q7/Q9/Q10 analogues: the per-side nation supersets broadcast both
    Q7 dim chains, Q9 is a single-shuffle all-broadcast star, and Q10's
    top-20 compiles to TakeOrderedAndProject with the returnflag filter
    pushed into the lineitem scan."""
    from sarkac_spark.queries.relational_tpch import (
        q_nation_profit,
        q_returned_item_customers,
        q_two_nation_volume,
    )

    tnv = q_two_nation_volume(spark, sf_dir)
    assert has_broadcast_hash_join(tnv)
    # fact-fact orderkey join + final groupBy; never more
    assert shuffle_count(tnv) <= 3

    npf = q_nation_profit(spark, sf_dir)
    assert has_broadcast_hash_join(npf)
    assert shuffle_count(npf) == 1  # only the (nation, year) agg
    assert any("p_name" in f for f in pushed_filters(npf)), pushed_filters(npf)

    ric = q_returned_item_customers(spark, sf_dir)
    plan = _plan(ric)
    assert "TakeOrderedAndProject" in plan
    assert any("l_returnflag" in f for f in pushed_filters(ric)), pushed_filters(ric)


def test_plan_digest_stable_and_discriminating(events, spark, sf_dir):
    """plan_digest: equal across rebuilds of the same query in one
    session (it strips expression ids, plan ids, lambda-var and CSE
    counters), different across structurally different plans — the
    property tools/bench_diff.py's drift attribution rests on."""
    from sarkac_spark.plans import plan_digest

    a1 = plan_digest(sigma_scan(events, windows=(3600,)))
    a2 = plan_digest(sigma_scan(events, windows=(3600,)))
    assert a1 == a2
    tws_args = (events, ["event_type"], "value", "ts", [3600])
    b = plan_digest(trailing_window_stats(*tws_args))
    assert b == plan_digest(trailing_window_stats(*tws_args))
    assert a1 != b
    # a real plan change (extra filter) flips the digest
    c = plan_digest(
        sigma_scan(events.filter(F.col("value") > 0), windows=(3600,))
    )
    assert c != a1


def test_bench_diff_verdicts():
    """tools/bench_diff.py classification: plan-pinned box drift vs
    plan-changed vs missing-old-digest, plus added/removed tracking.
    Pure-python (no Spark)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import bench_diff

    old = {
        "value": 10.0,
        "queries": {"a": 1.0, "b": 1.0, "c": 1.0, "gone": 1.0},
        "plan_digests": {"a": "d1", "b": "d2"},
    }
    new = {
        "value": 12.0,
        "queries": {"a": 2.0, "b": 2.0, "c": 2.0, "fresh": 0.5},
        "plan_digests": {"a": "d1", "b": "CHANGED", "c": "d3"},
    }
    rep = bench_diff.diff(old, new, 0.30)
    by = {m["query"]: m for m in rep["movers"]}
    assert by["a"]["verdict"].startswith("box-drift")
    assert by["b"]["verdict"] == "PLAN-CHANGED"
    assert "no old digest" in by["c"]["verdict"]
    assert rep["added"] == ["fresh"] and rep["removed"] == ["gone"]
    # under-threshold movers are not reported
    assert bench_diff.diff(old, {**new, "queries": {**old["queries"]}}, 0.30)[
        "movers"
    ] == []
    md = bench_diff.render(rep, "old.json", "new.json")
    assert "PLAN-CHANGED" in md and "d2 -> CHANGED" in md
