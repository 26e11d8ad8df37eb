"""Plan audits: the scale-critical properties the docstrings claim are
asserted against the actual physical plans."""

from __future__ import annotations

import re

import pytest

from apache_flink_pratices_spark.operators.dedup import dedup_exact
from apache_flink_pratices_spark.operators.fraud import fraud_alerts
from apache_flink_pratices_spark.operators.relational import (
    q1_pricing_summary,
    q5_local_supplier,
    q6_forecast_revenue,
)
from apache_flink_pratices_spark.plans.explain import formatted_plan

from tests.plan_helpers import (
    codegen_stage_count,
    exchange_count,
    join_kinds,
    pushed_filters,
    scan_columns,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _clean_cache(spark):
    """Plan audits assert properties of plans built against the PARQUET
    scans; a cache entry left by an earlier test (e.g. a query that
    persists the documents frame) makes the CacheManager swap the scan
    subtree for an InMemoryRelation and the audited plan is no longer
    the one that runs at scale. Audit under a clean cache, always —
    and clear AFTER too, so audits that eagerly persist (the bloom
    decontamination builds its bitmap at construction) don't hand the
    same hazard to alphabetically-later modules."""
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_q6_filters_pushed_to_scan(spark):
    plan = formatted_plan(q6_forecast_revenue(spark, SF))
    pushed = " ".join(pushed_filters(plan))
    assert "l_discount" in pushed and "l_quantity" in pushed
    # shipdate predicates also reach the scan (timestamp pushdown)
    assert "l_shipdate" in pushed


def test_q1_column_pruning(spark):
    plan = formatted_plan(q1_pricing_summary(spark, SF))
    cols = scan_columns(plan)
    # only the 7 referenced lineitem columns are read, not the whole table
    assert "l_comment" not in cols and "l_orderkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity", "l_shipdate"} <= cols


def test_q1_heavy_pass_sums_longs_not_decimals(spark):
    """VERDICT r2 #6: the scan-side aggregation must accumulate int64
    (quantized), with decimal appearing only in the tiny partial-merge
    stage. spark_partition_id in the first groupBy is what bounds each
    long accumulator to one input split (overflow safety)."""
    plan = formatted_plan(q1_pricing_summary(spark, SF))
    assert "SPARK_PARTITION_ID" in plan.upper(), plan
    # two aggregations: (keys, pid) then keys — both exchanges are tiny
    # (one row per group x partition)
    assert exchange_count(plan) == 2, plan
    # the quantized terms reach the scan-side aggregate as longs
    assert "round(" in plan.lower() and "as bigint" in plan.lower().replace(" ", " "), plan


def test_q5_dim_joins_broadcast_fact_join_shuffles(spark):
    plan = formatted_plan(q5_local_supplier(spark, SF))
    kinds = join_kinds(plan)
    # the collapsed supplier⋈nation⋈region dim is explicitly broadcast
    assert "BroadcastHashJoin" in kinds
    # no cartesian products anywhere
    assert "CartesianProduct" not in kinds and "BroadcastNestedLoopJoin" not in kinds


def test_fraud_single_shuffle(spark):
    df = fraud_alerts(spark, SF)
    plan = formatted_plan(df)
    # one shuffle on the key (window), nothing else
    assert exchange_count(plan) == 1
    assert codegen_stage_count(df) >= 1


def test_kmv_bottom_k_is_two_stage(spark):
    """VERDICT r2 #2: the bottom-k must not run a global per-key sort.
    Stage 1's Window must partition by (event_type, salt) so the heavy sort
    fans out over keys × KMV_SALT; only the bounded merge stage may
    partition by event_type alone."""
    from apache_flink_pratices_spark.operators.relational import sketch_kmv_distinct

    plan = formatted_plan(sketch_kmv_distinct(spark, SF))
    # the formatted plan renders each Window's partitionBy spec; the salted
    # stage must exist, proving the raw hash table never hits a per-key sort
    assert "salt" in plan, plan
    w_sections = plan.split("Window")
    salted = [s for s in w_sections[1:] if "salt" in s.split("Arguments")[0] or "salt" in s[:400]]
    assert salted, f"no salted Window stage found:\n{plan}"


def test_dedup_exact_shuffles_digest_not_body(spark):
    plan = formatted_plan(dedup_exact(spark, SF))
    assert exchange_count(plan) <= 1
    # the document body must not survive past the scan projection
    assert "text" not in scan_columns(plan) or "md5" in plan


def test_stratified_sample_is_shuffle_free(spark):
    """The hash gate is a pure map filter — zero exchanges in the plan."""
    from apache_flink_pratices_spark.operators.curation import stratified_sample

    plan = formatted_plan(stratified_sample(spark, SF))
    assert exchange_count(plan) == 0, plan


def test_doc_packing_two_bounded_exchanges(spark):
    """Packing shuffles the data once (by shard for the window) — no
    global sort; the only other exchange is the one-row shard-count
    aggregation that broadcasts back (input-scaled parallelism). The
    window sort must key on (shard, doc_id), never a global order."""
    from apache_flink_pratices_spark.operators.curation import doc_packing

    plan = formatted_plan(doc_packing(spark, SF))
    assert exchange_count(plan) == 2, plan
    assert "BroadcastNestedLoopJoin" in join_kinds(plan), plan  # 1-row scalar attach


def test_contamination_broadcasts_eval_side(spark):
    """The eval shingle set must broadcast; the training side only
    shuffles for its own per-doc aggregates, never for the semi-join."""
    from apache_flink_pratices_spark.operators.curation import contamination_ngrams

    plan = formatted_plan(contamination_ngrams(spark, SF))
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds


def test_tfidf_broadcasts_vocabulary(spark):
    from apache_flink_pratices_spark.operators.text import tfidf_top_terms

    plan = formatted_plan(tfidf_top_terms(spark, SF))
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "CartesianProduct" not in kinds and "BroadcastNestedLoopJoin" not in kinds


def test_ivf_no_cartesian_and_broadcast_probes(spark):
    from apache_flink_pratices_spark.operators.similarity import ann_ivf_topk

    plan = formatted_plan(ann_ivf_topk(spark, SF))
    kinds = join_kinds(plan)
    assert "CartesianProduct" not in kinds and "BroadcastNestedLoopJoin" not in kinds
    assert "BroadcastHashJoin" in kinds, kinds


def test_asof_is_one_window_shuffle_no_join(spark):
    """The as-of join must compile to a keyed window fill — one hash
    exchange, zero join operators — never a per-key pairwise product."""
    from apache_flink_pratices_spark.operators.temporal import asof_attribution

    plan = formatted_plan(asof_attribution(spark, SF))
    assert join_kinds(plan) == [], join_kinds(plan)
    assert exchange_count(plan) == 1, plan


def test_interval_join_is_hash_anchored(spark):
    """The range predicate must ride on the user_id equi-join — a
    nested-loop/cartesian product here is quadratic per key at scale."""
    from apache_flink_pratices_spark.operators.temporal import (
        interval_join_error_views,
    )

    kinds = join_kinds(formatted_plan(interval_join_error_views(spark, SF)))
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert kinds, "expected an equi-join in the plan"


def test_q19_disjunction_pushes_per_side_implications(spark):
    """The OR'd (brand, quantity) branches must reach BOTH scans as
    per-side implications — quantity ranges on lineitem, brand-IN on
    part — not evaluate only post-join."""
    from apache_flink_pratices_spark.operators.relational import (
        q19_disjunctive_revenue,
    )

    plan = formatted_plan(q19_disjunctive_revenue(spark, SF))
    pushed = " ".join(pushed_filters(plan))
    assert "l_quantity" in pushed, pushed
    assert "p_brand" in pushed, pushed


def test_q7_pair_filter_never_nested_loop(spark):
    """The supp<>cust nation filter must ride on equi-join outputs, not
    turn the plan into a nested-loop pair product."""
    from apache_flink_pratices_spark.operators.relational import (
        q7_nation_pair_revenue,
    )

    kinds = join_kinds(formatted_plan(q7_nation_pair_revenue(spark, SF)))
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "CartesianProduct" not in kinds


def test_repetition_and_chunking_zero_shuffle(spark):
    """The docstrings claim pure map work — hold them to it."""
    from apache_flink_pratices_spark.operators.text import (
        doc_chunking,
        quality_repetition,
    )

    for op in (quality_repetition, doc_chunking):
        plan = formatted_plan(op(spark, SF))
        assert exchange_count(plan) == 0, plan


def test_domain_mix_big_side_never_shuffles(spark):
    """Rates join to documents via broadcast only; the only exchanges sit
    under the tiny per-source aggregate."""
    from apache_flink_pratices_spark.operators.curation import domain_mix_resample

    plan = formatted_plan(domain_mix_resample(spark, SF))
    kinds = join_kinds(plan)
    assert set(kinds) <= {"BroadcastHashJoin", "BroadcastNestedLoopJoin"}, kinds
    assert "SortMergeJoin" not in kinds and "CartesianProduct" not in kinds


def test_kmeans_assign_map_only(spark):
    """The docstring claims the Lloyd assignment is a zero-shuffle pass
    (seeds inlined as literals) — hold it to that."""
    from apache_flink_pratices_spark.operators.kmeans import kmeans_assign

    plan = formatted_plan(kmeans_assign(spark, SF))
    assert exchange_count(plan) == 0, plan


def test_kmeans_update_single_bounded_exchange(spark):
    """Update computes cluster ids map-side in the same pass as the
    element explosion: the only exchange is the (cluster, k) partial-sum
    merge, and there is no join back to the vectors."""
    from apache_flink_pratices_spark.operators.kmeans import kmeans_update

    plan = formatted_plan(kmeans_update(spark, SF))
    assert exchange_count(plan) == 1, plan
    assert join_kinds(plan) == [], plan


def test_q9_star_join_no_cartesian_fact_shuffled_bounded(spark):
    """Q9 shape: dims (supplier, nation) broadcast; no cartesian or
    nested-loop anywhere; the shipdate-free fact scan reads only the
    referenced columns."""
    from apache_flink_pratices_spark.operators.relational import (
        q9_product_type_profit,
    )

    plan = formatted_plan(q9_product_type_profit(spark, SF))
    kinds = join_kinds(plan)
    assert "CartesianProduct" not in kinds and "BroadcastNestedLoopJoin" not in kinds
    assert "BroadcastHashJoin" in kinds, kinds
    cols = scan_columns(plan)
    assert "l_comment" not in cols and "p_name" in cols


def test_q15_scalar_max_broadcasts(spark):
    """The 1-row MAX side must broadcast into the filter join; the
    lineitem date filter must reach the scan."""
    from apache_flink_pratices_spark.operators.relational import q15_top_supplier

    plan = formatted_plan(q15_top_supplier(spark, SF))
    assert "BroadcastHashJoin" in join_kinds(plan) or "BroadcastNestedLoopJoin" in join_kinds(plan), plan
    pushed = " ".join(pushed_filters(plan))
    assert "l_shipdate" in pushed, plan


def test_profile_is_single_scan(spark):
    """All per-column metrics (including the 6 exact distincts) must
    compute over ONE scan of orders — Expand, not repeated scans."""
    from apache_flink_pratices_spark.operators.relational import (
        profile_orders_columns,
    )

    import re

    plan = formatted_plan(profile_orders_columns(spark, SF))
    # count operator-detail headers, not tree-render repeats
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan, plan


def test_token_rarity_broadcasts_frequency_table(spark):
    """The vocabulary-bounded frequency table must broadcast back onto
    the token stream (tfidf's shape) — no fact-side shuffle for the join."""
    from apache_flink_pratices_spark.operators.text import quality_token_rarity

    plan = formatted_plan(quality_token_rarity(spark, SF))
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds and "CartesianProduct" not in kinds


def test_token_rarity_scans_corpus_exactly_twice(spark):
    """The corpus-total branch must NOT add a third tokenize pass
    (VERDICT r4 #2: total was a toks.count() action). The total now
    derives from the freq table, whose shuffle AQE reuses at runtime —
    so exactly two corpus scans execute: toks side + one freq build."""
    from apache_flink_pratices_spark.operators.text import quality_token_rarity

    df = quality_token_rarity(spark, SF)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed, executed[:2000]


def test_range_join_binned_is_equi_join_not_product(spark):
    """The pure range predicate must reach the executor as a bin-keyed
    equi-join (hash/sort-merge), never the |e|x|v| nested-loop product
    naive range joins plan to."""
    from apache_flink_pratices_spark.operators.temporal import range_join_binned

    plan = formatted_plan(range_join_binned(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    kinds = " ".join(join_kinds(plan))
    assert any(k in kinds for k in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), kinds


def test_range_join_binned_matches_unbinned_reference(spark):
    """Binning is a pure optimization: the bin-join + exact filter must
    equal the direct (small-scale) inequality join row for row."""
    from apache_flink_pratices_spark.io import load
    from apache_flink_pratices_spark.operators.temporal import (
        RANGE_JOIN_SECONDS,
        range_join_binned,
    )
    from pyspark.sql import functions as F

    got = {
        (r["error_id"], r["views_within_60s"], r["view_value_c"])
        for r in range_join_binned(spark, SF).collect()
    }
    e = load(spark, SF, "events").filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("e_ts")
    )
    v = load(spark, SF, "events").filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"), "value"
    )
    from apache_flink_pratices_spark.functions.numeric import qlong

    ref = (
        e.join(
            v,
            (F.col("v_ts") >= F.col("e_ts"))
            & (F.col("v_ts") < F.col("e_ts") + F.expr(f"INTERVAL {RANGE_JOIN_SECONDS} SECONDS")),
            "left",
        )
        .groupBy("error_id")
        .agg(
            F.count("view_id").alias("views_within_60s"),
            F.coalesce(F.sum(qlong(F.col("value"), 100)), F.lit(0)).alias("view_value_c"),
        )
    )
    want = {(r["error_id"], r["views_within_60s"], r["view_value_c"]) for r in ref.collect()}
    assert got == want


def test_rollup_hierarchy_day_reads_hour_cache(spark):
    """The daily level must re-aggregate the persisted hourly partials —
    the plan shows cache reads for both output levels, and no Union of
    two independent corpus aggregations."""
    from apache_flink_pratices_spark.operators.windows import rollup_time_hierarchy

    df = rollup_time_hierarchy(spark, SF)
    try:
        plan = formatted_plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert plan.count("events.parquet") == 1, plan
    finally:
        df.sparkSession.catalog.clearCache()


def test_retention_cohorts_no_product_bounded_exchanges(spark):
    """Retention matrix: equi-joins only, and the per-user-day distinct
    collapses map-side (partial aggregate below its exchange), so the
    final rollup's shuffle is |users|x|days|-bounded."""
    from apache_flink_pratices_spark.operators.relational import q_retention_cohorts

    plan = formatted_plan(q_retention_cohorts(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # first-seen agg + distinct + final rollup: at most 3 data exchanges
    assert exchange_count(plan) <= 3, plan


def test_bigram_pmi_vocab_tables_broadcast(spark):
    """After the single tokenize pass, every join must be a broadcast of
    a vocabulary-bounded table — a shuffle join on the bigram stream
    would re-key corpus-sized data for dimension-sized lookups."""
    from apache_flink_pratices_spark.operators.text import bigram_pmi

    df = bigram_pmi(spark, SF)
    try:
        plan = formatted_plan(df)
        kinds = join_kinds(plan)
        assert kinds, plan
        assert all("Broadcast" in k for k in kinds), kinds
        assert "SortMergeJoin" not in plan, plan
    finally:
        df.sparkSession.catalog.clearCache()


def test_ann_lsh_clustered_no_cartesian_and_vectorized_signatures(spark):
    """The planted-cluster ANN query must keep the ann_lsh plan shape:
    signature generation is ONE Arrow mapInPandas stage (round 7 — the
    interpreted higher-order-function formulation measured ~4 s for 64-bit
    signatures), query bands broadcast into the candidate join, and no
    cartesian/nested-loop join anywhere."""
    from apache_flink_pratices_spark.operators.similarity import (
        ann_lsh_topk_clustered,
    )

    spark.catalog.clearCache()
    df = ann_lsh_topk_clustered(spark, SF)
    plan = formatted_plan(df)
    kinds = join_kinds(plan)
    assert "CartesianProduct" not in kinds
    assert "BroadcastNestedLoopJoin" not in kinds
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in kinds  # query bands + query vectors


def test_dedup_semantic_cell_local_and_vectorized_verify(spark):
    """dedup_semantic (round 9): the pair join must be a cell equi-join
    (never cartesian/nested-loop), and the exact-cosine verify must be
    the ONE vectorized Arrow mapInPandas stage on the pair stream (the
    interpreted higher-order dot measured ~80% of the query at sf0.1) —
    plus the map-side IVF assignment kernel."""
    from apache_flink_pratices_spark.registry import get_spec
    from apache_flink_pratices_spark.operators import dedup  # noqa: F401

    spark.catalog.clearCache()
    df = get_spec("dedup_semantic").fn(spark, SF)
    try:
        plan = formatted_plan(df)
        kinds = join_kinds(plan)
        assert "CartesianProduct" not in kinds, kinds
        assert "BroadcastNestedLoopJoin" not in kinds, kinds
        assert "MapInPandas" in plan, plan
    finally:
        spark.catalog.clearCache()


def test_dedup_incremental_is_artifact_scan_with_pushed_verify(spark):
    """dedup_incremental (round 9) must be a pure filter over the
    materialized pair artifact: no fingerprint kernel (MapInPandas) and
    no join in the plan, with the Hamming verify pushed into the
    artifact's parquet scan — the shape whose cost follows the delta,
    not the corpus."""
    from apache_flink_pratices_spark.registry import get_spec
    from apache_flink_pratices_spark.operators import dedup  # noqa: F401

    df = get_spec("dedup_incremental").fn(spark, SF)
    plan = formatted_plan(df)
    assert "MapInPandas" not in plan, plan
    assert not join_kinds(plan), plan
    pushed = " ".join(pushed_filters(plan))
    assert "hamming" in pushed, plan


def test_corpus_pipeline_e2e_single_documents_scan(spark):
    """corpus_pipeline_e2e (VERDICT r9 #5, stages extended r10 #5)
    composes dedup_clusters + gopher gate + bloom decontamination +
    quality-temperature gate + token budget + packing; its claim is
    operator COMPOSITION: the documents table is persisted once and
    Spark's CacheManager swaps every component's own load(documents)
    subtree for the cached frame, so ONE corpus scan feeds the whole
    chain, the sources-sized budget join is a broadcast, and the decon
    stage is a broadcast ANTI join (never a shuffle of the corpus
    against the dirty-doc set)."""
    from apache_flink_pratices_spark.registry import get_spec
    from apache_flink_pratices_spark.operators import curation  # noqa: F401

    spark.catalog.clearCache()
    try:
        df = get_spec("corpus_pipeline_e2e").fn(spark, SF)
        plan = formatted_plan(df)
        # exactly one parquet scan of documents — the cache fill; every
        # other consumer reads the InMemoryRelation
        assert plan.count("documents.parquet") == 1, plan
        assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
        kinds = join_kinds(plan)
        assert "CartesianProduct" not in kinds, kinds
        assert "BroadcastHashJoin" in kinds, kinds  # budget join
        # decontamination rides the plan as an anti join of the corpus
        # against the (small) dirty-doc set
        assert "LeftAnti" in plan, plan
    finally:
        spark.catalog.clearCache()


def test_decontaminate_bloom_verify_join_is_broadcast(spark):
    """The exact verify join behind the bloom prefilter must be a
    broadcast hash join on the (small) eval hash set — never a shuffle
    of the train shingle stream, and never a nested-loop product."""
    from apache_flink_pratices_spark.operators.curation import (
        decontaminate_bloom,
    )

    plan = formatted_plan(decontaminate_bloom(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_quality_topk_first_sort_is_salted(spark):
    """The heavy ranking sort must partition by (source, salt) — the
    shared salted_bottom_k kernel's shape — so one huge domain fans out
    over every core; only the bounded survivor stage may partition by
    source alone."""
    from apache_flink_pratices_spark.operators.curation import (
        quality_topk_per_source,
    )

    plan = formatted_plan(quality_topk_per_source(spark, SF))
    assert "salt" in plan, plan
    assert exchange_count(plan) == 2, plan


def test_bpe_encode_python_only_on_distinct_words(spark):
    """The BPE apply's Python stage must sit on the DISTINCT-word build
    side of a broadcast join — exactly one MapInPandas, never on the
    token stream — and the per-doc aggregate must be the only
    corpus-sized exchange after it."""
    from apache_flink_pratices_spark.operators.text import bpe_encode

    plan = formatted_plan(bpe_encode(spark, SF))
    # one MapInPandas NODE (formatted plans list each node twice: tree
    # line + detail header)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds and "CartesianProduct" not in kinds
    # the MapInPandas must be fed by the distinct-word aggregate, i.e.
    # appear AFTER a HashAggregate in the operator tree (build side),
    # not directly over the scan
    mp = plan.index("MapInPandas")
    assert "HashAggregate" in plan[mp:], plan[mp : mp + 500]


def test_bpe_encode_trained_apply_plan_matches_frozen(spark):
    """bpe_encode_trained: the training loop runs as bounded driver-side
    iterations BEFORE the returned plan is built, so the plan that runs
    at corpus scale must be exactly the frozen-table apply shape — one
    MapInPandas on the distinct-word build side, no sort-merge/cartesian,
    nothing corpus-sized in Python."""
    from apache_flink_pratices_spark.registry import all_specs

    plan = formatted_plan(all_specs()["bpe_encode_trained"].fn(spark, SF))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds and "CartesianProduct" not in kinds
    mp = plan.index("MapInPandas")
    assert "HashAggregate" in plan[mp:], plan[mp : mp + 500]


def test_lm_perplexity_lm_tables_broadcast_back(spark):
    """The bounded bigram/unigram LM tables must broadcast onto the
    token stream (no fact-side shuffle for the scoring joins) and no
    Python stage may exist anywhere in the plan."""
    from apache_flink_pratices_spark.operators.text import quality_lm_perplexity

    df = quality_lm_perplexity(spark, SF)
    plan = formatted_plan(df)
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds
    # BroadcastNestedLoopJoin is allowed ONLY as the sanctioned 1-row
    # scalar attach (the corpus-total cross join — same stance as
    # bigram_pmi/quality_token_rarity); real products are not
    assert "CartesianProduct" not in kinds and "SortMergeJoin" not in kinds


def test_lm_perplexity_ref_no_python_no_products(spark):
    """The clean-reference LM scorer: still zero Python stages, LM and
    OOV scalars broadcast back, no real products (the 1-row OOV attach
    is the sanctioned BroadcastNestedLoopJoin scalar pattern). Unlike
    the self-trained scorer, a shuffle join IS legitimate here: the
    train-subset restriction (toks x clean doc_ids) joins two
    corpus-derived sides, which at 100 TB is a hash-shuffle join unless
    the clean set happens to broadcast."""
    from apache_flink_pratices_spark.registry import all_specs

    fn = all_specs()["quality_lm_perplexity_ref"].fn
    plan = formatted_plan(fn(spark, SF))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
    kinds = join_kinds(plan)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "CartesianProduct" not in kinds, kinds


def test_budget_plan_exact_stays_sources_sized(spark):
    """token_budget_plan_exact: one distinct-word Python encode (same
    contract as bpe_encode), and the final plan is a sources-sized
    aggregate — no cartesian, no corpus-sized Python."""
    from apache_flink_pratices_spark.registry import all_specs

    fn = all_specs()["token_budget_plan_exact"].fn
    plan = formatted_plan(fn(spark, SF))
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan
