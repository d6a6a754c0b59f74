"""Physical-plan regression tests.

Correctness tests prove the small-SF answer; these pin the *plan*
properties that decide whether the same query survives a 100 TB run:
dimension joins must broadcast, source filters must reach the parquet
scan, the reference surface must stay inside JVM codegen (zero Python
UDFs), and AQE must be active to re-plan shuffles at runtime.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE

_QUERIES = entrymod.queries()


def _plan(spark, name: str) -> str:
    df = _QUERIES[name](spark, SF_ORACLE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_candidates_broadcasts_feature_dims(spark):
    """The candidate-expansion pipeline grafts per-user / per-product /
    per-(user,product) feature tables onto the exploded candidates —
    all must be broadcast-hash joins, never sort-merge on the fact."""
    plan = _plan(spark, "candidates")
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_reference_surface_has_no_python_udfs(spark):
    """SURVEY.md §2j design rule: zero Python UDFs on the reference
    surface — everything stays in codegen'd Catalyst expressions."""
    for name in (
        "candidates",
        "proxy_submission",
        "users_final",
        "product_features",
        "frequent_pairs",
        "pair_rules",
        "top_products_per_user",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_scan_filter_pushdown(spark):
    """brute_force_topk filters vec_id < N at the source — the
    predicate must reach the parquet scan (row-group pruning at
    scale). Asserted on the UNSTAGED builder: the declared
    ann_brute_force query reads the session-staged checkpoint
    (round 7), so the scan that must prune is the one the stage
    materializes from."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    df = similarity.brute_force_topk(emb)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id" in plan, plan


def test_column_pruning_products(spark):
    """The products view projects 3 of part's 9 columns — ReadSchema
    must show only the mapped columns (column pruning reached the scan)."""
    plan = _plan(spark, "product_features")
    for scan_schema in [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]:
        assert "p_name" not in scan_schema
        assert "p_retailprice" not in scan_schema


def test_aqe_and_partial_aggregation(spark):
    """AQE active; multi-agg computes map-side partials (one shuffle for
    count + max_by + sum, SURVEY A10/A11)."""
    plan = _plan(spark, "user_product_features")
    assert "AdaptiveSparkPlan" in plan
    assert "partial_max_by" in plan
    assert "partial_count" in plan
    # exactly one shuffle lands on the (userID, productID) agg key
    assert plan.count("Arguments: hashpartitioning(userID") == 1, plan


def test_salted_agg_two_stage(spark):
    """The salted aggregation must shuffle on (key, salt) first, then
    key alone — the hot key fans out over N reducers in stage 1."""
    plan = _plan(spark, "events_user_stats_salted")
    assert plan.count("Arguments: hashpartitioning(user_id") == 2, plan
    assert "_salt" in plan


def test_exact_dedup_single_shuffle(spark):
    """Exact dedup is one hash-agg pass: exactly one hash-partition
    exchange, with partial aggregation (map-side combine) before it."""
    plan = _plan(spark, "dedup_exact")
    n_exchange = plan.count("Arguments: hashpartitioning")
    assert n_exchange == 1, plan
    assert "partial_min" in plan and "partial_count" in plan


def test_asof_join_single_shuffle(spark):
    """The as-of join is union-tag-window: exactly ONE exchange on
    user_id (the naive inequality-join plan would be a nested loop)."""
    plan = _plan(spark, "events_asof_join")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_stays_equi(spark):
    """The bucketed range join must lower to hash equi-joins on
    (user_id, bucket) — never a nested-loop over the inequality."""
    plan = _plan(spark, "events_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pricing_summary_pushdown_and_pruning(spark):
    """TPC-H-Q1 shape: shipdate filter reaches the parquet scan and
    only the 7 referenced columns are read."""
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_extendedprice" in read


def test_split_by_hash_is_map_only(spark):
    """The content-hash split must fuse into the scan: zero exchanges."""
    plan = _plan(spark, "docs_split_by_hash")
    assert "Exchange" not in plan


def test_interarrival_single_shuffle(spark):
    """Lag window and per-user agg share one user_id exchange."""
    plan = _plan(spark, "events_interarrival")
    assert plan.count("Arguments: hashpartitioning(user_id") == 1, plan


def test_text_map_only_ops_have_no_exchange(spark):
    """repetition scoring and chunking are map-only passes — any
    Exchange in the plan means an accidental shuffle that would
    dominate at 100 TB scan scale."""
    for name in ("text_repetition", "docs_chunks"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, (name, plan)


def test_skipgram_broadcasts_unigram_tables(spark):
    """Unigram counts are vocabulary-sized — they must broadcast onto
    the pair table, never sort-merge the exploded pair stream."""
    plan = _plan(spark, "text_skipgram_pmi")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_source_mix_partial_aggregation(spark):
    """The (source, lang) rollup must partial-aggregate map-side
    before its shuffle (HashAggregate appears above and below the
    exchange)."""
    plan = _plan(spark, "docs_source_mix")
    assert plan.count("HashAggregate") >= 2, plan


def test_retention_single_wide_stage_per_agg(spark):
    """Retention grid: user-keyed aggs shuffle on user_id once each;
    the final (cohort_day, offset) grid is tiny. No cartesian, no
    sort-merge against the fact."""
    plan = _plan(spark, "events_retention")
    assert "CartesianProduct" not in plan, plan


def test_runtime_bloom_filter_join_pruning(spark):
    """Catalyst injects a runtime bloom filter on the fact side of a
    selective fact-fact join (orders filtered -> lineitem probe). The
    default thresholds (10 GB application-side scan) activate this at
    cluster scale without code changes; here we lower them to prove
    the plan shape at fixture scale."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sf = SF_ORACLE
        orders = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pagerank_no_cartesian_and_bounded_shuffles(spark):
    """Each PageRank superstep is one join + one agg: the plan must
    stay equi-join (no cartesian) and the superstep count is fixed at
    plan time (unrolled, no driver loop actions)."""
    plan = _plan(spark, "pagerank_products")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_join_strategy_hints_are_honored(spark):
    """Join-strategy hints: the planner must honor explicit
    shuffle_hash and merge hints (the per-query override lever when
    AQE's default pick is wrong for a known workload)."""
    from pyspark.sql import functions as F

    sf = SF_ORACLE
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")

    shj = li.join(orders.hint("shuffle_hash"),
                  li.l_orderkey == orders.o_orderkey)
    assert "ShuffledHashJoin" in (
        shj._jdf.queryExecution().executedPlan().toString()
    )

    smj = li.join(orders.hint("merge"),
                  li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in (
        smj._jdf.queryExecution().executedPlan().toString()
    )


def test_sql_exists_decorrelates_to_semi_anti_joins(spark):
    """Correlated EXISTS / NOT EXISTS must be rewritten by Catalyst
    into left-semi + left-anti hash joins — no per-row subquery
    execution survives into the physical plan."""
    plan = _plan(spark, "sql_urgent_only")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "Subquery" not in plan.split("== Physical Plan ==")[-1][:2000], (
        "correlated subquery not decorrelated"
    )


def test_sql_not_in_plans_null_aware_anti_join(spark):
    """The Q16-shaped NOT IN subquery must compile to an anti join
    with the exclusion set broadcast (null-aware build), the DISTINCT
    pair reduction below the part join, and the acctbal predicate
    pushed into the supplier scan."""
    plan = _plan(spark, "sql_part_supplier_stats")
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "LessThan(s_acctbal,0.0)" in plan.replace(" ", ""), plan


def test_sql_scalar_subquery_decorrelates_to_agg_join(spark):
    """The Q17-shaped correlated scalar-aggregate subquery must be
    rewritten into a per-partkey pre-aggregation joined to the probe
    side — no per-row subquery execution in the physical plan."""
    plan = _plan(spark, "sql_small_qty_revenue")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "HashAggregate" in phys, plan
    assert "Subquery" not in phys[:3000], (
        "correlated scalar subquery not decorrelated"
    )


def test_fast_stats_profile_pushes_aggregates_to_scan(spark):
    """Every scan in the footer-stats profiler must carry a non-empty
    PushedAggregation — min/max/count answered from row-group
    metadata (numeric columns only; timestamp_ntz aggregates do not
    push and are deliberately absent)."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        profiling,
    )

    df = profiling.fast_stats_profile(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PushedAggregation: [COUNT") == 2, plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join handling must actually engage at runtime on a
    deliberately skewed join key: the final adaptive plan carries
    SortMergeJoin(skew=true) and more reduce tasks than the static
    partition count. Two operational subtleties this test encodes:
    (1) skew splits are made of per-MAPPER output chunks, so a
    single-mapper upstream (one small input split) can never be split
    — the input is repartitioned to 16 mappers first (at cluster
    scale mappers are plentiful and this is a non-issue); (2) the
    thresholds are lowered to fixture scale, and confs are set AFTER
    the first load_table call because ensure_session_defaults pins
    the engine's AQE defaults on first touch of a session."""
    from pyspark.sql import functions as F

    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    events = load_table(spark, SF_ORACLE, "events")
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        skewed = events.repartition(16).withColumn(
            "user_id",
            F.when(F.col("value") < 30, F.lit(7)).otherwise(
                F.col("user_id")
            ),
        )
        left = skewed.filter(F.col("event_type") != "purchase").select(
            "user_id", "value"
        )
        right = skewed.filter(F.col("event_type") == "purchase").select(
            F.col("user_id"), F.col("value").alias("pv")
        )
        j = left.join(right, "user_id")
        assert j.count() > 0
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rag_pack_broadcasts_queries_no_corpus_preshuffle(spark):
    """RAG retrieval: the |Q| query vectors must broadcast onto the
    chunk table; the corpus-sized relation shuffles only at the
    per-query top-k window (one Exchange on query_id), never before
    scoring."""
    plan = _plan(spark, "rag_context_pack")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_suppliers_waiting_single_fact_agg_no_correlation(spark):
    """The decorrelated Q21 plan must contain no per-row subquery
    artifacts: exactly hash-joins/aggs over lineitem, with the
    supplier dim broadcast."""
    plan = _plan(spark, "suppliers_waiting")
    assert "BroadcastHashJoin" in plan, plan
    # no nested-loop execution of the EXISTS pair
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_incremental_join_view_partial_aggregates(spark):
    """Each delta term must partial-aggregate to the group domain
    before the final merge: HashAggregate count strictly exceeds the
    4 final-merge aggs, and the merge input is a union of agg outputs
    (no re-join of merged partials)."""
    plan = _plan(spark, "incremental_join_view")
    assert plan.count("HashAggregate") >= 8, plan
    assert "Union" in plan, plan


def test_scd2_single_user_exchange(spark):
    """SCD2 build: both windows and the interval agg share ONE
    user_id exchange (plus AQE artifacts at most) — a second data
    exchange would re-shuffle the event log."""
    import re

    plan = _plan(spark, "events_user_scd2")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, (n_exchange, plan)


def test_late_orders_exists_is_semi_join(spark):
    """The Q4-shaped EXISTS must plan as a LEFT SEMI hash join (no
    fan-out, no nested loop), with the 3-month window pushed to the
    orders parquet scan."""
    plan = _plan(spark, "late_order_priorities")
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "PushedFilters" in plan and "o_orderdate" in plan, plan


def test_bloc_trade_prunes_dims_before_facts(spark):
    """The Q7-shaped plan must broadcast the nation dim on both arms
    and carry the bloc filters onto the supplier/customer scans
    (pre-fact pruning), never a cartesian of the two nation aliases."""
    plan = _plan(spark, "bloc_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_important_parts_no_division_no_sort(spark):
    """The Q11-shaped threshold is a cross-multiplied decimal compare:
    the plan must contain no sort (pure hash-agg + broadcast of the
    1-row totals) — a sort would mean a window sneaked in."""
    plan = _plan(spark, "important_parts")
    assert "Sort" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_disjunctive_revenue_prunes_part_scan(spark):
    """The Q19-shaped derived part-side disjunction must reach the
    part scan as a data filter (brand/size appear in the Filter above
    the scan), shrinking the broadcast build side pre-join."""
    plan = _plan(spark, "disjunctive_revenue")
    assert "p_brand" in plan and "p_size" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_excess_suppliers_aggregates_before_semi_join(spark):
    """The Q20-shaped nested IN must run the (suppkey, partkey) agg
    with HAVING before the supplier semi-join — plan order: agg
    appears below the LeftSemi join, and the join is hash-based."""
    plan = _plan(spark, "excess_part_suppliers")
    assert "LeftSemi" in plan, plan
    assert "HashAggregate" in plan, plan


def test_interpolate_single_user_exchange(spark):
    """Both IGNORE-NULLS direction scans must share ONE user_id
    exchange — a second data exchange would re-shuffle the event log
    per direction."""
    import re

    plan = _plan(spark, "events_interpolate")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, (n_exchange, plan)


def test_loo_encoding_broadcasts_sums_no_fact_shuffle(spark):
    """LOO target encoding must be hash-agg + broadcast join + row
    arithmetic: the only productID exchange is the dim-sized sums
    aggregate (the fact rows are never re-shuffled for the encoding),
    and the sums side joins back as a broadcast. (A Window over the
    staged orders view is fine — it belongs to order_number, not to
    the encoding.)"""
    import re

    plan = _plan(spark, "loo_target_encoding")
    n_product_exchanges = len(
        re.findall(r"hashpartitioning\(productID", plan)
    )
    assert n_product_exchanges == 1, (n_product_exchanges, plan)
    assert "BroadcastHashJoin Inner" in plan, plan


def test_quarantine_is_map_only_with_pushdown(spark):
    """The dead-letter split must be a pure map-only plan: no
    Exchange at all, and the rule disjunction pushed to the parquet
    scan."""
    import re

    plan = _plan(spark, "lineitem_quarantine")
    assert not re.search(r"\(\d+\) Exchange", plan), plan
    assert "PushedFilters" in plan or "Filter" in plan, plan


def test_join_strategy_hints_are_honored(spark):
    """The engine's join-strategy escape hatches: each hint must
    materialize as its physical operator (the knob a 100 TB tuning
    session reaches for when AQE's default choice is wrong)."""
    from pyspark.sql import functions as F

    a = spark.range(1000).withColumn("k", F.col("id") % 100)
    b = spark.range(1000).withColumn("k", F.col("id") % 100)

    def phys(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in phys(a.join(b.hint("broadcast"), "k"))
    assert "SortMergeJoin" in phys(a.join(b.hint("merge"), "k"))
    assert "ShuffledHashJoin" in phys(a.join(b.hint("shuffle_hash"), "k"))


def test_q6_predicates_all_reach_the_scan(spark):
    """The Q6-shaped forecast query is the pushdown showcase: the date
    window, discount band, and quantity bound must ALL appear in the
    parquet scan's PushedFilters (a post-scan filter would read every
    row group at 100 TB)."""
    plan = _plan(spark, "forecast_revenue_change")
    import re

    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for frag in ("l_shipdate", "l_discount,0.05", "l_quantity,24"):
        assert frag in pushed, (frag, pushed)


def test_er_matches_intersection_is_aggregated(spark):
    """Since round 10 the fuzzy-match token-overlap count comes from
    the inverted-token self-join + hash aggregation, not a per-pair
    array_intersect scan inside the join condition (which Catalyst
    inlined 4x per candidate pair)."""
    plan = _plan(spark, "docs_er_matches")
    assert "array_intersect" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_pq_candidate_join_broadcasts_lut(spark):
    """PQ ADC scoring joins the corpus codes against the per-query LUT
    — the LUT (|Q|*M*K rows) must broadcast; the codes table must
    never sort-merge."""
    plan = _plan(spark, "ann_pq")
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan


def test_kmeans_lloyd_no_python_and_broadcast_centroids(spark):
    """Deterministic Lloyd's: centroid assignment is the deliberate
    broadcast cross against the k-row centroid table. Since round 10
    the final assignment is a NARROW projection over literal centroid
    arrays (the k x dims matrix is driver-local after every update
    round) — the plan must contain no join, no exchange and no Python
    eval at all; a join or shuffle reappearing here would be the
    regression."""
    plan = _plan(spark, "embedding_kmeans_lloyd")
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_cms_probe_joins_broadcast_sketch(spark):
    """CMS estimation joins candidate probes against the constant-size
    cell table — must be a broadcast join."""
    plan = _plan(spark, "events_cms_hitters")
    assert "BroadcastHashJoin" in plan


def test_decontaminate_broadcasts_bench_postings(spark):
    """Decontamination must broadcast the benchmark postings so the
    corpus side never shuffles for the overlap join."""
    plan = _plan(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_new_wave_has_no_python_udfs(spark):
    """The entire round-2 wave stays JVM-side (no Python eval nodes
    anywhere in the plans)."""
    for name in (
        "embedding_kmeans_lloyd",
        "ann_pq",
        "rag_rerank",
        "embedding_mmr",
        "text_bpe_train",
        "events_kmv_sketch",
        "events_hll_sketch",
        "events_cms_hitters",
        "graph_bfs",
        "graph_lpa",
        "graph_item_similarity",
        "parts_pareto_skyline",
        "parts_trending",
        "events_dp_counts",
        "ml_cart_verified",
        "events_lttb",
        "text_hashed_features",
        "events_markov_predict",
        "text_decontaminate",
        "events_type_corr",
        "events_bitmap_retention",
        "text_textrank",
        "text_heaps_curve",
        "text_zipf_fit",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_sql_udf_stays_codegen(spark):
    """SQL-language scalar UDFs must inline at resolution time: no
    Python eval nodes, and the inlined CASE runs inside the aggregate
    scan stage (one HashAggregate pair, no extra exchange)."""
    plan = _plan(spark, "sql_udf_tiers")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_distribute_sort_by_shapes_layout(spark):
    """DISTRIBUTE BY must hash-exchange on the clustering key and SORT
    BY must sort within partitions WITHOUT a global-order exchange
    (no rangepartitioning in the plan)."""
    plan = _plan(spark, "sql_clustered_orders")
    assert "hashpartitioning(o_orderstatus" in plan, plan
    assert "Sort" in plan
    assert "rangepartitioning" not in plan, plan


def test_apriori_broadcasts_pair_prune(spark):
    """The Apriori candidate stream must prune against the frequent-
    pair list via BROADCAST semi-joins (the list is support-floored,
    hence small) — a sort-merge there would shuffle the occurrence
    stream three times."""
    plan = _plan(spark, "apriori_triples")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "LeftSemi" in plan, plan


def test_bloom_probe_is_broadcast(spark):
    """The set-bit relation (<= m rows) must broadcast to the probe
    side; the probe may never shuffle on the bit key."""
    plan = _plan(spark, "bloom_join_prune")
    assert "BroadcastHashJoin" in plan, plan


def test_pca_gram_is_single_aggregation(spark):
    """The Gram matrix must form via hash-aggregation (map-side
    partials -> dims^2 shuffle), not a window or sort. Asserted on the
    pre-collect Gram builder (`pca_gram`): since round 9 the declared
    embedding_pca query folds the power rounds on the driver over the
    collected dims^2 matrix, so its FINAL plan is a createDataFrame
    scan — the corpus-size-dependent stage whose shape matters at
    scale is the Gram aggregation this builder constructs."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        similarity,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    df = similarity.pca_gram(emb)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "HashAggregate" in plan, plan
    assert "WindowExec" not in plan, plan


def test_nb_consumers_read_staged_scores(spark):
    """Since round 10 the NB quality score table is session-staged per
    docs identity: the seven downstream consumers (gains, AUC,
    calibration, PR, scorecard, ...) must read the materialized table
    (Scan ExistingRDD) and never re-run the train-plus-score pipeline
    — the before-plan inlined the tokenize (25 `lower(text)` sites, 80
    Exchanges) three times per consumer."""
    plan = _plan(spark, "text_nb_gains")
    assert "Scan ExistingRDD" in plan, plan
    assert "lower" not in plan.lower() or "lower(text" not in plan, plan


def test_rouge_bleu_share_staged_ngram_base(spark):
    """ROUGE and BLEU consume the session-staged pair n-gram base —
    each plan must read the checkpoint, not rebuild the
    tokenize/count/overlap pipeline (30 Exchanges -> 4)."""
    for q in ("text_rouge", "text_bleu"):
        plan = _plan(spark, q)
        assert "Scan ExistingRDD" in plan, (q, plan)
        assert plan.count("Exchange") <= 8, (q, plan)


def test_blocked_pair_kernels_join_from_checkpoint(spark):
    """The fuzzy-prefix / phonetic blocked self-joins read the capped
    block table from an explicit-width checkpoint hash-partitioned on
    the join key — the join itself must add no Exchange (10 -> 2), so
    the per-pair levenshtein runs at the spread width instead of the
    AQE-coalesced partitions the block window left behind."""
    for q in ("dedup_fuzzy_prefix", "docs_phonetic_er"):
        plan = _plan(spark, q)
        assert "Scan ExistingRDD" in plan, (q, plan)
        assert plan.count("Exchange") <= 4, (q, plan)


def test_negative_samples_bounded_candidates(spark):
    """Negative sampling must join hash candidates to the product-rank
    dim via broadcast and anti-join positives — never a users x
    products cross join."""
    plan = _plan(spark, "negative_samples")
    assert "CartesianProduct" not in plan, plan
    assert "LeftAnti" in plan, plan
    # the only cross join allowed is the 1-row n_prod broadcast
    # (formatted plans print each node twice: tree line + detail header)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_entry_registries_have_no_duplicate_keys():
    """Dict literals silently drop duplicate keys: a new row reusing an
    existing query name (or a second def of the same q_ function) makes
    one of the two silently unreachable and can pair a query with the
    WRONG oracle (hit twice in round 3 — the attribution and
    hashed-features collisions). Parse the source and fail loudly on
    any duplicate in the `_QUERIES` table or among top-level defs. The
    bench lists name queries by string; a name missing from the table
    would only surface as a KeyError mid-run."""
    import ast
    import collections
    import os

    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tree = ast.parse(open(os.path.join(root, "__spark_entry__.py")).read())
    fns = [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]
    dup_fns = [n for n, c in collections.Counter(fns).items() if c > 1]
    assert not dup_fns, f"duplicate function defs: {dup_fns}"
    (table,) = [
        n.value
        for n in tree.body
        if isinstance(n, ast.AnnAssign) and n.target.id == "_QUERIES"
    ]
    keys = [k.value for k in table.keys]
    dups = [k for k, c in collections.Counter(keys).items() if c > 1]
    assert not dups, f"_QUERIES: duplicate keys {dups}"
    assert keys == list(entrymod.queries())

    bench_scale = ast.parse(
        open(os.path.join(root, "scripts", "bench_scale.py")).read()
    )
    (scale_queries,) = [
        ast.literal_eval(n.value)
        for n in bench_scale.body
        if isinstance(n, ast.Assign) and n.targets[0].id == "QUERIES"
    ]
    for where, names in [
        ("bench.HEADLINE", bench.HEADLINE),
        ("bench.HOT", bench.HOT),
        ("scripts/bench_scale.QUERIES", scale_queries),
    ]:
        missing = sorted(set(names) - set(keys))
        assert not missing, f"{where} names unknown queries: {missing}"


def test_operator_modules_have_no_shadowed_top_level_names():
    """Appending to a large module can silently redefine an earlier
    top-level constant or function — the earlier USER of that name
    then picks up the new value at call time (round-3 hit: a second
    ATTR_WINDOW_MS changed linear_attribution's window from 1h to
    24h). Fail on any duplicate top-level def/constant per module."""
    import ast
    import collections
    import glob
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "big_data_instacart_market_basket_analysis_spark",
    )
    for path in glob.glob(f"{pkg}/**/*.py", recursive=True):
        tree = ast.parse(open(path).read())
        names: list[str] = []
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names.append(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        names.append(t.id)
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                names.append(node.target.id)
        dups = [
            n for n, c in collections.Counter(names).items() if c > 1
        ]
        assert not dups, f"{os.path.basename(path)}: shadowed {dups}"


def test_detector_pair_sets_staged_once(spark):
    """r10 batch 3: the verified MinHash-LSH and SimHash pair sets are
    session-staged per (docs identity, params) — repeated calls on the
    same docs handle must return the SAME staged DataFrame (no
    re-build), and the consumers' plans must read the materialized
    table instead of inlining the band join + verify."""
    from big_data_instacart_market_basket_analysis_spark.operators import (
        dedup as D,
    )
    from big_data_instacart_market_basket_analysis_spark.sources.loaders import (
        load_table,
    )

    docs = load_table(spark, SF_ORACLE, "documents")
    assert D.minhash_lsh_pairs(docs) is D.minhash_lsh_pairs(docs)
    assert D.simhash_pairs(docs) is D.simhash_pairs(docs)
    for q in ("dedup_capture_recapture", "dedup_detector_matrix"):
        plan = _plan(spark, q)
        assert "Scan ExistingRDD" in plan, (q, plan)


def test_rfm_chained_ranks_do_not_nest(spark):
    """r10 batch 3: each global_ranked pass's range-partitioner
    sampling re-executed every preceding pass, leaving 8 copies of the
    pass-1 lineage in the final plan (8 BroadcastNestedLoopJoins of
    the 1-row corpus-max attach, 124 Exchange mentions). With the
    between-pass checkpoints the final plan holds pass 3 only."""
    plan = _plan(spark, "events_rfm_segments")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange") <= 15, plan


def test_suppliers_waiting_single_fact_scan(spark):
    """r10 batch 3: the waiting supplier comes out of the same
    per-order profile agg (max of the R-guarded suppkey), so the plan
    scans lineitem ONCE — before, a second scan fed the probe join."""
    plan = _plan(spark, "suppliers_waiting")
    # lineitem + orders + supplier, one scan each; formatted explain
    # renders every node twice (tree + numbered detail)
    assert plan.count("Scan parquet") <= 6, plan


def test_jce_sketch_is_one_scan_per_side(spark):
    """r10 batch 3: the CMS sketch builds from ONE scan with an
    exploded depth column — before, each of the 3 depths scanned its
    side separately (8 scans total incl. the exact join; now 4)."""
    plan = _plan(spark, "join_cardinality_estimate")
    # 2 sketch scans + 2 exact-join scans, each rendered twice
    assert plan.count("Scan parquet") <= 8, plan


def test_pingpong_state_is_materialized_table(spark):
    """r10 batch 4: _PingPong keeps the per-batch standing state as an
    eagerly localCheckpointed table — read() hands back the same
    materialized frame write() stored, values intact, and final()
    is the standing table the call sites collect from."""
    from big_data_instacart_market_basket_analysis_spark.streaming.events import (
        _PingPong,
    )

    st = _PingPong("/tmp/unused_root")
    assert st.read(spark) is None
    df1 = spark.range(3).toDF("v")
    st.write(df1, 0)
    got = st.read(spark)
    assert got is st.final(spark)
    assert sorted(r["v"] for r in got.collect()) == [0, 1, 2]
    # batch k+1 writes a NEW table; the old one is never aliased
    st.write(got.withColumn("v", got.v + 10), 1)
    assert sorted(r["v"] for r in st.final(spark).collect()) == [10, 11, 12]
