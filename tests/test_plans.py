"""Plan-shape regression tests: pin the physical-plan properties that
matter at 100 TB (pushdown, pruning, join strategy, no accidental
cross products). A wrong plan that still returns right answers passes
the oracle gate — these tests are the scale gate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mqtt_influx_storage_service_spark import cache, plans
from mqtt_influx_storage_service_spark.operators import all_queries

SF = "/root/testdata/sf0.001"


def test_no_cartesian_anywhere(spark):
    """No registered query may plan a CartesianProduct — every non-equi
    join must ride a broadcast (small side) instead."""
    bad = []
    for name, fn in all_queries().items():
        if plans.has_cartesian(fn(spark, SF)):
            bad.append(name)
    assert bad == []


def test_pricing_summary_pushdown_and_pruning(spark):
    df = all_queries()["rel_pricing_summary"](spark, SF)
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed  # date filter reached the parquet scan
    (cols,) = plans.scan_columns(df)
    # 7 of 11 lineitem columns decoded; keys and comment-ish columns pruned
    assert "l_orderkey" not in cols and "l_partkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_returnflag"} <= cols


def test_region_revenue_broadcasts_dimensions(spark):
    df = all_queries()["rel_region_revenue"](spark, SF)
    assert plans.has_broadcast_join(df)
    pushed = " ".join(plans.pushed_filters(df))
    # the region constant filter must reach the region scan
    assert "r_name" in pushed and "ASIA" in pushed


def test_merge_join_is_sort_merge(spark):
    df = all_queries()["rel_merge_join"](spark, SF)
    assert plans.has_sort_merge_join(df)
    assert not plans.has_broadcast_join(df)


def test_query_pushdown_reaches_scan(spark):
    """Queries with a selective leading filter must push it into the
    parquet reader (PushedFilters non-empty)."""
    for name in ["ts_series_scan", "sim_cosine_topk", "rel_topk_orders"]:
        df = all_queries()[name](spark, SF)
        assert plans.pushed_filters(df), f"{name}: no pushed filters"


def test_pushed_filters_are_whole_predicates(spark, tmp_path):
    """Each entry is one whole predicate: the commas and the bracketed
    list inside ``In(a, [1,2])`` stay with it, and a filter pushed after
    an ``In`` list is kept."""
    path = str(tmp_path / "t")
    spark.range(10).selectExpr("cast(id AS string) AS a", "id AS b").write.parquet(path)
    df = spark.read.parquet(path).filter(
        F.col("a").isin("1", "2") & (F.col("b") > 3)
    )
    assert plans.pushed_filters(df) == [
        "IsNotNull(b)", "In(a, [1,2])", "GreaterThan(b,3)"
    ]


def test_manifest_query_prunes_columns(spark):
    """mm_manifest aggregates metadata; the scan must not decode more
    than it needs (documents has 5 columns; text is needed only for
    octet_length of the payload stand-in)."""
    df = all_queries()["mm_manifest"](spark, SF)
    for cols in plans.scan_columns(df):
        assert "lang" not in cols  # unused column pruned


def test_codegen_covers_relational_core(spark):
    """The hot relational pipeline must run inside WholeStageCodegen
    spans (stars in the final adaptive plan)."""
    df = all_queries()["rel_pricing_summary"](spark, SF)
    assert plans.codegen_coverage(df) > 0.2


def test_shipping_priority_broadcasts_customer(spark):
    """TPC-H Q3 shape: customer rides a broadcast; both fact filters
    reach their scans so the fact-fact shuffle carries only
    qualifying rows."""
    df = all_queries()["rel_shipping_priority"](spark, SF)
    assert plans.has_broadcast_join(df)
    pushed = " ".join(plans.pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed


def test_single_exchange_aggregations(spark):
    """Scan→agg queries (incl. the windowed/bucketed time-series forms)
    must shuffle exactly once — partial aggregation happens map-side."""
    qs = all_queries()
    for name in ["ts_bucket_agg", "ts_sliding_agg", "ts_ohlc", "rel_map_funcs"]:
        n = plans.exchange_count(qs[name](spark, SF))
        assert n <= 2, f"{name}: {n} exchanges"


def test_frame_sample_prunes_payload(spark):
    """mm_frame_sample plans only the metadata columns — the payload
    bytes never leave the scan."""
    df = all_queries()["mm_frame_sample"](spark, SF)
    for cols in plans.scan_columns(df):
        assert "text" not in cols and "lang" not in cols


def test_tfidf_corpus_count_rides_the_plan(spark):
    """text_tfidf_top's N must be computed INSIDE the lazy plan (a
    broadcast 1-row aggregate), not an eager driver-side .count() at
    construction time. If N were eager, the plan would carry the
    baked-in literal (500.0 at sf0.001) and no broadcast join for it;
    note every spark.read fires a tiny footer/listing job, so 'no jobs
    at construction' is not assertable directly — the plan shape is."""
    df = all_queries()["text_tfidf_top"](spark, SF)
    text = plans.plan_str(df)
    assert "500.0" not in text  # no baked-in corpus-count literal
    assert "BroadcastNestedLoopJoin" in text  # the 1-row N aggregate joins in


def test_exchange_budget(spark):
    """Shuffle budget per query shape: a scan→agg→sort query needs
    exactly 2 exchanges (agg + sort); a broadcast-dim join adds none."""
    qs = all_queries()
    assert plans.exchange_count(qs["rel_pricing_summary"](spark, SF)) == 2
    # last-value per series: one shuffle (window partition), nothing else
    assert plans.exchange_count(qs["ts_last_value"](spark, SF)) == 1


def test_pipeline_labels_attach_is_shuffle_hash_not_broadcast(spark):
    """pipeline_training_mix attaches dup-group labels via a pinned
    SHUFFLE_HASH join with labels as build side (r9 broadcast census,
    reversing the r5 'labels fit in memory' pin): labels is one row
    per dup-subgraph NODE — corpus-scale on a dup-heavy corpus — so a
    forced broadcast there is the static-BroadcastExchange driver-kill
    class. One corpus shuffle on doc_id is the honest price of a
    per-doc label lookup; the build side stays per-partition-bounded
    at any scale."""
    df = all_queries()["pipeline_training_mix"](spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the LeftOuter label attach is the pinned join; AQE-promoted
        # broadcasts of MEASURED-small propagation intermediates stay
        # allowed (see the dedup_components twin test)
        lo = _left_outer_lines(plan)
        assert "ShuffledHashJoin" in lo, plan
        assert "BroadcastHashJoin" not in lo, plan
        assert not plans.has_cartesian(df)
    finally:
        cache.release(spark)


def test_pack_sequences_windows_are_bounded(spark):
    """pipeline_pack_sequences must plan exactly ONE SinglePartition
    exchange — the ≤PACK_BUCKET-row recursion floor of the prefix sum.
    The doc-level and (when deep) bucket-level cumsums run partitioned;
    a second SinglePartition exchange would mean a corpus-scaled
    relation crossing one task (VERDICT r3 watch-item)."""
    df = all_queries()["pipeline_pack_sequences"](spark, SF)
    assert plans.single_partition_exchanges(df) == 1


def test_prefix_offsets_recursion_correct_and_narrow(spark):
    """The recursive exclusive prefix sum with a tiny cap (forcing two
    recursion levels on 100 keys) must (a) return exactly the
    single-window answer and (b) still plan exactly one SinglePartition
    exchange — the ≤cap-row top of the recursion."""
    from mqtt_influx_storage_service_spark.operators.pipeline import (
        _exclusive_prefix_offsets,
    )

    rel = spark.createDataFrame(
        [(k, k + 1) for k in range(100)], "k long, v long"
    )
    out = _exclusive_prefix_offsets(rel, "k", "v", n_keys=100, cap=7)
    assert plans.single_partition_exchanges(out) == 1
    got = {r.k: r.offset for r in out.collect()}
    acc = 0
    for k in range(100):
        assert got[k] == acc, k
        acc += k + 1


def test_components_assignment_shuffle_hash_no_corpus_broadcast(spark):
    """dedup_components' final corpus assignment is pinned
    SHUFFLE_HASH with the label/size tables as build side (r9
    broadcast census): labels is one row per dup-subgraph NODE —
    corpus-scale on a dup-heavy corpus — so the former explicit
    broadcast was the static-BroadcastExchange driver-kill class. The
    plan must carry the shuffled hash joins and NO BroadcastExchange
    anywhere (the propagation subtree only touches candidate-pair-
    sized tables through shuffles)."""
    df = all_queries()["dedup_components"](spark, SF)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the two LeftOuter assignment joins (labels, then sizes) are
        # the pinned ones; AQE may still promote MEASURED-small
        # intermediates inside the propagation subtree to broadcast at
        # runtime — that is the safe direction and stays allowed
        assert plan.count("ShuffledHashJoin") >= 2, plan
        assert "BroadcastHashJoin" not in _left_outer_lines(plan), plan
    finally:
        cache.release(spark)


def _left_outer_lines(plan: str) -> str:
    return "\n".join(ln for ln in plan.split("\n") if "LeftOuter" in ln)


def test_seasonal_profile_broadcasts_and_single_exchange(spark):
    """The hour-of-day profile collapses to <= |types|*24 rows and must
    come back as a broadcast join — the event stream itself is never
    shuffled (the only exchange feeds the profile aggregate)."""
    df = all_queries()["ts_seasonal_profile"](spark, SF)
    assert plans.has_broadcast_join(df)
    assert plans.exchange_count(df) == 1


def test_new_series_ops_single_exchange(spark):
    """Each per-series window/rollup op shuffles exactly once, on the
    series key — except ts_holt_winters, whose r8 skew guard makes the
    tail selection a DELIBERATE two-phase (exchange on (series, salt),
    then on series over the <= K x SALT survivors): exactly 2."""
    for name in ["ts_cumulative_sum", "ts_counter_rate", "ts_percentile",
                 "ts_spread"]:
        df = all_queries()[name](spark, SF)
        assert plans.exchange_count(df) == 1, name
        assert not plans.has_cartesian(df), name
    hw = all_queries()["ts_holt_winters"](spark, SF)
    assert plans.exchange_count(hw) == 2
    assert not plans.has_cartesian(hw)


def test_bm25_prunes_tokens_with_broadcast_and_stays_partitioned(spark):
    """The retrieval tier's scale contract: BM25's token explode is
    pruned by BROADCAST joins (query terms / df / stats never shuffle
    the corpus side); the only single-partition exchange is the 1-row
    corpus-stats rollup (N, avgdl) — partial-aggregated map-side, one
    row per task crosses it — never a corpus-sized relation."""
    df = all_queries()["text_bm25"](spark, SF)
    assert plans.has_broadcast_join(df)
    assert plans.single_partition_exchanges(df) <= 1


def test_hybrid_rrf_fuses_lists_without_corpus_shuffle(spark):
    """RRF's fusion join runs over the two top-N candidate lists; the
    embedding corpus reaches the plan only through the broadcast
    query-set nested loop (same shape as sim_cosine_topk); the only
    single-partition exchange is BM25's 1-row corpus-stats rollup."""
    df = all_queries()["sim_hybrid_rrf"](spark, SF)
    assert plans.has_broadcast_join(df)
    assert plans.single_partition_exchanges(df) <= 1
    assert not plans.has_cartesian(df)


def test_dup_edge_plan_single_trim_window_no_subtree_duplication(spark, sf_dir):
    """The capped edge builder must cost ONE window pass over ONE
    evaluation of the jaccard subtree: rank + whole-partition min share
    a (partitionBy, orderBy) so Catalyst folds them into a single
    WindowExec, and both symmetrizations are explodes (row duplication)
    rather than self-unions (subtree duplication). 3 Window nodes
    total: the candidate-stage rank window (r10 rescue tier) + the
    exact-dup rep window + the trim window."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        _dup_edges,
    )

    try:
        plan = _dup_edges(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window ") <= 3, plan
        # the shingle explode appears ONCE (the df-capped candidate
        # stage; the verify step reads the shingle ARRAYS, no second
        # explode): the two symmetrizations are explodes (row
        # duplication), so the expensive jaccard subtree is not copied
        # into the plan. (the single legitimate Union is jac ∪ exact —
        # two DIFFERENT legs, one evaluation each; a self-union
        # formulation measured 4 copies / 6 Window nodes here.)
        assert plan.count("explode(shingles") == 1, plan
    finally:
        cache.release(spark)


def test_shingle_candidate_plan_group_limit_two_exchanges(spark, sf_dir):
    """The r10 rescue-tier candidate stage's scale contract, pinned:

    - the rank <= CAP+1 filter is pushed INTO the window as a
      WindowGroupLimit (partial + final), so an over-cap bucket is
      truncated to its 65 smallest-by-hash members on the MAP side —
      no unbounded collect_list buffer and no over-cap bucket ever
      crosses the wire whole (ADVICE r9: the collect_list
      materialization hazard);
    - exactly TWO hash exchanges end-to-end (shingle, pair): the
      bucket collect reuses the window's shingle partitioning, and the
      pair gate aggregates with map-side partials;
    - no BroadcastExchange anywhere (corpus-sized relations must never
      ride a static broadcast — the r9 census class)."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        _shingle_candidates,
    )

    try:
        plan = (
            _shingle_candidates(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("WindowGroupLimit") == 2, plan  # partial + final
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "BroadcastExchange" not in plan, plan
        # map-side partial gate aggregation before the pair exchange
        assert "partial_max(under_cap" in plan, plan
    finally:
        cache.release(spark)


def test_bucketed_join_eliminates_the_shuffle(spark, tmp_path, sf_dir):
    """The 100 TB fact-fact story SCALE.md sells: lineitem ⋈ orders
    bucketed by the join key needs NO exchange on either side — the
    co-located join a warehouse deployment gets by writing both tables
    bucketed. Mechanically checks the 'bucket-ready' claim instead of
    asserting it in prose."""
    from mqtt_influx_storage_service_spark.sources import load_table

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # external tables via explicit path — warehouse.dir is static conf
    warehouse = str(tmp_path / "wh")
    try:
        (
            load_table(spark, sf_dir, "lineitem")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{warehouse}/li_b")
            .mode("overwrite")
            .saveAsTable("li_b")
        )
        (
            load_table(spark, sf_dir, "orders")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{warehouse}/ord_b")
            .mode("overwrite")
            .saveAsTable("ord_b")
        )
        j = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        # sanity: the join actually returns the full match set
        want = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == want > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_new_tpch_shapes_join_strategy(spark):
    """Q19's OR-residual must stay a broadcast hash join on the part
    key (never a BNLJ/cartesian); Q14 broadcasts part and pushes the
    shipdate band to the lineitem scan."""
    qs = all_queries()
    df = qs["rel_disjunctive_revenue"](spark, SF)
    assert plans.has_broadcast_join(df)
    assert not plans.has_cartesian(df)
    df = qs["rel_promo_revenue"](spark, SF)
    assert plans.has_broadcast_join(df)
    assert "l_shipdate" in " ".join(plans.pushed_filters(df))


def test_final_tpch_shapes_plan_discipline(spark):
    """The suite-completing Q2/Q9/Q16/Q20 shapes: Q2's correlated MIN
    decorrelates into ONE Window over the supply catalog (no second
    aggregate + join-back pass over the same relation); Q16's NOT IN
    lowers to a broadcast LEFT ANTI join; Q9/Q20 broadcast every
    dimension with lineitem(⋈orders) as the only shuffled fact. None
    may plan a cartesian."""
    qs = all_queries()

    q2 = qs["rel_min_cost_supplier"](spark, SF)
    p2 = plans.plan_str(q2)
    assert "Window" in p2
    assert plans.has_broadcast_join(q2)
    assert not plans.has_cartesian(q2)
    # one shuffle for the pair groupBy, one for the window repartition
    # by part, one for the final sort — a join-back formulation would
    # add a second aggregate subtree over `supply`.
    assert p2.count("HashAggregate") <= 4

    q9 = qs["rel_product_profit"](spark, SF)
    assert plans.has_broadcast_join(q9)
    assert not plans.has_cartesian(q9)
    assert any("p_name" in f for f in plans.pushed_filters(q9))

    q16 = qs["rel_supplier_part_types"](spark, SF)
    p16 = plans.plan_str(q16)
    assert "LeftAnti" in p16 and "BroadcastHashJoin" in p16
    assert not plans.has_cartesian(q16)

    q20 = qs["rel_excess_supply"](spark, SF)
    p20 = plans.plan_str(q20)
    assert "LeftSemi" in p20
    assert not plans.has_cartesian(q20)
    assert "Window" not in p20


def test_min_cost_supplier_rows_are_per_part_minima(spark):
    """Every emitted Q2 row's cost equals the minimum cost among ALL
    emitted rows for that part (the window-decorrelation semantics),
    and ties surface as multiple rows rather than an arbitrary pick."""
    df = all_queries()["rel_min_cost_supplier"](spark, SF)
    rows = df.collect()
    assert rows
    by_part = {}
    for r in rows:
        by_part.setdefault(r.p_partkey, []).append(r.cost_micro)
    for costs in by_part.values():
        assert all(c == costs[0] for c in costs)


def test_topk_entries_use_take_ordered_not_global_sort(spark):
    """Q10's top-20 and DSIR's Gumbel-top-k must plan as
    TakeOrderedAndProject (per-partition heaps + k-row merge) — a
    global Sort before a limit would be the 100-TB scale-killer."""
    for name in ("rel_returned_customers", "pipeline_dsir_resample"):
        df = all_queries()[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, name


def test_cardinality_estimate_skips_the_distinct_shuffle(spark):
    """The InfluxQL cardinality estimate/exact split's scale contract:
    plain ``SHOW SERIES CARDINALITY`` lowers onto approx_count_distinct
    — HLL++ sketches partial-merged map-side, so the ONLY exchange is
    the one-row SinglePartition merge. The EXACT form pays the full
    distinct hashpartitioning exchange on top. At 100 TB that is the
    difference between one scan and a corpus-wide key shuffle."""
    from mqtt_influx_storage_service_spark.functions.influxql import influxql

    est = influxql(spark, SF, "SHOW SERIES CARDINALITY")
    exact = influxql(spark, SF, "SHOW SERIES EXACT CARDINALITY")
    assert plans.exchange_count(est) == 1
    assert plans.single_partition_exchanges(est) == 1
    assert "approx_count_distinct" in plans.plan_str(est, "simple")
    assert plans.exchange_count(exact) == 2  # distinct shuffle + merge


def test_r15_light_mm_kernels_stay_shuffle_free(spark):
    """r15 (VERDICT r14 #3): the two LIGHT media kernels regressed ~30%
    at fixture scale under the r14 blanket rebalance — the round-robin
    shuffle cost more than the stub kernels' parallelism bought
    (measured A/B, OPTIMIZATION_r15.md). Their fixture plans must stay
    shuffle-free; the heavy blockhash kernel keeps its rebalance."""
    qs = all_queries()
    for name in ("mm_extract_features", "mm_frame_sample"):
        df = qs[name](spark, SF)
        n = plans.exchange_count(df)
        assert n == 0, f"{name}: {n} exchanges (expected shuffle-free)"
    # the heavy kernel keeps the round-robin at fixture scale
    p = plans.plan_str(all_queries()["mm_dedup_perceptual"](spark, SF))
    assert "RoundRobinPartitioning" in p


def test_r14_single_pass_window_rewrites_plan_shape(spark):
    """r14 optimization pins: the subquery decorrelations that used a
    groupBy + join-back (two fact scans, two fact shuffles) now ride a
    window over the key the plan already exchanges, and the bigram LM
    explodes the corpus exactly once. A second Scan/Generate sneaking
    back in is the 100-TB regression these guard."""
    qs = all_queries()

    # Q21/Q17 shapes: ONE lineitem scan, counts via Window, no Expand
    for name in ("rel_waiting_supplier", "rel_small_qty_revenue"):
        p = plans.plan_str(qs[name](spark, SF))
        assert p.count("lineitem.parquet") == 1, name
        assert "Window" in p, name
        assert "Expand" not in p, name

    # Q16: both disqualification filters sit BELOW the pair distinct
    # (anti on suppliers + semi on qualifying part keys), so the only
    # fact exchange carries pre-filtered rows.
    p16 = plans.plan_str(qs["rel_supplier_part_types"](spark, SF))
    assert "LeftAnti" in p16 and "LeftSemi" in p16

    # bigram LM: one corpus explode; corpus counts attach via a window
    # over tf, never a second Generate or a model broadcast join.
    lm = qs["text_bigram_lm"](spark, SF)
    p = plans.plan_str(lm)
    import re

    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 1
    assert "Window" in p
