"""Physical-plan quality gates (the 100 TB checklist, SURVEY §4).

Correctness says the operators compute the right answer; these tests pin
that Catalyst produces the plans the docstrings promise — pushed filters,
pruned schemas, broadcast joins, top-k heaps, window group limits, and
no Python in JVM-only hot paths. A regression here is a silent 10-100×
cost at scale even though every value stays correct.
"""

from __future__ import annotations

import pytest

from vector_ai_npm_spark import registry


def _plan(spark, name, sf_dir) -> str:
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    df = registry.run(name, spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name, sf_dir) -> str:
    df = registry.run(name, spark, sf_dir)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_container_audits_spread_matches_table(spark, sf_smoke):
    """Each container audit's plan carries a RoundRobin exchange exactly
    when its AUDITS row says spread (explain only, nothing runs).  exif
    and webp stay unspread: the measured counter-case noted at AUDITS."""
    from vector_ai_npm_spark.multimodal.audits import AUDITS

    for name, (_row, _schema, spread) in AUDITS.items():
        plan = _plan(spark, name, sf_smoke)
        assert ("RoundRobinPartitioning" in plan) == spread, f"{name}:\n{plan}"
    unspread = {name for name, (_, _, spread) in AUDITS.items() if not spread}
    assert unspread == {"multimodal_exif_orientation", "multimodal_webp_dims"}


def test_filter_project_pushes_predicates_and_prunes(spark, sf_smoke):
    plan = _plan(spark, "filter_project", sf_smoke)
    assert "PushedFilters: [" in plan
    for c in ("l_discount", "l_quantity"):
        assert any(
            f"{op}({c}" in plan for op in ("GreaterThan", "LessThan", "GreaterThanOrEqual")
        ), f"predicate on {c} not pushed:\n{plan}"
    # column pruning: unused wide columns never reach the scan
    assert "l_comment" not in plan
    assert "ReadSchema" in plan
    assert "l_returnflag" not in plan.split("ReadSchema")[1]


def test_join_broadcast_is_broadcast(spark, sf_smoke):
    plan = _plan(spark, "join_broadcast", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_anti_join_types(spark, sf_smoke):
    plan = _plan(spark, "join_semi_anti", sf_smoke)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_topk_uses_take_ordered(spark, sf_smoke):
    plan = _plan(spark, "topk_orders", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    # no global Sort node — the heap shape, not a full sort
    assert "Sort [" not in plan


def test_agg_groupby_has_partial_aggregation(spark, sf_smoke):
    plan = _plan(spark, "agg_groupby", sf_smoke)
    # partial + final hash aggregate = map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_window_rank_group_limit_pushdown(spark, sf_smoke):
    plan = _plan(spark, "window_rank", sf_smoke)
    assert "WindowGroupLimit" in plan, (
        "rn<=3 should push a per-partition top-k below the window:\n" + plan
    )


def test_similarity_search_is_jvm_only(spark, sf_smoke):
    plan = _plan(spark, "similarity_search_topk", sf_smoke)
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan, f"cosine top-k must stay JVM-side, found {py}"
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_not_cartesian(spark, sf_smoke):
    plan = _plan(spark, "join_range", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_has_no_cross_product(spark, sf_smoke):
    plan = _plan(spark, "dedup_ngram_jaccard", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_ann_bands_on_collapsed_reps(spark, sf_smoke):
    """The LSH route must band CANONICAL REPRESENTATIVES, not raw rows
    (r5 exact-dup collapse): the plan's band self-join sides sit above
    the collapse Aggregate (xxhash64 class keys), and nothing in the
    plan is a cross product. A regression to raw banding re-introduces
    the B²-candidates-per-duplicate-class hot spot."""
    plan = _plan(spark, "dedup_embedding_ann", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan, "collapse class keys missing from plan"
    # the collapse is a hash aggregate keyed on the vector-hash classes
    assert "min_by" in plan.lower(), plan[:2000]


def test_funnel_is_single_shuffle(spark, sf_smoke):
    """All three funnel stages must ride ONE user-keyed exchange
    (consecutive Window nodes over the same partitioning) and one scan —
    stage count must not multiply shuffles of the event feed."""
    plan = _plan(spark, "funnel_steps", sf_smoke)
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]


def test_analytics_ops_shuffle_budget(spark, sf_smoke):
    """The event-analytics family must stay within its documented
    shuffle budget and keep the hot path JVM-only (no Python eval)."""
    budgets = {  # name -> (max exchanges, max scans)
        "cohort_retention": (2, 1),
        "events_path_ngrams": (2, 1),
        "agg_mode_per_key": (2, 1),
        "window_anomaly_zscore": (1, 1),
    }
    for name, (max_ex, max_scan) in budgets.items():
        plan = _plan(spark, name, sf_smoke)
        assert plan.count("Exchange") <= max_ex, f"{name}:\n{plan[:2000]}"
        assert plan.count("Scan parquet") <= max_scan, f"{name}:\n{plan[:2000]}"
        assert "EvalPython" not in plan, f"{name} fell off the JVM:\n{plan[:2000]}"


def test_mode_per_key_uses_window_group_limit(spark, sf_smoke):
    """The rn=1 filter must plan as WindowGroupLimit (running top-1),
    not a full per-user sort + filter."""
    plan = _plan(spark, "agg_mode_per_key", sf_smoke)
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_histogram_broadcasts_scalar_stats(spark, sf_smoke):
    """The min/max statistic must reach the binning pass as a broadcast
    of the 1-row aggregate (BroadcastNestedLoopJoin), never a driver
    collect baked into the plan."""
    plan = _plan(spark, "agg_histogram", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_concurrency_sweep_avoids_global_sort(spark, sf_smoke):
    """The sweep line must be the two-level prefix sum: the event-scale
    running sum partitions by day (parallel), and the ONLY
    single-partition exchange is the O(days) carry aggregate. A global
    ORDER BY over the points would show a second SinglePartition."""
    plan = _plan(spark, "concurrency_sweep", sf_smoke)
    assert plan.count("Exchange SinglePartition") == 1, plan[:3000]
    assert plan.count("Scan parquet") <= 2, plan[:2000]


def test_bloom_filtered_join_injects_runtime_filter(spark, sf_smoke):
    """Under the tuned confs the fact scan must carry the runtime
    bloom_filter_might_contain predicate built from the dim side."""
    from vector_ai_npm_spark.operators.analytics_ops import (
        _BLOOM_CONFS,
        bloom_filtered_join,
    )

    old = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        df = bloom_filtered_join(spark, sf_smoke)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert "might_contain" in plan.lower(), plan[:3000]


def test_join_partition_pruned_uses_dpp(spark, sf_smoke):
    """The fact scan must carry a dynamicpruning PartitionFilter derived
    from the dim side — the runtime partition-prune that makes the
    100 TB star join read only matching directories."""
    plan = _plan(spark, "join_partition_pruned", sf_smoke)
    assert "dynamicpruning" in plan, plan[:3000]


def test_profile_table_is_single_scan(spark, sf_smoke):
    """The whole per-column profile must come from ONE scan of the
    table (Expand fans out columns; it must not re-scan per column)."""
    plan = _plan(spark, "profile_table", sf_smoke)
    assert plan.count("Scan parquet") == 1, plan[:2000]


def test_multires_rollup_is_one_pass(spark, sf_smoke):
    """Three time resolutions must come from ONE scan + ONE Expand +
    ONE shuffle (the GROUPING SETS shape) — not three scans of the
    fact feed."""
    plan = _plan(spark, "rollup_time_multires", sf_smoke)
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert plan.count("Expand") == 1, plan[:2000]


def test_rarity_score_tokenizes_once(spark, sf_smoke):
    """text_rarity_score must carry ONE Generate (the TF-IDF lesson): df
    comes from a window over the tf aggregate, never a second tokenize
    of the raw corpus."""
    plan = _plan(spark, "text_rarity_score", sf_smoke)
    assert plan.count("Generate") == 1, plan[:2000]


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_smoke):
    """The corpus side must stream through a BROADCAST semi join on the
    gram key — shuffling 100 TB of corpus grams by gram would be the
    wrong plan; the benchmark set is eval-suite-sized by construction."""
    plan = _plan(spark, "curate_decontaminate", sf_smoke)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_window_no_join_explosion(spark, sf_smoke):
    # the union-and-carry-forward shape: one Window, zero joins
    plan = _plan(spark, "join_asof", sf_smoke)
    assert "Window" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, f"as-of should not join, found {j}:\n{plan}"


def test_chunking_is_jvm_only(spark, sf_smoke):
    plan = _plan(spark, "chunk_split_headers", sf_smoke)
    for py in ("BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_scan_reads_only_needed_columns_for_topk(spark, sf_smoke):
    plan = _plan(spark, "topk_orders", sf_smoke)
    read = plan.split("ReadSchema")[1]
    assert "o_orderpriority" not in read and "o_orderdate" not in read


def test_bucketed_join_has_no_shuffle(spark, sf_smoke):
    # At fixture scale the planner rightly auto-broadcasts the small side;
    # disable that to expose the bucketed path a fact-fact join would take.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "join_bucketed", sf_smoke)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan, plan[:800]
    # both sides read pre-bucketed files; NOTHING shuffles — not the join,
    # not the groupBy on the same key (partitioning is preserved through)
    assert "Exchange hashpartitioning" not in plan, (
        "bucketed join should not shuffle:\n" + plan[:2500]
    )
    assert plan.count("Bucketed: true") == 2


def test_salted_join_spreads_keys(spark, sf_smoke):
    plan = _plan(spark, "join_skew_salted", sf_smoke)
    # join keys must include the salt column → partitioning spreads hot keys
    assert "salt" in plan.split("SortMergeJoin")[0] or "salt" in plan


def test_partitioned_sink_enables_partition_pruning(spark, sf_smoke, tmp_path):
    """The B2 layout (partitionBy year) must turn a year filter into
    PartitionFilters at the scan — zero data files read for other years."""
    from pyspark.sql import functions as F

    from vector_ai_npm_spark.io.sources import load_table

    path = str(tmp_path / "orders_by_year")
    o = load_table(spark, sf_smoke, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    o.write.mode("overwrite").partitionBy("order_year").parquet(path)
    rt = spark.read.parquet(path).where(F.col("order_year") == 1995)
    plan = rt._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "order_year" in plan.split("PartitionFilters")[1].split("]")[0]
    # count only 1995 rows, matching a post-filter on the unpartitioned table
    expect = o.where(F.col("order_year") == 1995).count()
    assert rt.count() == expect


def test_orc_scan_pushes_filters(spark, sf_smoke):
    """The ORC reader must keep the parquet scan contract: the p_size
    predicate reaches PushedFilters on the ORC relation."""
    plan = _plan(spark, "scan_orc", sf_smoke)
    orc_scan = plan.split("FileScan orc")[1].split("FileScan")[0]
    assert "GreaterThanOrEqual(p_size,10)" in orc_scan, orc_scan


def test_pivot_is_single_pass(spark, sf_smoke):
    """Explicit pivot values: no extra distinct-values job — the plan is
    one aggregate over one scan (no second FileScan of orders)."""
    plan = _plan(spark, "pivot_orders", sf_smoke)
    assert plan.count("FileScan") == 1, plan


def test_unpivot_is_expand_not_union(spark, sf_smoke):
    """DataFrame.unpivot compiles to a single Expand over ONE scan, not
    a 3-way union of scans."""
    plan = _plan(spark, "unpivot_lineitem", sf_smoke)
    assert "Expand" in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_grouping_sets_single_shuffle(spark, sf_smoke):
    """GROUPING SETS = Expand + ONE hash aggregate pair (partial+final),
    one shuffle — not one aggregation per set."""
    plan = _plan(spark, "agg_grouping_sets", sf_smoke)
    assert "Expand" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tfidf_tokenizes_once(spark, sf_smoke):
    """df derived via window (not a re-aggregated branch): the corpus
    must be tokenized exactly once — one Generate in the whole plan."""
    plan = _plan(spark, "text_tfidf", sf_smoke)
    assert plan.count("Generate") == 1, plan


def test_tpch_q9_broadcasts_dims_no_cartesian(spark, sf_smoke):
    """The widest join in the sweep: the filtered part list must arrive
    as a broadcast build side, the derived partsupp must carry map-side
    partial aggregation, and nothing may degenerate to a cross product."""
    plan = _plan(spark, "tpch_q9", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # derived partsupp: partial + final HashAggregate around its exchange
    assert plan.count("HashAggregate") >= 4, plan


def test_layout_cluster_scan_pushes_range_filter(spark, sf_smoke):
    """The read back over the clustered copy must push the shipdate range
    to the parquet scan — that is what turns the sorted layout into
    file/row-group skipping at scale."""
    plan = _plan(spark, "layout_cluster_range", sf_smoke)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1], plan


def test_runtime_bloom_filter_reduces_probe_side(spark, sf_smoke):
    """Semi-join reduction: with runtime bloom filters enabled and the
    probe-size gate lowered (fixtures are far under the 10 GB default),
    a selective build side must inject might_contain on the fact scan."""
    from vector_ai_npm_spark.io.sources import load_table
    from vector_ai_npm_spark.session import enable_runtime_semijoin_reduction

    from pyspark.sql import functions as F

    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_gate = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        enable_runtime_semijoin_reduction(spark)
        o = load_table(spark, sf_smoke, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_smoke, "lineitem")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_gate,
        )


def test_skyline_equals_bruteforce(spark, sf_smoke):
    """The two-level prefix decomposition must equal the O(n²)
    dominance definition exactly (q beats p iff price ≤ AND size ≥,
    strict somewhere; equal points keep the smallest key)."""
    from vector_ai_npm_spark import registry
    from vector_ai_npm_spark.io.sources import load_table

    rows = load_table(spark, sf_smoke, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    ).collect()
    pts = [(r.p_partkey, r.p_retailprice, r.p_size) for r in rows]

    def dominated(p):
        for q in pts:
            if q[0] == p[0]:
                continue
            if q[1] <= p[1] and q[2] >= p[2] and (
                q[1] < p[1] or q[2] > p[2]
                or (q[1] == p[1] and q[2] == p[2] and q[0] < p[0])
            ):
                return True
        return False

    want = sorted(p[0] for p in pts if not dominated(p))
    got = sorted(
        r.p_partkey
        for r in registry.run("agg_skyline", spark, sf_smoke).collect()
    )
    assert got == want


def test_two_level_ntile_plans_bucket_the_sort(spark, sf_smoke):
    """events_rfm / agg_histogram_equidepth / orders_pareto_abc promise
    the two-level rank decomposition: the big frame shuffles by the
    derived _bucket key (bounded partitions), never through one global
    range/single partition. A regression to a plain global ntile /
    ORDER BY window would drop the bucket exchange from the plan."""
    for name in ("events_rfm", "agg_histogram_equidepth", "orders_pareto_abc"):
        plan = _plan(spark, name, sf_smoke)
        assert "hashpartitioning(_bucket" in plan, (
            f"{name}: bucket exchange missing — did the two-level "
            f"decomposition regress to a global window?\n{plan[:2000]}"
        )
        assert "rangepartitioning" not in plan, (
            f"{name}: global sort appeared\n{plan[:2000]}"
        )
        assert "CartesianProduct" not in plan


def test_dq_checks_scans_each_fact_once(spark, sf_smoke):
    """The DQ suite's contract is one scan per fact table for ALL its
    checks (FK probes ride the same scan): customer×2 + lineitem×1 +
    orders×2 = exactly 5 parquet scans."""
    plan = _plan(spark, "dq_checks", sf_smoke)
    assert plan.count("Scan parquet") == 5, plan[:3000]


def test_stream_topk_rank_is_window_partitioned(spark, sf_smoke):
    """The top-k rank must run per window_start (bounded frames), not as
    a global unpartitioned window."""
    plan = _plan(spark, "stream_topk", sf_smoke)
    assert "hashpartitioning(window_start" in plan, plan[:2000]


def test_basket_and_graph_builds_have_no_cross_product(spark, sf_smoke):
    for name in ("basket_lift", "graph_degree", "graph_jaccard_neighbors"):
        plan = _plan(spark, name, sf_smoke)
        assert "CartesianProduct" not in plan, name
        # only the broadcast of 1-row aggregates (lift's basket count)
        assert plan.count("BroadcastNestedLoopJoin") <= 1, name


def test_round6_new_query_plans(spark, sf_smoke):
    """Plan gates for the round-6 additions.

    * jaccard_cap_recall / graph_jaccard_neighbors: the capped 2-path
      self-join must stay an equi-join on the shared-neighbor key —
      no CartesianProduct even with the center filter in the plan.
    * stream_static_enrich: the static dim attaches via broadcast hash
      join (the stateless stream-static shape), never a shuffle join.
    * curate_dsir_masses: both 256-row bucket marginals broadcast back
      to the doc-bucket frame — the corpus-side never reshuffles for
      the join.
    * mine_hard_negatives: broadcast NLJ by contract (anchor batch is
      small), and the label-exclusion predicate sits in the join/filter
      stage, not after the window.
    * udf_mapinarrow: the Python stage is Arrow-native (ArrowEvalPython
      / MapInArrow, no pandas FlatMapGroups), fused before one keyed
      aggregate.
    """
    plan = _plan(spark, "jaccard_cap_recall", sf_smoke)
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "graph_jaccard_neighbors", sf_smoke)
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "stream_static_enrich", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(spark, "curate_dsir_masses", sf_smoke)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan

    plan = _plan(spark, "mine_hard_negatives", sf_smoke)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "udf_mapinarrow", sf_smoke)
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_semantic_dedup_and_lm_plans(spark, sf_smoke):
    """Plan gates for the round-6 third-wave queries.

    * dedup_semantic: the pair join is an equi-join keyed on
      cluster_id — never a corpus-wide cross product; assignment is
      map-only (no join against a centroid table).
    * lm_bigram_score: count frames join on bigram keys (equi), V
      attaches as a broadcast scalar; no cartesian anywhere.
    * retrieval_eval_ndcg: the 3-row query batch broadcasts (NLJ by
      contract, like join_similarity); ranking is one window.
    * tokenizer_fertility: map-only + single hash aggregate — no
      joins, no window, and the scan reads only the needed columns.
    """
    plan = _plan(spark, "dedup_semantic", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(spark, "lm_bigram_score", sf_smoke)
    assert "CartesianProduct" not in plan
    # V is a 1-row scalar: broadcast NLJ is the sanctioned scalar shape
    assert plan.count("BroadcastNestedLoopJoin") <= 1

    plan = _plan(spark, "retrieval_eval_ndcg", sf_smoke)
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "tokenizer_fertility", sf_smoke)
    assert "Join" not in plan
    assert "ReadSchema" in plan and "text" in plan and "lang" in plan


def test_latest_wave_plans(spark, sf_smoke):
    """Plan gates for the LPA/RRF/experimentation wave.

    * graph_community_lpa: every round's neighbor-label spread is an
      equi-join on the neighbor key and the argmax is a
      WindowGroupLimit — no cartesian anywhere in the 3-round unroll.
    * retrieval_fusion_rrf: the query batch attaches by broadcast NLJ
      (contract: k queries), and the fuse of the two k-row rankings is
      never a cross product.
    * sample_stratified_k: the per-stratum top-k is a WindowGroupLimit
      (rank state k rows per stratum), not a global sort.
    * ab_test_summary: pure two-level aggregate — no join in the plan;
      the arm hash rides the event scan.
    * curate_winsorize: the |event_type|-row stats frame comes back as
      a broadcast hash join; the fact side never sort-merge shuffles.
    * text_distinct_ngrams: unigram and bigram branches are join-free
      scans; the only wide ops are the distinct aggregates.
    * multimodal_dhash_pairs: banded Hamming candidates pair up via
      equi-join on the band key — no all-pairs product.
    """
    plan = _plan(spark, "graph_community_lpa", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan

    plan = _plan(spark, "retrieval_fusion_rrf", sf_smoke)
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "sample_stratified_k", sf_smoke)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "ab_test_summary", sf_smoke)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final at both levels

    plan = _plan(spark, "curate_winsorize", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _plan(spark, "text_distinct_ngrams", sf_smoke)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "multimodal_dhash_pairs", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wave8_plans(spark, sf_smoke):
    """Plan gates for the KS/line-dedup/BM25 wave.

    * drift_ks_arms: per-value counts + two-level prefix windows; the
      only NLJs are the sanctioned broadcast scalar frames (carry,
      n-pair) — never a data-sized cross product.
    * curate_line_dedup: the boilerplate set attaches as a BROADCAST
      left-outer build side (corpus text never shuffles for
      membership), the frequency count runs over hashes, and the
      corpus tokenizes exactly twice (frequency + reassembly legs —
      the totals fold into the reassembly aggregate).
    * text_bm25: the corpus tokenizes exactly ONCE — df/dl are windows
      over the doc-term matrix, not re-aggregated branches that would
      duplicate the Generate subtree (the text_tfidf lesson); the query
      batch and totals attach as broadcasts.
    * text_bm25_topk: per-query top-k is a WindowGroupLimit, not a
      global sort.
    """
    plan = _plan(spark, "drift_ks_arms", sf_smoke)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2

    plan = _plan(spark, "curate_line_dedup", sf_smoke)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Generate") == 2  # frequency + reassembly tokenizes

    plan = _plan(spark, "text_bm25", sf_smoke)
    assert plan.count("Generate") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "text_bm25_topk", sf_smoke)
    assert "WindowGroupLimit" in plan
    assert plan.count("Generate") == 1


def test_wave9_plans(spark, sf_smoke):
    """Plan gates for the pass@k / ppl-bucket / l-diversity wave.

    * eval_pass_at_k: join-free — one task aggregate, a 2-element
      explode lattice, a 2-row rollup.
    * curate_ppl_buckets: the per-language rank must be the grouped
      two-level decomposition — every Window sort is partitioned (no
      single-partition global sort), stats and carry attach as
      broadcasts.
    * dq_l_diversity: one scan, exact COUNT DISTINCT as the two-phase
      (cell,user) pre-dedup aggregate — no join, no window, no Expand.
    """
    plan = _plan(spark, "eval_pass_at_k", sf_smoke)
    assert "Join" not in plan
    assert "Generate" in plan  # the k lattice explode

    plan = _plan(spark, "curate_ppl_buckets", sf_smoke)
    assert "CartesianProduct" not in plan
    # stats + carry attach as broadcasts (the grouped two-level rank)
    assert plan.count("BroadcastHashJoin") >= 2

    plan = _plan(spark, "dq_l_diversity", sf_smoke)
    assert "Join" not in plan
    assert "partial_count(distinct" in plan  # two-phase exact distinct
    assert "Window" not in plan


def test_wave10_plans(spark, sf_smoke):
    """Plan gates for the growth/TWAP/freshness wave.

    * events_growth_accounting: both the category rollup and the churn
      leg reuse ONE user-keyed window shuffle over the distinct
      (user, day) frame; the watermark is a broadcast scalar and the
      final day join is tiny.
    * window_twap: one (user, day)-keyed window then the aggregate on
      the same key — Catalyst must not insert a second fact exchange
      between them.
    * dq_freshness: aggregate + broadcast scalar, no data-sized join.
    """
    plan = _plan(spark, "events_growth_accounting", sf_smoke)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # scalar watermark legs

    plan = _plan(spark, "window_twap", sf_smoke)
    assert "Join" not in plan
    # window and aggregate share the (user_id, day) partitioning: the
    # plan carries exactly one fact exchange plus the final agg exchange
    assert plan.count("Exchange") <= 3

    plan = _plan(spark, "dq_freshness", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_trend_ols_plan(spark, sf_smoke):
    """OLS is two stacked aggregates — no join, no window, one scan."""
    plan = _plan(spark, "events_trend_ols", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 1


# ---------------------------------------------------------------------------
# round-7 gate: every unpartitioned Window must ride a reduced frame
# ---------------------------------------------------------------------------

_REDUCERS = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}

# leaves whose row count is a COMPILE-TIME literal, independent of any
# table (spark.range(k) domain lattices, VALUES frames, one-row
# relations) — bounded by construction, unlike a scan leaf
_BOUNDED_LEAVES = {"Range", "LocalRelation", "OneRowRelation"}


def _jseq(s):
    return [s.apply(i) for i in range(s.size())]


def _subtree_bounded(node) -> bool:
    """True if this logical subtree provably yields a reduced frame:
    every path to a leaf passes through an Aggregate / Limit /
    Deduplicate, or ends at a literal-sized leaf.  A Filter does NOT
    count (selectivity is data, not structure); for binary nodes every
    branch must be bounded."""
    if node.nodeName() in _REDUCERS:
        return True
    ch = _jseq(node.children())
    if not ch:
        return node.nodeName() in _BOUNDED_LEAVES
    return all(_subtree_bounded(c) for c in ch)


def _unbounded_unpartitioned_windows(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    bad: list[str] = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            child = _jseq(node.children())[0]
            if not _subtree_bounded(child):
                bad.append(node.simpleString(200))
        for c in _jseq(node.children()):
            walk(c)

    walk(plan)
    return bad


def test_no_corpus_scale_unpartitioned_windows(spark, sf_smoke):
    """Registry-wide structural gate (round-7 verdict ask #5): an
    unpartitioned Window moves its whole input into ONE task, so every
    such window in every registered query must take input from a frame
    bounded by an Aggregate/Limit on all leaf paths — the documented
    two-level-prefix / bounded-shortlist designs.  A future operator
    that windows a corpus-scale frame fails here loudly instead of
    shipping a silent single-task bottleneck (the 742-warning audit
    item from the round-6 verdict, made structural)."""
    failures: dict[str, list[str]] = {}
    for name, fn in registry.all_queries().items():
        try:
            df = fn(spark, sf_smoke)
        except Exception:
            continue  # non-plan failures belong to the parity sweep
        bad = _unbounded_unpartitioned_windows(df)
        if bad:
            failures[name] = bad
    assert not failures, (
        "unpartitioned windows over non-reduced frames (single-task "
        f"bottlenecks at scale): { {k: v[0][:120] for k, v in failures.items()} }"
    )


def test_no_decimal_typed_output_columns(spark, sf_smoke):
    """Driver-hash safety gate (round-7 window-simulation catch): a
    query that RETURNS a DecimalType column stringifies differently
    from the DOUBLE/BIGINT its oracle produces (Decimal('981070') vs
    981070.0 — drift_ks_arms) even when values are equal.  Exact
    decimal is an INTERNAL fold representation; every output column
    must cast to BIGINT or DOUBLE before leaving the query."""
    from pyspark.sql.types import DecimalType

    offenders = {}
    for name, fn in registry.all_queries().items():
        try:
            df = fn(spark, sf_smoke)
        except Exception:
            continue
        decs = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, DecimalType)
        ]
        if decs:
            offenders[name] = decs
    assert not offenders, f"decimal-typed output columns: {offenders}"


def test_round8_wave_plans(spark, sf_smoke):
    """Plan gates for the round-8 waves (17–19).

    * text_bm25_topk_contract: ONE Generate (single tokenize — the
      text_tfidf lesson survives composition) and a partitioned rank
      window only.
    * graph_link_jaccard / graph_link_resource_alloc: equi-joins only
      (no cartesian), and the global top-k is TakeOrderedAndProject —
      never a global sort of the candidate frame.
    * feature_standardize: the fact never shuffles — group moments
      attach as a BroadcastHashJoin, no SortMergeJoin, no Window.
    * eval_spearman_corr: every window sort is partitioned (the
      two-level prefix discipline on both rank frames).
    * sample_negative_uniform: map-only draws + broadcast label join.
    * eval_ece / eval_cohens_kappa: no corpus-sized join (kappa's
      marginal join is 10-row; ECE is join-free after the bin agg).
    """
    plan = _plan(spark, "text_bm25_topk_contract", sf_smoke)
    assert plan.count("Generate") == 1
    assert "CartesianProduct" not in plan

    for name in ("graph_link_jaccard", "graph_link_resource_alloc"):
        plan = _plan(spark, name, sf_smoke)
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan

    plan = _plan(spark, "feature_standardize", sf_smoke)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan

    plan = _plan(spark, "eval_spearman_corr", sf_smoke)
    # the only GLOBAL sorts (flag `true`) are the two bucket-carry
    # windows over bucket-count-sized frames; the within-bucket rank
    # sorts are local (`false`) under a partitioned window
    global_sorts = [
        line
        for line in plan.splitlines()
        if "+- Sort [" in line and ", true," in line
    ]
    assert len(global_sorts) <= 2, global_sorts

    plan = _plan(spark, "sample_negative_uniform", sf_smoke)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "eval_ece", sf_smoke)
    assert "SortMergeJoin" not in plan
    plan = _plan(spark, "eval_cohens_kappa", sf_smoke)
    assert "CartesianProduct" not in plan


def test_wave21_plans(spark, sf_smoke):
    """Plan gates for wave 21 (TVD / time-decay / readability / AC1 /
    impurity / peaks).

    * drift_tvd_bins / eval_gwet_ac1: the only non-equi join is the
      broadcast-1-row scalar attach (BroadcastNestedLoopJoin), never a
      CartesianProduct, and no corpus-sized shuffle joins at all.
    * attribution_time_decay: the pair join is the user-keyed
      SortMergeJoin contract (both sides corpus-scale); the direct leg
      attaches by broadcast; the per-purchase weight window is
      partitioned (zero global sorts).
    * text_readability / feature_gini_impurity: map-side counts into
      keyed aggregates — join-free, window-free, sort-free.
    * events_peak_detect: the lag/lead window is partitioned by
      event_type over the daily frame — zero global sorts.
    """

    def _global_sorts(plan: str) -> list[str]:
        return [
            line
            for line in plan.splitlines()
            if "+- Sort [" in line and ", true," in line
        ]

    for name in ("drift_tvd_bins", "eval_gwet_ac1"):
        plan = _plan(spark, name, sf_smoke)
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert not _global_sorts(plan)

    plan = _plan(spark, "attribution_time_decay", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # direct-leg anti join
    assert not _global_sorts(plan)

    for name in ("text_readability", "feature_gini_impurity"):
        plan = _plan(spark, name, sf_smoke)
        assert "Join" not in plan
        assert "Window" not in plan
        assert "Sort [" not in plan

    plan = _plan(spark, "events_peak_detect", sf_smoke)
    assert "Join" not in plan
    assert not _global_sorts(plan)


def test_wave22_plans(spark, sf_smoke):
    """Plan gates for wave 22 (inter-arrival / stickiness / overlap).

    * events_interarrival: the lag window is user-partitioned and the
      quantile pass rides the two-level prefix — ZERO global sorts;
      scalar totals attach as 1-row broadcasts, never a cartesian.
    * cohort_stickiness: MAU fan-out is a JVM Generate (explode) —
      no range join, no per-day window; zero global sorts.
    * events_audience_overlap: user-keyed equi self-join only — no
      CartesianProduct; type totals broadcast.
    """

    def _global_sorts(plan: str) -> list[str]:
        return [
            line
            for line in plan.splitlines()
            if "+- Sort [" in line and ", true," in line
        ]

    plan = _plan(spark, "events_interarrival", sf_smoke)
    assert "CartesianProduct" not in plan
    assert not _global_sorts(plan)

    plan = _plan(spark, "cohort_stickiness", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "Generate" in plan
    assert "Window" not in plan
    assert not _global_sorts(plan)

    plan = _plan(spark, "events_audience_overlap", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert not _global_sorts(plan)


def test_wave23_plans(spark, sf_smoke):
    """Plan gates for wave 23 (centroid drift / vocab overlap).

    * embedding_centroid_drift: one Generate (posexplode) feeds the
      (label, dim)-keyed decimal aggregate; the count frame attaches
      by broadcast; no cartesian, no window, zero global sorts.
    * text_vocab_overlap: one Generate (tokenize) into the DISTINCT
      collapse; the pair join is word-keyed equi; totals broadcast.
    """

    def _global_sorts(plan: str) -> list[str]:
        return [
            line
            for line in plan.splitlines()
            if "+- Sort [" in line and ", true," in line
        ]

    for name in ("embedding_centroid_drift", "text_vocab_overlap"):
        plan = _plan(spark, name, sf_smoke)
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        assert "Generate" in plan
        assert "Window" not in plan
        assert not _global_sorts(plan)


def test_wave24_plans(spark, sf_smoke):
    """Plan gates for wave 24 (regression metrics / lateness profile).

    * eval_regression_metrics: join-free, window-free single-pass
      power-sum fold — the purchase scan reduces to one row map-side.
    * events_lateness_profile: the running max is a user-partitioned
      window; the quantile carry is prefix-bucketed — zero global
      sorts, scalar totals attach by broadcast only.
    """

    def _global_sorts(plan: str) -> list[str]:
        return [
            line
            for line in plan.splitlines()
            if "+- Sort [" in line and ", true," in line
        ]

    plan = _plan(spark, "eval_regression_metrics", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Sort [" not in plan

    plan = _plan(spark, "events_lateness_profile", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert not _global_sorts(plan)


def test_wave25_plans(spark, sf_smoke):
    """Plan gates for wave 25 (knn curve / repeat cohorts).

    * graph_knn_curve: the basket pair expansion is the inline
      Generate (copurchase_edges contract — no distinct+self-join);
      degree attachments are equi-joins, never cartesian.
    * orders_repeat_cohorts: one per-customer aggregate feeds the
      cohort fold — join-free, window-free.
    """
    plan = _plan(spark, "graph_knn_curve", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "Generate" in plan

    plan = _plan(spark, "orders_repeat_cohorts", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan


def test_wave26_plans(spark, sf_smoke):
    """Plan gate for wave 26: quarantine is map-only — encode, corrupt,
    decode and classify ride ONE Arrow-batched python node; the only
    exchange carries the 3-row status frame (payloads never shuffle)."""
    plan = _plan(spark, "multimodal_decode_quarantine", sf_smoke)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("MapInPandas") == 1
    # the aggregate below the python node is the only exchange pair
    assert plan.count("Exchange") <= 2


def test_wave27_plans(spark, sf_smoke):
    """Plan gates for wave 27 (recall curve / activity audit).

    * events_user_activity_audit: the top-50 is TakeOrderedAndProject
      over the user frame — never a global sort of corpus rows; the
      minute peak reduces before its join.
    * vector_recall_curve: no cartesian products (query batch rides
      broadcast); the only unpartitioned window is the 4-row level
      frame (bounded by construction — union of 1-row aggregates).
    """
    plan = _plan(spark, "events_user_activity_audit", sf_smoke)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(spark, "vector_recall_curve", sf_smoke)
    assert "CartesianProduct" not in plan


def test_wave28_plans(spark, sf_smoke):
    """Plan gates for wave 28 (IVF append / source-pair rate).

    * dedup_source_pair_rate: candidate generation inherits the
      banded equi-join contract (no cross product); source
      attachments broadcast onto the output-bound pair frame.
    * vector_store_ivf_append: the searched scan carries
      PartitionFilters (appended files are inside pruned cell dirs,
      not a second unpruned store).
    """
    plan = _plan(spark, "dedup_source_pair_rate", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    plan = _plan(spark, "vector_store_ivf_append", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "PartitionFilters: [isnotnull(cell_id" in plan or \
        "PartitionFilters: [cell_id" in plan or "cell_id IN" in plan


def test_wave29_plans(spark, sf_smoke):
    """Plan gate for wave 29: after 3 streamed appends the search scan
    still carries cell-partition pruning (appended files joined the
    pruned layout, they did not become a second unpruned store)."""
    plan = _plan(spark, "stream_ivf_append", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "cell_id" in plan


def test_wave30_plans(spark, sf_smoke):
    """Plan gate for wave 30: both group legs ride the shared prefix
    (no unpartitioned corpus window), scalar folds attach by
    broadcast — no cartesian, no corpus-scale global sort."""
    plan = _plan(spark, "eval_fairness_auc_gap", sf_smoke)
    assert "CartesianProduct" not in plan
    gs = [
        line
        for line in plan.splitlines()
        if "+- Sort [" in line and ", true," in line
    ]
    # only the two per-leg bucket-carry windows (bucket-count frames)
    assert len(gs) <= 2, gs


def test_wave31_plans(spark, sf_smoke):
    """Plan gate for wave 31: frontier joins are (src, node)-keyed equi
    joins (no cartesian), the top-50 is TakeOrderedAndProject."""
    plan = _plan(spark, "graph_harmonic_sampled", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_wave33_plans(spark, sf_smoke):
    """Wave-33 gates: Kendall's pair join is histogram-cell × cell with
    a real (non-cartesian) condition and stays JVM-only; the bootstrap's
    rep fan-out broadcasts the 101-row side; zipf's rank window runs on
    the reduced vocabulary frame, not token rows."""
    plan = _plan(spark, "eval_kendall_tau", sf_smoke)
    assert "CartesianProduct" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan
    plan = _plan(spark, "ab_bootstrap_ci", sf_smoke)
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan
    plan = _plan(spark, "text_zipf_ratio", sf_smoke)
    # one tokenize Generate, aggregate BEFORE the window
    assert plan.count("Generate explode") == 1


def test_wave34_plans(spark, sf_smoke):
    """Wave-34 gates: every retrieval face keeps the corpus scan
    JVM-side (sign encode, Hamming, slice cosines are all codegen
    expressions — no Python eval nodes) and broadcasts the probe
    side."""
    for name in (
        "vector_quantize_binary",
        "retrieval_late_interaction",
        "retrieval_topk_coverage",
    ):
        plan = _plan(spark, name, sf_smoke)
        for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert py not in plan, f"{name} fell off the JVM: {py}"
        assert "Broadcast" in plan, name


def test_wave35_plans(spark, sf_smoke):
    """Wave-35 gate: PPR's per-step joins are node-keyed equi joins
    (no cartesian) and the whole computation is JVM-only; the floor
    ledger folds as a plain bigint hash aggregate (partial+final —
    no decimal columns in flight)."""
    plan = _plan(spark, "graph_pagerank_personalized", sf_smoke)
    assert "CartesianProduct" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan
    assert "DecimalType" not in plan


def test_wave37_plans(spark, sf_smoke):
    """Wave-37 gates: schema drift is ONE corpus scan feeding one keyed
    aggregate (JVM-only); RBO scans the corpus once against a broadcast
    probe and stays JVM-side."""
    plan = _plan(spark, "dq_schema_drift", sf_smoke)
    assert plan.count("Scan parquet") == 1
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan
    plan = _plan(spark, "eval_rank_rbo", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan


def test_round10_wave_plans(spark, sf_smoke):
    """Round-10 gates: the filtered-ANN probe keeps the metadata
    predicate below the cell join (never a post-filter above the
    top-k) and plans no cartesian; k-truss's per-round triangle pass
    is equi-join-only; the left-outer interval join stays a sort-merge
    with the range as residual, never a nested-loop cartesian."""
    plan = _plan(spark, "similarity_search_ivf_filtered", sf_smoke)
    assert "CartesianProduct" not in plan
    # the predicate survives into the scan-side filter, below the join
    assert "label" in plan
    probe_side = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    assert "label" in probe_side or "Filter" in plan

    plan = _plan(spark, "graph_ktruss", sf_smoke)
    assert "CartesianProduct" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan

    plan = _plan(spark, "stream_join_left_outer", sf_smoke)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin LeftOuter" in plan or "LeftOuter" in plan

    plan = _plan(spark, "events_forecast_holt", sf_smoke)
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert py not in plan
