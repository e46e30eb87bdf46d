"""Physical-plan assertions: the plans we want at 100 TB, guarded against
regression. A query that silently loses predicate pushdown or a broadcast
still passes correctness tests — these tests fail instead."""

import re

import pytest

from cyclebane_spark.queries import queries

SF_DIR = '/root/testdata/sf0.001'


def plan_of(spark, name: str) -> str:
    import contextlib
    import io

    df = queries()[name](spark, SF_DIR)
    # formatted explain prints the full PushedFilters list (toString truncates)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain('formatted')
    return buf.getvalue()


def raw_plan_of(spark, name: str) -> str:
    """Tree-only plan string — operators appear exactly once (for counts)."""
    df = queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def require_spread(spark):
    """Skip pins that assert the spread_small repartition: at
    defaultParallelism < 2 a 1-file input is already >= parallelism files,
    so spread_small is (correctly) identity and REPARTITION_BY_NUM never
    appears — the library behaves as designed, the pin is just moot."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip('spread_small is identity at parallelism 1')


def test_q6_filter_pushdown_and_no_shuffle_groupby(spark):
    plan = plan_of(spark, 'q6_forecast_revenue')
    # all three predicates reach the parquet scan
    assert 'PushedFilters:' in plan
    assert 'GreaterThanOrEqual(l_shipdate' in plan
    assert 'GreaterThanOrEqual(l_discount' in plan
    assert 'LessThan(l_quantity' in plan
    # global agg: partial+final, single exchange
    assert raw_plan_of(spark, 'q6_forecast_revenue').count('Exchange') == 1


def test_q6_reads_only_needed_columns(spark):
    plan = plan_of(spark, 'q6_forecast_revenue')
    m = re.search(r'ReadSchema: ([^\n]+)', plan)
    assert m, plan
    read = m.group(1)
    assert 'l_extendedprice' in read and 'l_discount' in read
    # pruned: the untouched wide columns never leave the scan
    for col in ('l_returnflag', 'l_linestatus', 'l_orderkey', 'l_partkey'):
        assert col not in read


def test_q3_broadcasts_dimensions(spark):
    plan = plan_of(spark, 'q3_shipping_priority')
    assert 'BroadcastHashJoin' in plan
    # top-k is TakeOrderedAndProject, not a global sort
    assert 'TakeOrderedAndProject' in plan
    assert 'Sort [revenue' not in plan


def test_q5_broadcasts_region_nation(spark):
    plan = plan_of(spark, 'q5_local_supplier_volume')
    assert plan.count('BroadcastHashJoin') >= 2


def test_q1_partial_aggregation(spark):
    """r11 shape: on the few-file driver layout spread_small inserts ONE
    parallelism-restoring repartition between the (pushed-down) filter and
    the aggregation, so the 8 decimal partial aggregates run core-wide
    instead of inside the single scan task; partial aggregation (map-side
    combine) then still collapses everything to 4 groups before the final
    exchange. On multi-split production inputs spread_small is a no-op and
    the plan reverts to scan -> partial agg -> single exchange (covered by
    test_spread_small_is_noop_on_multifile_input)."""
    require_spread(spark)
    plan = plan_of(spark, 'q1_pricing_summary')
    assert 'partial_sum' in plan  # map-side combine before the group shuffle
    raw = raw_plan_of(spark, 'q1_pricing_summary')
    assert raw.count('Exchange') == 2
    assert 'REPARTITION_BY_NUM' in raw
    # the date filter must still reach the scan below the repartition
    assert 'LessThanOrEqual(l_shipdate' in plan
    # and the repartition must sit BELOW the partial aggregate (tree prints
    # top-down: the deepest HashAggregate — the partial one — must appear
    # ABOVE the repartition exchange line, i.e. aggregate over exchange)
    assert raw.count('HashAggregate') == 2
    assert raw.rindex('HashAggregate') < raw.index('REPARTITION_BY_NUM')


def test_spread_small_is_noop_on_multifile_input(spark, tmp_path):
    """spread_small must leave any input it cannot prove small and
    few-file UNTOUCHED: >= parallelism files, or over the byte cap, or a
    non-local URI — the production layouts where the repartition would be
    the full-input shuffle the guide says to remove."""
    require_spread(spark)
    import pyspark.sql.functions as F

    from cyclebane_spark.tables import (
        SPREAD_MAX_BYTES_CONF,
        spread_small,
    )

    par = spark.sparkContext.defaultParallelism
    path = str(tmp_path / 'many')
    spark.range(0, 10_000).withColumn('k', F.col('id') % 97).repartition(
        max(par, 2)
    ).write.mode('overwrite').parquet(path)
    many = spark.read.parquet(path)
    assert spread_small(many, 'k') is many  # >= par files -> identity

    single = str(tmp_path / 'single')
    spark.range(0, 1000).coalesce(1).write.mode('overwrite').parquet(single)
    one = spark.read.parquet(single)
    spread = spread_small(one, 'id')
    assert spread is not one
    assert 'RepartitionByExpression' in spread._jdf.queryExecution().logical().toString()

    # byte cap: same single file, cap forced below its size -> identity
    old = spark.conf.get(SPREAD_MAX_BYTES_CONF, None)
    spark.conf.set(SPREAD_MAX_BYTES_CONF, '1')
    try:
        assert spread_small(one, 'id') is one
    finally:
        if old is None:
            spark.conf.unset(SPREAD_MAX_BYTES_CONF)
        else:
            spark.conf.set(SPREAD_MAX_BYTES_CONF, old)


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, 'join_semi')
    assert 'LeftSemi' in plan


def test_graph_slice_loc_pushes_range_predicate(spark):
    plan = plan_of(spark, 'graph_slice_loc')
    assert 'GreaterThanOrEqual(l_orderkey,100)' in plan
    assert 'LessThan(l_orderkey,600)' in plan


def test_graph_slice_positional_no_single_reducer_sort(spark):
    """The positional rank must be the bucketed two-level form: the
    row_number window PARTITIONS by the bucket column (parallel sort per
    bucket) instead of the old global unpartitioned window that funneled
    the whole table through one reducer; the bucket-offset side broadcasts.
    The surviving SinglePartition exchanges are the metadata-sized offsets
    cumsum (~n/4096 rows) and the 1-row final aggregate. The extra narrow
    scan for bucket counts is the deliberate trade — at most two documents
    scans (the struct-valued aggregate keeps the value side single-scan;
    the r1 compile-twice defect planned three)."""
    raw = raw_plan_of(spark, 'graph_slice_positional')
    rn_windows = [l for l in raw.splitlines() if 'row_number() windowspecdefinition' in l]
    assert rn_windows, raw
    for line in rn_windows:
        assert '], [__grb' in line, line  # partitioned by bucket, not global
    assert 'BroadcastExchange' in raw
    assert sum(
        'documents' in l for l in raw.splitlines() if 'Scan parquet' in l
    ) <= 2


def test_string_keyed_positional_rank_partitions_its_windows(spark):
    """The non-numeric positional path must be the same two-level shape as
    the numeric one: every row_number window PARTITIONS by the range bucket
    (parallel per-bucket sorts), never the old global unpartitioned window;
    the bucket offsets broadcast back."""
    from cyclebane_spark.sources.arrays import SparkColumn

    df = spark.createDataFrame(
        [(f'k{i:04d}', float(i)) for i in range(300)], 'k string, v double'
    )
    col = SparkColumn(df, index=['k'], values='v')
    out = col._with_position(col.df)
    raw = out._jdf.queryExecution().executedPlan().toString()
    rn_windows = [
        l for l in raw.splitlines() if 'row_number() windowspecdefinition' in l
    ]
    assert rn_windows, raw
    for line in rn_windows:
        assert '], [__grb' in line, line  # partitioned by bucket, not global
    assert 'BroadcastExchange' in raw


def test_graph_param_sweep_broadcasts_param_dim(spark):
    plan = plan_of(spark, 'graph_param_sweep_broadcast')
    # the 3-row param dim is broadcast, never shuffled
    assert 'BroadcastNestedLoopJoin' in plan or 'BroadcastExchange' in plan


def test_ann_bruteforce_broadcasts_queries(spark):
    plan = plan_of(spark, 'ann_bruteforce_topk')
    assert 'BroadcastNestedLoopJoin' in plan


def test_pivot_single_pass(spark):
    plan = raw_plan_of(spark, 'events_pivot_type_counts')
    # explicit value list -> one aggregation pass, no values-discovery job
    assert plan.count('Exchange') <= 2


def test_minhash_heavy_compute_stays_above_the_exchange(spark):
    """Regression for the filter-pushdown trap: no shingle/md5 expression may
    appear in the scan's DataFilters, and the signature projection must sit
    ABOVE the repartition exchange — otherwise the whole per-doc compute
    collapses into the single pre-shuffle scan task."""
    require_spread(spark)
    plan = plan_of(spark, 'dedup_minhash_lsh')
    scan = plan.split('Scan parquet', 1)[1].split('(2)', 1)[0]
    assert 'transform' not in scan and 'md5' not in scan, scan
    # exactly one row-group scan feeding a repartition, projections above it
    assert 'REPARTITION_BY_NUM' in plan


def test_q19_disjunction_common_conjuncts_pushed(spark):
    """The brand-set and size bounds extractable from the OR land in the
    scan's pushed filters (In/Or on p_brand, bounds on p_size); the residual
    cross-table disjunction evaluates post-join in codegen."""
    plan = plan_of(spark, 'q19_disjunctive_predicates')
    assert 'PushedFilters:' in plan
    scan = plan.split('ReadSchema: struct<p_partkey', 1)[0]
    assert 'p_brand' in scan and 'p_size' in scan


def test_q7_broadcasts_both_nation_dims(spark):
    plan = plan_of(spark, 'q7_volume_shipping')
    assert plan.count('BroadcastHashJoin') >= 2
    # the nation-pair filter prunes suppliers/customers BEFORE their joins:
    # the nation scans carry the In(n_name, ...) predicate
    assert 'n_name' in plan


def test_q13_outer_join_preserves_left(spark):
    plan = plan_of(spark, 'q13_customer_distribution')
    assert 'LeftOuter' in plan


def test_q15_no_global_sort_for_scalar_max(spark):
    """max-revenue selection must be a one-row broadcast join-back, never a
    global sort of the aggregate."""
    plan = plan_of(spark, 'q15_top_supplier')
    assert 'BroadcastExchange' in plan
    assert 'TakeOrderedAndProject' not in plan


def test_window_analytics_single_sort_pass(spark):
    """All four analytic functions share one window spec -> exactly one sort
    and one partition exchange."""
    raw = raw_plan_of(spark, 'window_analytics_suite')
    assert raw.count('Exchange') == 1
    assert raw.count('Sort ') <= 1 or raw.count('Sort [') <= 1


def test_argmax_is_hash_agg_not_window(spark):
    raw = raw_plan_of(spark, 'argmax_per_group')
    assert 'Window' not in raw
    assert 'HashAggregate' in raw or 'SortAggregate' in raw


def test_unpivot_no_shuffle(spark):
    raw = raw_plan_of(spark, 'unpivot_lineitem_measures')
    assert 'Exchange' not in raw


def test_gap_fill_grid_is_distributed(spark):
    """The grid must come from sequence+explode (per-user, executor-side) —
    no driver-side calendar cross join, and no plan diamond: one events
    scan, gaps emitted from each bucket's lag-distance."""
    raw = raw_plan_of(spark, 'events_gap_fill')
    assert 'Generate explode' in raw or 'Generate' in raw
    assert sum('events' in l for l in raw.splitlines() if 'Scan parquet' in l) == 1


def test_ngram_jaccard_two_scans_only(spark):
    """Set sizes ride on the inverted index via a window — only the self-
    join's two corpus scans remain."""
    raw = raw_plan_of(spark, 'dedup_ngram_jaccard')
    assert sum('documents' in l for l in raw.splitlines() if 'Scan parquet' in l) == 2


def test_multi_grain_rollup_single_shuffle(spark):
    """GROUPING SETS expands map-side: one scan, one aggregation exchange
    (plus AQE artifacts at most)."""
    raw = raw_plan_of(spark, 'events_multi_grain_rollup')
    assert raw.count('Scan parquet') == 1
    assert 'Expand' in raw


def test_pipeline_single_corpus_scan(spark):
    """Window-based dedup keeps the pipeline linear: exactly one documents
    scan (the agg+semi-join formulation would read the corpus twice)."""
    raw = raw_plan_of(spark, 'pipeline_training_data')
    assert sum('documents' in l for l in raw.splitlines() if 'Scan parquet' in l) == 1


def test_tfidf_single_heavy_scan(spark):
    """df derives from tf via a window — the corpus is tokenized once; the
    only second scan is the 1-column doc count."""
    raw = raw_plan_of(spark, 'text_tfidf_top_terms')
    assert sum('documents' in l for l in raw.splitlines() if 'Scan parquet' in l) <= 2
    assert raw.count('Generate explode') == 1


def test_q20_single_lineitem_scan(spark):
    """Share-of-total must derive the part total from the per-(part,supp)
    aggregate via a window — never a second lineitem scan."""
    raw = raw_plan_of(spark, 'q20_dominant_part_suppliers')
    assert raw.count('lineitem.parquet') <= raw.count('Scan parquet') <= 2
    assert sum('lineitem' in l for l in raw.splitlines() if 'Scan parquet' in l) == 1
    assert 'Window' in raw


def test_connected_components_converges_and_broadcasts_labels(spark):
    # CC is iterative; just assert the result frame exists and is resolvable
    df = queries()['dedup_connected_components'](spark, SF_DIR)
    rows = df.count()
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet').count()
    assert rows == docs  # every document labeled exactly once


def test_kmeans_ivf_caches_quantized_table(spark):
    """The Lloyd loop must not re-scan the corpus per reference: the
    quantized exploded table is persisted, so every one of its plan
    references is an in-memory read (the parquet is read once to fill the
    cache). Centroid sides broadcast into the assignment joins."""
    raw = raw_plan_of(spark, 'ann_ivf_kmeans_topk')
    cache_reads = raw.count('InMemoryTableScan') + raw.count(
        'TableCacheQueryStage'
    )
    assert cache_reads >= 7  # 2 iters x (assign+centroid) + query/cand refs
    assert 'BroadcastExchange' in raw


def test_decontamination_broadcasts_benchmark_side(spark):
    """The benchmark gram side is the small one — it must broadcast; the
    corpus side must not shuffle for the overlap join."""
    raw = raw_plan_of(spark, 'text_decontamination')
    assert 'BroadcastExchange' in raw
    assert 'BroadcastHashJoin' in raw


def test_gopher_gram_aggs_combine_map_side(spark):
    """Both gram aggregations must show partial (map-side) aggregation
    before their exchange — the property that keeps the shuffle ~doc-sized
    at 100 TB."""
    raw = raw_plan_of(spark, 'text_gopher_repetition')
    assert raw.count('partial_count') >= 2


def _tree_depth(line: str) -> int:
    """Offset of the operator name within a plan tree line (its depth)."""
    return re.match(r'^[\s:+*|-]*', line).end()


def subtrees_of(raw: str, op: str) -> list[str]:
    """Every subtree rooted at a node whose line mentions ``op``, bounded by
    indentation — not by a suffix slice of the plan string, which would leak
    sibling subtrees printed after the node (r2 ADVICE)."""
    lines = raw.splitlines()
    found = []
    for i, line in enumerate(lines):
        if op in line:
            d = _tree_depth(line)
            sub = [line]
            for nxt in lines[i + 1 :]:
                if nxt.strip() and _tree_depth(nxt) <= d:
                    break
                sub.append(nxt)
            found.append('\n'.join(sub))
    return found


def test_param_sweep_broadcasts_dim_side_not_fact_side(spark):
    """The cross join's build side must be the driver-backed param family,
    never the cluster-backed fact table: without the explicit hint the
    planner sees the createDataFrame side as unknown-size and broadcasts
    the PARQUET side — fatal at 100 TB."""
    raw = raw_plan_of(spark, 'graph_param_sweep_broadcast')
    assert 'BroadcastNestedLoopJoin' in raw
    subs = subtrees_of(raw, 'BroadcastExchange')
    assert subs, raw
    # NO broadcast subtree may hold the parquet scan, and the param family
    # (driver-backed ExistingRDD) must be the thing broadcast.
    for sub in subs:
        assert 'FileScan parquet' not in sub, sub
    assert any('ExistingRDD' in sub for sub in subs), raw


def test_two_level_packing_level1_window_is_shard_partitioned(spark):
    """Level-1 cumsum must partition by shard (parallel); only the
    constant-size level-2 remainder merge may run single-partition."""
    raw = raw_plan_of(spark, 'text_packing_two_level')
    assert 'Window' in raw
    # the shard-partitioned window sorts within hashpartitioning(shard...)
    import re as _re

    assert _re.search(r'hashpartitioning\(shard', raw), raw


def test_pq_adc_broadcasts_distance_table_and_reads_cache(spark):
    """The query distance table must broadcast (corpus codes never shuffle
    for the ADC join) and the quantized explode must be served from the
    persisted table, not repeated parquet scans."""
    raw = raw_plan_of(spark, 'ann_pq_adc_topk')
    assert 'BroadcastExchange' in raw
    assert raw.count('InMemoryTableScan') + raw.count('TableCacheQueryStage') >= 4


def test_pagerank_aggregates_contributions_map_side(spark):
    """Each PageRank iteration's contribution sum must show a partial
    aggregate before its exchange, and the node-count scalar must be a
    broadcast (1-row) — never a shuffled join."""
    raw = raw_plan_of(spark, 'graph_pagerank_neardup')
    assert raw.count('partial_sum') >= 3  # one per unrolled iteration
    assert 'BroadcastNestedLoopJoin' in raw  # nn scalar cross join


def test_q16_excluded_suppliers_join_is_broadcast_anti(spark):
    raw = raw_plan_of(spark, 'q16_supplier_part_counts')
    assert 'LeftAnti' in raw
    assert 'BroadcastExchange' in raw


def test_cdc_compaction_is_partial_agg_not_window(spark):
    """Last-write-wins compaction must be a partial+final max_by aggregate
    (map-side combine collapses the log before the shuffle), never a
    row_number window over the full log (which shuffles every row, then
    sorts every partition)."""
    raw = raw_plan_of(spark, 'events_cdc_compaction')
    assert 'Window' not in raw, raw
    assert raw.count('Exchange') == 1, raw
    assert re.search(r'partial_max_by|ObjectHashAggregate', raw), raw


def test_pii_redaction_is_pure_projection(spark):
    """Redaction is per-row: no shuffle anywhere, the whole operator lives
    inside one codegen'd projection over the scan."""
    raw = raw_plan_of(spark, 'text_pii_redaction')
    assert 'Exchange' not in raw, raw
    # '*(1)' prefixes = the projection runs inside whole-stage codegen
    assert '*(1) Project' in raw, raw


def test_hashed_features_partial_aggregation(spark):
    """The hashing-trick vectorizer must combine map-side: partial_sum on
    (doc_id, feature) before its single exchange — one explode, one
    shuffle, nothing else."""
    plan = plan_of(spark, 'text_hashed_features')
    assert 'partial_sum' in plan
    assert raw_plan_of(spark, 'text_hashed_features').count('Exchange') == 1


def test_length_curriculum_no_global_sort(spark):
    """Equal-frequency binning must be the two-level form: the row_number
    window partitions by the token-count key (parallel sorts), the offsets
    and the 1-row total broadcast — no unpartitioned window over the
    corpus."""
    raw = raw_plan_of(spark, 'text_length_curriculum')
    rn = [l for l in raw.splitlines() if 'row_number() windowspecdefinition' in l]
    assert rn, raw
    for line in rn:
        # partitioned by the bucket (= the token-count key), never global
        assert '], [__grb' in line, line
    assert raw.count('BroadcastExchange') >= 2


def test_q4_exists_becomes_semi_join(spark):
    """The correlated EXISTS is stated directly as a left-semi join with the
    correlation predicate in the join condition — no fact-side aggregate or
    distinct, and the lineitem scan reads only the two join columns."""
    plan = plan_of(spark, 'q4_order_priority')
    assert 'LeftSemi' in plan
    m = re.findall(r'ReadSchema: ([^\n]+)', plan)
    li_reads = [r for r in m if 'l_orderkey' in r]
    assert li_reads and all(
        'l_quantity' not in r and 'l_extendedprice' not in r for r in li_reads
    )


def test_q10_topk_and_broadcast_nation(spark):
    plan = plan_of(spark, 'q10_returned_items')
    assert 'TakeOrderedAndProject' in plan
    assert 'BroadcastHashJoin' in plan
    # the return-flag filter reaches the lineitem parquet scan
    assert 'EqualTo(l_returnflag,R)' in plan


def test_q17_broadcasts_filtered_part(spark):
    plan = plan_of(spark, 'q17_small_quantity_revenue')
    assert 'BroadcastHashJoin' in plan
    assert 'EqualTo(p_brand,Brand#23)' in plan
    # the per-part average aggregates only the brand's lineitems: a
    # broadcast LEFT-SEMI restriction sits below the aggregate
    raw = raw_plan_of(spark, 'q17_small_quantity_revenue')
    assert 'LeftSemi, BuildRight' in raw


def test_pmi_df_floor_broadcasts_before_pair_join(spark):
    """The document-frequency floor must prune BEFORE the quadratic pair
    join: the df table broadcasts into the (doc, term) stream, and the pair
    join itself is doc-blocked (equi-join on doc_id), never a cross."""
    raw = re.sub(r'#\d+L?', '', raw_plan_of(spark, 'text_pmi_cooccurrence'))
    assert 'BroadcastHashJoin [tok], [tok]' in raw
    # the pair join is keyed on doc_id (broadcast at toy SF, sort-merge at
    # scale — either way an equi-join, never a cross product)
    assert re.search(r'(SortMerge|BroadcastHash)Join \[doc_id\], \[doc_id\]', raw)
    assert 'TakeOrderedAndProject' in raw
    assert 'CartesianProduct' not in raw


def test_quality_classifier_single_pass(spark):
    """The linear model is an expression: exactly one data Exchange (the
    per-doc hash agg) and no joins anywhere in the plan."""
    raw = raw_plan_of(spark, 'text_quality_classifier')
    assert raw.count('Exchange') == 1
    assert 'Join' not in raw
    plan = plan_of(spark, 'text_quality_classifier')
    assert 'partial_sum' in plan


def test_seeded_shuffle_partitions_by_shard(spark):
    """No global sort: the in-shard position window partitions by shard."""
    plan = plan_of(spark, 'pipeline_seeded_shuffle')
    assert 'windowspecdefinition(shard' in plan
    assert 'SinglePartition' not in raw_plan_of(spark, 'pipeline_seeded_shuffle')


def test_vocab_coverage_broadcasts_vocab(spark):
    plan = plan_of(spark, 'text_vocab_coverage')
    assert 'BroadcastHashJoin' in plan
    assert 'TakeOrderedAndProject' in plan  # the top-V vocabulary


def test_upsampling_explode_is_narrow(spark):
    """The row amplification (explode of sequence) sits above the scan with
    no shuffle of its own — the only Exchange feeds the tiny weights dim."""
    raw = raw_plan_of(spark, 'pipeline_weighted_upsampling')
    assert 'Generate explode(sequence' in raw
    assert 'BroadcastHashJoin' in raw
    # the explode sits ABOVE the join output with no Exchange above it
    assert 'Exchange' not in raw.split('Generate explode')[0]


def test_rfm_anchor_broadcast_and_partial_agg(spark):
    plan = plan_of(spark, 'rfm_customer_segments')
    assert 'BroadcastNestedLoopJoin' in plan  # 1-row anchor date
    assert 'partial_count' in plan or 'partial_sum' in plan


def test_tokenize_to_ids_zero_shuffle_encode(spark):
    """The encode pass must be a broadcast of the one-row vocab map into a
    projection over the documents scan: no per-token join of the corpus
    (no shuffle join anywhere in the plan)."""
    raw = raw_plan_of(spark, 'pipeline_tokenize_to_ids')
    assert 'BroadcastNestedLoopJoin' in raw
    assert 'SortMergeJoin' not in raw and 'ShuffledHashJoin' not in raw
    # the vocab folds into a one-row broadcast map (collect_list of entries)
    assert 'collect_list(struct(tok' in raw
    assert 'TakeOrderedAndProject(limit=16' in raw


def test_ann_filtered_pushes_label_predicate(spark):
    """Pre-filtered vector search: the label predicate must reach the
    parquet scan (partition pruning at scale), and the query side stays a
    broadcast — the corpus never shuffles."""
    plan = plan_of(spark, 'ann_filtered_topk')
    assert 'In(label, [2,5,7])' in plan
    assert 'BroadcastNestedLoopJoin' in plan


def test_q14_broadcasts_part_and_single_aggregate(spark):
    plan = plan_of(spark, 'q14_promo_revenue')
    assert 'BroadcastHashJoin' in plan
    # month predicates reach the lineitem scan
    assert 'GreaterThanOrEqual(l_shipdate' in plan
    assert 'LessThan(l_shipdate' in plan
    # global one-row aggregate: no sort anywhere
    assert 'TakeOrdered' not in plan and raw_plan_of(
        spark, 'q14_promo_revenue'
    ).count('Sort') == 0


def test_bigram_lm_scoring_joins_are_broadcast(spark):
    """The LM model (and the 1-row vocab size) must BROADCAST into the
    scoring pass — a sort-merge join on the gram would shuffle the whole
    corpus bigram stream twice."""
    raw = raw_plan_of(spark, 'text_bigram_lm_score')
    assert 'BroadcastHashJoin' in raw
    assert 'BroadcastNestedLoopJoin' in raw  # 1-row vocab crossJoin
    # the corpus-side stream is never sort-merge-joined
    assert 'SortMergeJoin' not in raw


def test_tf_cosine_topk_is_take_ordered(spark):
    """Top-25 pair selection must be TakeOrderedAndProject (per-partition
    heaps + driver merge), never a global sort of all candidate pairs."""
    raw = raw_plan_of(spark, 'dedup_tf_cosine_pairs')
    assert 'TakeOrderedAndProject' in raw
    # partial aggregation on the (doc_a, doc_b) dot products: both the
    # partial and final HashAggregate appear
    assert raw.count('HashAggregate') >= 4


def test_null_safe_join_stays_hash_join(spark):
    """eqNullSafe must plan as a broadcast HASH join (hashing the key's
    null flag), not degrade to BroadcastNestedLoopJoin."""
    raw = raw_plan_of(spark, 'join_null_safe_eq')
    assert 'BroadcastHashJoin' in raw
    assert 'NestedLoop' not in raw


def test_rrf_fusion_broadcasts_query_side(spark):
    """Both retrieval legs broadcast the Q-row query side; the corpus is
    never sort-merge-joined for the fusion."""
    raw = raw_plan_of(spark, 'pipeline_rrf_fusion')
    assert 'BroadcastHashJoin' in raw
    # the Qx10 vs Qx10 fused full-outer join is tiny; anything sort-merge
    # must only ever see list-sized inputs, never the corpus term stream
    assert raw.count('SortMergeJoin') <= 1


def test_recursive_hops_runs_in_spark_union_loop(spark):
    """WITH RECURSIVE must execute as Spark's native recursion operator
    (UnionLoop/UnionLoopRef), with the frontier join staying a hash join —
    this pins that the recursion is Spark-executed, not a driver loop."""
    raw = raw_plan_of(spark, 'dedup_recursive_hops')
    assert 'UnionLoop' in raw
    assert 'UnionLoopRef' in raw
    assert 'SortMergeJoin' not in raw


def test_bloom_prefilter_single_shuffle_probe(spark):
    """The Bloom probe must be pure broadcast work on the fact side: three
    word-table probes + the exact semi-join (4 BroadcastHashJoins), zero
    sort-merge joins, and the only SHUFFLE of the fact stream is the final
    aggregation exchange. The filter itself is materialized once
    (localCheckpoint) so its dim-sized build cannot triple."""
    import re as _re

    raw = raw_plan_of(spark, 'join_bloom_prefilter')
    assert raw.count('BroadcastHashJoin') == 4
    assert 'SortMergeJoin' not in raw
    assert len(_re.findall(r'Exchange hashpartitioning', raw)) == 1


def test_skew_profile_is_two_level_partial_agg(spark):
    """Both aggregation levels keep map-side partials (4 HashAggregates)
    and shuffle only on their group keys (2 exchanges, no joins)."""
    raw = raw_plan_of(spark, 'events_skew_profile')
    assert raw.count('HashAggregate') == 4
    assert 'Join' not in raw


def test_band_diagnostics_is_aggregation_only(spark):
    """The diagnostics histogram must cost strictly less than the pair join
    it instruments: an aggregation-only pipeline, no join anywhere."""
    raw = raw_plan_of(spark, 'dedup_lsh_band_diagnostics')
    assert 'Join' not in raw


def test_phash_dedup_band_join_never_ships_pixels(spark):
    """The hamming candidate join must key on the 16-bit band buckets (a
    hash join over narrow rows). The decode+hash Python stage runs ONCE,
    at the checkpoint — the join plan itself contains no Python stage at
    all (both sides read the materialized 8-byte hash table) and no
    nested-loop join."""
    raw = raw_plan_of(spark, 'multimodal_phash_dedup')
    assert 'MapInPandas' not in raw  # ran once, upstream of the checkpoint
    assert 'ExistingRDD' in raw
    assert 'NestedLoop' not in raw
    assert 'SortMergeJoin' in raw or 'BroadcastHashJoin' in raw


def test_containment_no_allpairs(spark):
    """Candidate generation must stay an equi-join on shingles (hash/SMJ),
    never a nested-loop all-pairs comparison; the verify side broadcasts
    on this small corpus (the conf-gated default branch)."""
    raw = raw_plan_of(spark, 'dedup_containment_pairs')
    assert 'NestedLoop' not in raw
    assert 'CartesianProduct' not in raw
    assert 'BroadcastHashJoin' in raw


def test_containment_verify_falls_back_to_shuffle_hash(spark):
    """The documented 100 TB fallback, exercised: when the array table
    outgrows the broadcast threshold (simulated by disabling broadcast),
    the wide-array verify joins must become ShuffledHashJoin — NEVER
    sort-merge, which would sort candidate rows already widened by ~KB
    shingle arrays (measured 92s vs 9s at sf1)."""
    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        raw = raw_plan_of(spark, 'dedup_containment_pairs')
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)
    assert 'ShuffledHashJoin' in raw
    # the verify joins (on doc_id against the persisted array rows) must
    # not degrade to SMJ; the candidate equi-join on the shingle string
    # keys is allowed to sort-merge (narrow rows)
    smj_doc = [
        l
        for l in raw.splitlines()
        if 'SortMergeJoin' in l and 'doc_sub' in l or
           'SortMergeJoin' in l and 'doc_super' in l
    ]
    assert not smj_doc, smj_doc
    assert 'NestedLoop' not in raw and 'CartesianProduct' not in raw


@pytest.mark.parametrize(
    'threshold, fits', [('10MB', True), ('-1', False), ('1b', False)]
)
def test_fits_broadcast_reads_threshold_with_spark_parser(spark, threshold, fits):
    """_fits_broadcast reads autoBroadcastJoinThreshold through Spark's
    typed getter, so byte-string units parse as the optimizer parses
    them: a tiny frame fits under 10MB, never when broadcasting is off,
    and not under a 1-byte threshold."""
    from cyclebane_spark.queries.dedup import _fits_broadcast

    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', threshold)
    try:
        assert _fits_broadcast(spark.range(3)) is fits
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)


def test_dataset_card_single_scan(spark):
    """The one-row card must come from ONE pass over documents — multiple
    distinct aggregates expand in-plan rather than re-scanning."""
    raw = raw_plan_of(spark, 'pipeline_dataset_card')
    import re as _re

    assert len(_re.findall(r'FileScan parquet', raw)) == 1


def test_interval_join_is_bucket_blocked(spark):
    """The interval-overlap join must run as an equi-join on the time
    bucket with the exact predicate as a residual — never a nested-loop
    theta join over sessions x incidents."""
    raw = raw_plan_of(spark, 'join_interval_bucketed')
    assert 'NestedLoop' not in raw
    assert 'CartesianProduct' not in raw
    assert 'SortMergeJoin' in raw or 'BroadcastHashJoin' in raw


def test_source_overlap_no_shingle_self_join(spark):
    """Pair counts must come from the collect_set combination explode, not
    a quadratic self-join of the shingle table: no SortMergeJoin anywhere,
    and the only joins are the two broadcast total lookups (K rows)."""
    raw = raw_plan_of(spark, 'quality_source_overlap')
    assert 'SortMergeJoin' not in raw
    assert raw.count('BroadcastHashJoin') == 2
    assert 'collect_set' in raw


def test_sorted_neighborhood_rank_is_bucketed_and_reused(spark):
    """The global rank must be a bucket-PARTITIONED row_number (parallel
    sorts) plus a single K-row offset cumsum — never a global-window sort;
    and the rank table must be persisted so the pipeline runs once."""
    raw = raw_plan_of(spark, 'dedup_sorted_neighborhood')
    assert re.search(
        r'row_number\(\) windowspecdefinition\(__grb#\d+, k#\d+ ASC', raw
    )
    # every row_number window is bucket-partitioned — none starts with the
    # sort key alone (that would be the single-reducer global window)
    assert not re.search(r'row_number\(\) windowspecdefinition\(k#', raw)
    # a K-row bucket-offset cumsum exists (its SinglePartition exchange is
    # the only one, but InMemoryRelation re-displays embedded subplans a
    # session-dependent number of times, so no exact count is stable);
    # every one of them must be the offsets window, never corpus data
    assert raw.count('Exchange SinglePartition') >= 1
    for seg in raw.split('Exchange SinglePartition')[1:]:
        # the operator directly under the single-partition exchange is the
        # per-bucket count aggregate, never a corpus-row operator
        first_op = seg.split('+- ')[1].split('\n')[0]
        assert 'HashAggregate' in first_op, first_op
    assert 'InMemoryTableScan' in raw  # persisted rank/gram tables reused


def test_keyword_tagging_dict_broadcasts(spark):
    """The taxonomy dictionary must broadcast (fact side never shuffles
    for the join)."""
    raw = raw_plan_of(spark, 'text_keyword_tagging')
    assert 'BroadcastHashJoin' in raw and 'BuildRight' in raw
    assert 'SortMergeJoin' not in raw


def test_ewma_fold_single_shuffle_no_window(spark):
    """The recurrence is a grouped array fold: ONE exchange (the user_id
    groupBy) and no window operator (a global-sort window would be the
    scale bug this shape exists to avoid)."""
    raw = raw_plan_of(spark, 'events_ewma_fold')
    assert raw.count('Exchange') == 1
    assert 'Window' not in raw
    assert 'aggregate(' in raw  # the fold expression survives to the plan


def test_ivf_matryoshka_candidates_come_from_cells(spark):
    """The coarse prefix stage must score only probed-cell members: the
    candidate pairs arrive through an equi-join on the cell id (hash
    join), never a corpus cross join; centroid tables broadcast; the
    quantized component table is cached and reused across stages."""
    raw = raw_plan_of(spark, 'ann_ivf_matryoshka_topk')
    assert 'CartesianProduct' not in raw
    assert 'BroadcastNestedLoopJoin' not in raw
    assert 'BroadcastExchange' in raw  # centroids into the assignment joins
    assert (
        raw.count('InMemoryTableScan') + raw.count('TableCacheQueryStage')
    ) >= 7  # the persisted component table feeds train/probe/coarse/fine


def test_ivf_incremental_assign_is_batch_proportional(spark):
    """Index maintenance must touch only the batch at assignment time: the
    final assignment join broadcasts the K x DIM centroids (never shuffles
    the components against them), with no cartesian anywhere."""
    raw = raw_plan_of(spark, 'ann_ivf_incremental_assign')
    assert 'CartesianProduct' not in raw
    assert 'BroadcastNestedLoopJoin' not in raw
    assert 'BroadcastExchange' in raw
    # the batch filter reaches the cached component scan: the incoming
    # assignment never scans the standing corpus's rows
    assert '% 10)' in raw and '= 9' in raw.replace('<=> 9', '')


def test_ivf_drift_gate_is_histogram_sized(spark):
    """The retrain monitor must stay a cheap decision job. Two pins:

    (a) the registered query's DECISION plan consumes one materialized
        K-row histogram (eager localCheckpoint) — the k-means assignment
        subtree, with its per-vector WindowGroupLimit top-1, must appear
        ZERO times (the uncheckpointed plan showed it three times, once per
        consuming job), with the 1-row totals arriving via the only
        acceptable NLJ;
    (b) the COMPOSED histogram plan (checkpoint=False) keeps the r6
        shape guarantees: partial-aggregated occupancy counts, the batch
        holdout filter reaching the component scan, no CartesianProduct.
    """
    from cyclebane_spark.queries.similarity import (
        _drift_gate_histograms,
        _occupancy_drift,
    )

    raw = raw_plan_of(spark, 'ann_ivf_drift_gate')
    assert 'CartesianProduct' not in raw
    # exactly one NLJ: the 1-row totals cross; everything else hash/bcast
    assert raw.count('BroadcastNestedLoopJoin') == 1
    # decision plan reads the checkpointed histogram, not the k-means
    # subtree — no window top-1, no parquet scan, no re-assignment
    assert 'ExistingRDD' in raw
    assert 'WindowGroupLimit' not in raw and 'FileScan' not in raw

    corp, batch = _drift_gate_histograms(spark, SF_DIR)
    composed = _occupancy_drift(corp, batch, checkpoint=False)
    raw2 = composed._jdf.queryExecution().executedPlan().toString()
    assert 'CartesianProduct' not in raw2
    assert raw2.count('BroadcastNestedLoopJoin') == 1
    # both histograms partial-aggregate before their K-row exchange
    assert 'partial_count' in raw2
    # the batch holdout filter reaches the component scan
    assert '% 10)' in raw2


def test_ivf_merge_touches_only_index_summaries(spark):
    """The merge's decision plan must consume the checkpointed K x DIM
    summaries only: no corpus parquet scan (the shard trainings ran at
    checkpoint time), every K-row join broadcast (a stat-less checkpointed
    RDD would otherwise plan sort-merge), no cartesian. The one window
    top-1 is the K^2-row CELL pairing, never a per-vector pass — pinned by
    the absence of any corpus-sized input."""
    raw = raw_plan_of(spark, 'ann_ivf_merge')
    assert 'FileScan' not in raw and 'Scan parquet' not in raw
    assert 'ExistingRDD' in raw
    assert 'SortMergeJoin' not in raw and 'CartesianProduct' not in raw
    assert raw.count('BroadcastHashJoin') == 4


def test_corpus_build_is_one_scan_two_shuffles(spark):
    """The composed corpus build must stay a single column-pruned corpus
    scan with exactly its two semantic shuffles (fingerprint dedup window,
    (split, shard) packing window — the bin aggregate reuses the second),
    and the dedup window must carry the rank-1 WindowGroupLimit pushdown
    so replicated fingerprints collapse before the shuffle."""
    plan = plan_of(spark, 'pipeline_corpus_build')
    assert 'struct<doc_id:bigint,text:string>' in plan
    raw = raw_plan_of(spark, 'pipeline_corpus_build')
    assert raw.count('FileScan parquet') == 1
    assert raw.count('Exchange hashpartitioning') == 2
    assert 'WindowGroupLimit' in raw  # partial top-1 before the shuffle
    assert 'CartesianProduct' not in raw and 'Join' not in raw


def test_branch_graft_sweep_scans_only_the_replacement(spark):
    """__setitem__ surgery at pipeline scale (graph_branch_graft_sweep):
    the compiled plan must scan ONE parquet source — the grafted
    replacement family (the original branch's source drops out of the
    plan) — with the untouched wide columns pruned, broadcast the 3-row
    sweep dim, and run the two chained reduces as partial+final pairs
    (two exchanges total, no sort-merge join, no corpus-sized cross)."""
    require_spread(spark)
    raw = raw_plan_of(spark, 'graph_branch_graft_sweep')
    assert raw.count('FileScan parquet') == 1
    # the replacement's inputs plus the spread key: the graft needs tax;
    # orderkey is reduced away in stage 1 but (r11) survives the scan as
    # the spread_small repartition key on the few-file local layout — on
    # production multi-split inputs spread_small is a no-op and the scan
    # prunes back to the replacement columns alone
    m = re.search(r'FileScan parquet \[([^\]]*)\]', raw)
    cols = m.group(1)
    assert 'l_tax' in cols and 'l_extendedprice' in cols
    assert 'l_partkey' not in cols
    # two reduce exchanges + the r11 parallelism-restoring repartition
    assert raw.count('Exchange hashpartitioning') == 3
    assert 'REPARTITION_BY_NUM' in raw
    assert 'BroadcastNestedLoopJoin BuildRight, Cross' in raw
    assert 'SortMergeJoin' not in raw


def test_branch_graft_sweep_equals_direct_graph(spark):
    """Surgery identity: grafting the replacement branch onto the mapped
    graph must compile to the same result as building the graph directly
    from the replacement source (no surgery) — __setitem__ is pure plan
    rewriting, never a semantic change."""
    import pyspark.sql.functions as F

    from cyclebane_spark.plan.graph import Graph
    from cyclebane_spark.queries.graph_algebra import _lineitem_with_id
    from cyclebane_spark.sources.arrays import SparkColumn

    li = _lineitem_with_id(spark, SF_DIR)
    taxed = li.withColumn(
        'taxed_price', F.col('disc_price') * (1 + F.col('l_tax'))
    )
    g = Graph([('item', 'adjusted'), ('adjusted', 'swept'), ('rate', 'swept')])
    g = g.map(
        {
            'item': SparkColumn(
                taxed, index=['l_orderkey', 'l_linenumber'], values='taxed_price'
            )
        }
    )
    g = g.map({'rate': [0.00, 0.25, 0.50]})
    g = g.reduce('swept', index='l_orderkey', name='per_order')
    g = g.reduce('per_order', index='l_linenumber', name='per_rate')
    impls = {
        'swept': lambda adjusted, rate: adjusted.cast('decimal(28,6)')
        * (1 - rate).cast('decimal(3,2)'),
        'per_order': lambda c: F.sum(c),
        'per_rate': lambda c: F.sum(c).cast('decimal(38,8)').cast('string'),
    }
    direct = sorted(
        map(tuple, g.compile(spark, impls=impls).frame('per_rate').collect())
    )
    grafted = sorted(
        map(
            tuple,
            queries()['graph_branch_graft_sweep'](spark, SF_DIR).collect(),
        )
    )
    assert grafted == direct


def test_bpe_apply_codec_broadcasts(spark):
    """text_bpe_apply: the trained (token -> n_symbols) codec must reach
    the corpus token stream as a BROADCAST join (vocab is bounded in
    production; shipping the corpus to the vocab would be the 100 TB
    anti-shape), the per-doc aggregate must keep map-side partials, and
    nothing may sort-merge or cartesian over corpus-sized inputs (the
    3-row merge crossJoins are broadcast by construction)."""
    raw = raw_plan_of(spark, 'text_bpe_apply')
    assert 'SortMergeJoin' not in raw and 'CartesianProduct' not in raw
    assert 'BroadcastHashJoin' in raw
    # the final aggregate pair: partial on the map side of the doc_id
    # exchange, final after it
    assert 'partial_count' in raw or 'partial_sum' in raw


def test_persisted_ivf_serving_prunes_partitions(spark):
    """ann_ivf_persisted_topk: the standing index is cell-partitioned
    parquet and the serving scan must carry a DYNAMIC partition-pruning
    subquery on the partition column (the probed-cells broadcast) — at
    100 TB the probe reads nprobe/K of the index bytes by layout, never
    a post-scan filter. The probe and query-component joins broadcast
    (no sort-merge join anywhere in the serving subtree)."""
    raw = raw_plan_of(spark, 'ann_ivf_persisted_topk')
    assert 'dynamicpruning' in raw
    assert 'SortMergeJoin' not in raw


def test_persisted_ivf_results_equal_in_memory_search(spark):
    """Persist+serve is pure plumbing: byte-identical results to the
    in-memory ann_ivf_kmeans_topk (same quantizer, same integer
    distances, same ranking)."""
    mem = sorted(
        map(tuple, queries()['ann_ivf_kmeans_topk'](spark, SF_DIR).collect())
    )
    disk = sorted(
        map(tuple, queries()['ann_ivf_persisted_topk'](spark, SF_DIR).collect())
    )
    assert mem == disk


def test_stream_ivf_ingest_serve_prunes_partitions(spark):
    """stream_ivf_ingest: the post-ingest serve runs against the standing
    cell-partitioned index (base + per-batch subpartitions) and must keep
    the persisted-topk plan shape — dynamic partition pruning on the
    probed cells, broadcast probe/query joins, no sort-merge join — so
    ingest never degrades the serving read path."""
    raw = raw_plan_of(spark, 'stream_ivf_ingest')
    assert 'dynamicpruning' in raw
    assert 'SortMergeJoin' not in raw


def test_html_extract_is_map_mostly_single_exchange(spark):
    """text_html_extract: generation is unrolled per-doc projection (no
    shuffle), the block explode is narrow, and the only exchange in the
    plan is the doc_id-keyed final aggregate (partial+final) — a
    map-mostly pipeline at 100 TB. Scan must prune to (doc_id, text)."""
    raw = raw_plan_of(spark, 'text_html_extract')
    assert raw.count('Exchange') == 1
    assert 'SortMergeJoin' not in raw and 'CartesianProduct' not in raw
    plan = plan_of(spark, 'text_html_extract')
    assert 'ReadSchema: struct<doc_id:bigint,text:string>' in plan


def test_wordpiece_dictionary_broadcasts_onto_corpus(spark):
    """text_wordpiece_apply: the tokenized distinct-word dictionary must
    reach the corpus token stream as a BROADCAST join (the dictionary is
    distinct-words-sized; shipping the corpus to it would be the 100 TB
    anti-shape); the matcher's per-length piece lookups are broadcast
    left joins over checkpointed tiny tables; no sort-merge join or
    cartesian anywhere; the final per-doc aggregate keeps map-side
    partials."""
    raw = raw_plan_of(spark, 'text_wordpiece_apply')
    assert 'SortMergeJoin' not in raw and 'CartesianProduct' not in raw
    assert 'BroadcastHashJoin' in raw
    assert 'partial_count' in raw or 'partial_sum' in raw


def test_unigram_dp_joins_broadcast_and_frames_checkpoint(spark):
    """text_unigram_segment: every Viterbi DP lookup must reach the
    dictionary frames as a BROADCAST join of the checkpointed piece
    table (no sort-merge join, no cartesian) — pinned on the raw
    composed plan (materialize=False); the registered form additionally
    localCheckpoints each dp round so the executed plan stays linear in
    rounds instead of re-expanding every prefix per consumer (pinned by
    the executed plan collapsing to the checkpoint union)."""
    from cyclebane_spark.queries.text import unigram_word_segments

    raw_df = unigram_word_segments(spark, SF_DIR, materialize=False)
    raw = raw_df._jdf.queryExecution().executedPlan().toString()
    assert 'SortMergeJoin' not in raw and 'CartesianProduct' not in raw
    assert raw.count('BroadcastHashJoin') >= 20  # 4+4+4+4+3+2+1 lookups, re-expanded
    reg = queries()['text_unigram_segment'](spark, SF_DIR)
    reg_raw = reg._jdf.queryExecution().executedPlan().toString()
    assert 'ExistingRDD' in reg_raw or 'Scan ExistingRDD' in reg_raw
    assert reg_raw.count('BroadcastHashJoin') == 0


def test_exact_substr_anchor_join_and_runmerge_reuses_partitioning(spark):
    """dedup_exact_substr: the anchor join must key on the GRAM (inverted-
    index shape — broadcast at tiny SF, shuffled hash join at scale; the
    doc_a < doc_b orientation is a residual, never a nested-loop driver);
    the tokenize-once doc_id repartition (the materialization barrier
    that stops projection collapse from re-splitting each doc 8x per
    position, and decouples gram-stage parallelism from the input file
    count) must be REUSED by the diagonal run-merge — da is a subset of
    the (da, db, diag) clustering, so window + partial/final aggregate
    need ZERO additional exchange. The hot-gram anchor cap must be a
    BROADCAST anti join on each side (the checkpointed hot set is
    corpus/cap-bounded), shuffle-free and partitioning-preserving — the
    capped plan keeps the uncapped plan's whole shape."""
    raw = raw_plan_of(spark, 'dedup_exact_substr')
    assert 'CartesianProduct' not in raw
    assert 'BroadcastNestedLoop' not in raw
    assert re.search(r'HashJoin \[gram#\d+\], \[gram#\d+\]', raw), raw
    # spread_cluster: BY_NUM (pinned to parallelism) on the few-file
    # driver layout, BY_COL (AQE-elastic) on production layouts — the
    # invariant is the doc_id exchange itself, reused by the run-merge
    assert re.search(
        r'Exchange hashpartitioning\(doc_id#\d+L, \d+\), REPARTITION_BY_(NUM|COL)',
        raw,
    ), raw
    # no shuffle between the join and the final aggregate
    assert not re.search(
        r'Exchange hashpartitioning\(da#\d+L', raw
    ), raw
    assert 'partial_min' in raw  # map-side combine feeds the final merge
    # the df>cap anchor drop: one broadcast anti join per join side
    assert (
        len(
            re.findall(
                r'BroadcastHashJoin \[gram#\d+\], \[gram#\d+\], LeftAnti', raw
            )
        )
        == 2
    ), raw


def test_exact_substr_incremental_role_pushdown(spark):
    """dedup_exact_substr_incremental: the ingest-role predicates must
    reach the parquet scans (source = 'src1' on the incoming gram
    branch — the batch build reads only the batch; its negation on the
    corpus branch), the anchor join must key on the gram with the
    broadcast hot-gram anti join on both sides, and the run-merge must
    reuse the corpus branch's doc_id partitioning (zero da exchange) —
    the full reporter's plan shape with a delta-sized probe side."""
    raw = raw_plan_of(spark, 'dedup_exact_substr_incremental')
    assert re.search(
        r'PushedFilters: \[[^\]]*EqualTo\(source,src1\)', raw
    ), raw
    assert re.search(
        r'PushedFilters: \[[^\]]*Not\(EqualTo\(source,src1\)', raw
    ), raw
    assert re.search(r'HashJoin \[gram#\d+\], \[gram#\d+\]', raw), raw
    assert (
        len(re.findall(r'BroadcastHashJoin \[gram#\d+\], \[gram#\d+\], LeftAnti', raw))
        == 2
    ), raw
    assert 'CartesianProduct' not in raw
    assert 'BroadcastNestedLoop' not in raw
    assert not re.search(r'Exchange hashpartitioning\(da#\d+L', raw), raw
    assert 'partial_min' in raw


def test_exact_substr_cut_single_corpus_shuffle(spark):
    """pipeline_exact_substr_cut: the runs frame must be checkpointed
    (ExistingRDD — the match pipeline never re-runs per reference), the
    removal must be the positional array FILTER (no token explode, no
    (doc_id, p) composite-key shuffle, no reassembly aggregate), and
    the corpus must cross the wire exactly once: two exchanges total
    (the doc_id barrier + the tiny cut-array side), joined on doc_id."""
    raw = raw_plan_of(spark, 'pipeline_exact_substr_cut')
    assert 'ExistingRDD' in raw
    assert not re.search(r'Exchange hashpartitioning\(doc_id#\d+L, p#', raw)
    assert 'Generate posexplode' not in raw
    assert 'collect_list' not in raw  # no reassembly aggregate
    assert raw.count('Exchange') == 2, raw.count('Exchange')
    assert re.search(
        r'SortMergeJoin \[doc_id#\d+L\], \[doc_id#\d+L\], LeftOuter', raw
    ), raw


def test_tf_cosine_capped_postings_and_topk_shape(spark):
    """dedup_tf_cosine_capped: the postings pipeline (pinned on the
    exposed un-checkpointed helper — the query materializes it once)
    must carry the tokenize-once doc_id repartition barrier, a
    map-side-combinable df count, and a BROADCAST anti join dropping
    hot terms (never a shuffle or a nested loop); the final query must
    read the checkpoint (ExistingRDD), key the pair join on the TERM,
    and take the top-K via TakeOrderedAndProject — no global sort."""
    from cyclebane_spark.queries.dedup import _cos_capped_postings

    post = _cos_capped_postings(spark, SF_DIR)
    praw = post._jdf.queryExecution().executedPlan().toString()
    # spread_cluster: BY_NUM on the few-file driver layout, BY_COL on
    # production layouts (see the exact-substr pin above)
    assert re.search(
        r'Exchange hashpartitioning\(doc_id#\d+L, \d+\), REPARTITION_BY_(NUM|COL)',
        praw,
    ), praw
    assert 'partial_count' in praw  # map-side combine in the tf agg
    assert re.search(
        r'BroadcastHashJoin \[term#\d+\], \[term#\d+\], LeftAnti', praw
    ), praw
    assert 'SortMergeJoin' not in praw
    assert 'CartesianProduct' not in praw

    raw = raw_plan_of(spark, 'dedup_tf_cosine_capped')
    assert 'ExistingRDD' in raw
    assert 'TakeOrderedAndProject' in raw
    assert re.search(r'Join \[term#\d+\], \[term#\d+\]', raw) or re.search(
        r'HashJoin \[term#\d+\], \[term#\d+\]', raw
    ), raw
    assert 'CartesianProduct' not in raw
    assert 'BroadcastNestedLoop' not in raw


def test_unigram_train_step_stays_broadcast_and_bounded(spark):
    """text_unigram_train_step: every dictionary lookup (wf onto the
    Viterbi explode, ec onto the vocab, re-used across the four vec
    consumers) must be a BROADCAST hash join — no sort-merge join
    anywhere; the ONLY nested-loop is the broadcast 1-row d2 normalizer
    crossJoin; the global prune rank runs on the bounded multi-char
    inventory (single-partition exchanges stay at the pinned 3: rank
    window, its count, and the d2 fold — never a corpus sort)."""
    raw = raw_plan_of(spark, 'text_unigram_train_step')
    assert 'SortMergeJoin' not in raw
    assert 'CartesianProduct' not in raw
    assert raw.count('BroadcastNestedLoop') == 1, raw.count('BroadcastNestedLoop')
    assert raw.count('BroadcastHashJoin') >= 4
    assert raw.count('Exchange SinglePartition') == 3


def test_unigram_train_soft_stays_broadcast_and_bounded(spark):
    """text_unigram_train_soft: the soft E-step keeps the hard step's
    plan discipline — every lattice/posterior lookup is a BROADCAST hash
    join (the checkpointed dictionary-sized frames would otherwise fall
    to sort-merge joins), the ONLY nested loop is the 1-row d2
    normalizer crossJoin, and the single-partition exchanges stay at the
    pinned 3 (prune rank window, its count, the d2 fold) — never a
    corpus sort. Runtime bloom-filter subqueries that Catalyst injects
    against the checkpointed word frame each carry their own 1-row
    SinglePartition build fold — benign runtime join pruning, excluded
    from the pin: each bloom subquery prints exactly two
    bloom_filter_agg nodes (final + partial) around its one exchange."""
    raw = raw_plan_of(spark, 'text_unigram_train_soft')
    assert 'SortMergeJoin' not in raw
    assert 'CartesianProduct' not in raw
    assert raw.count('BroadcastNestedLoop') == 1, raw.count('BroadcastNestedLoop')
    assert raw.count('BroadcastHashJoin') >= 10
    n_bloom = raw.count('bloom_filter_agg')
    assert n_bloom % 2 == 0, n_bloom
    assert (
        raw.count('Exchange SinglePartition') - n_bloom // 2 == 3
    ), (raw.count('Exchange SinglePartition'), n_bloom)


def test_sessionization_spread_shares_the_window_exchange(spark):
    """events_sessionization (r11 optimization): the explicit user_id
    spread must be the ONLY exchange in the plan — hashpartitioning(
    user_id, N) satisfies the two window passes' required distribution
    AND the (user_id, session_id) aggregation's, so neither adds an
    ENSURE_REQUIREMENTS exchange. On the few-file driver layout the
    exchange is the pinned-count spread (REPARTITION_BY_NUM); on
    multi-split production layouts spread_small is a no-op and the
    window's own AQE-sized exchange returns (still exactly one)."""
    require_spread(spark)
    raw = raw_plan_of(spark, 'events_sessionization')
    assert raw.count('Exchange') == 1, raw
    assert 'REPARTITION_BY_NUM' in raw
    assert raw.count('Window') == 2


def test_sessionization_sweep_spreads_before_the_fanout(spark):
    """events_sessionization_sweep (r11 optimization): the user_id
    exchange must sit BELOW the 3x parameter fan-out (the shuffle
    carries 1x rows; the broadcast cross join multiplies them after),
    and the window passes must reuse that clustering — the only other
    exchange is the tiny final (timeout_min, user_id, session_id)
    aggregate one."""
    require_spread(spark)
    raw = raw_plan_of(spark, 'events_sessionization_sweep')
    fanout = raw.index('BroadcastNestedLoopJoin')
    spread = raw.index('REPARTITION_BY_NUM')
    assert spread > fanout, raw  # deeper in the tree = printed later
    # two shuffle exchanges (the param broadcast is not a shuffle)
    assert raw.count('Exchange hashpartitioning') == 2, raw
    assert raw.count('Window') == 2


def test_cms_spread_below_the_term_fanout(spark):
    """sketch_cms_frequency (r11 optimization): the doc_id spread must
    sit below the term explode and the 16x (r, bucket) fan-out so the
    md5 bucketing runs core-wide on the few-file driver layout; the
    exact-audit branch joins the counters via BROADCAST (the sketch is
    _CMS_D x _CMS_W rows, corpus-independent), never a shuffle join."""
    require_spread(spark)
    raw = raw_plan_of(spark, 'sketch_cms_frequency')
    assert 'REPARTITION_BY_NUM' in raw
    # the spread exchange carries (doc_id, text), not exploded terms
    assert re.search(
        r'Exchange hashpartitioning\(doc_id#\d+L, \d+\), REPARTITION_BY_NUM',
        raw,
    ), raw
    assert re.search(r'BroadcastHashJoin \[r#\d+', raw), raw
    assert 'CartesianProduct' not in raw


def test_q3_q5_probe_spread_keeps_pushdown(spark):
    """q3/q5 (r11 optimization): the spread of the filtered orders probe
    side must not cost the scans their predicate pushdown — the date
    bounds still reach PushedFilters below the repartition."""
    plan = plan_of(spark, 'q3_shipping_priority')
    assert 'LessThan(o_orderdate' in plan, plan
    assert 'GreaterThan(l_shipdate' in plan, plan
    plan = plan_of(spark, 'q5_local_supplier_volume')
    assert 'GreaterThanOrEqual(o_orderdate' in plan, plan
    assert 'LessThan(o_orderdate' in plan, plan


def test_tf_cosine_pairs_broadcast_guarded_by_layout(spark):
    """dedup_tf_cosine_pairs (r12, VERDICT r11 #2): the broadcast-postings
    AllPairs shape is allowed ONLY on the provably-small local few-file
    layout (the spread_small predicate) — the postings relation is
    corpus-sized, so an unguarded broadcast would be a driver OOM at
    scale, worse than the slow-but-graceful sort-merge join it replaced.
    Under the byte-cap toggle (the same one production layouts hit) the
    query must fall back to the original token self-join shape."""
    require_spread(spark)
    from cyclebane_spark.tables import SPREAD_MAX_BYTES_CONF

    # small local layout: broadcast-postings shape, pair stream never
    # crosses an exchange (the only exchanges are the spread + tok groupBy)
    raw = raw_plan_of(spark, 'dedup_tf_cosine_pairs')
    assert 'BroadcastHashJoin [tok' in raw, raw
    assert 'REPARTITION_BY_NUM' in raw, raw

    # layout not provably small (cap forced to 1 byte): the token
    # self-join shape — the corpus-sized collect_list postings build and
    # its FORCED broadcast are gone (the planner may still auto-broadcast
    # the tok join at tiny SFs from its own size estimate; that choice is
    # estimate-driven and reverts to sort-merge at scale, unlike a hint)
    old = spark.conf.get(SPREAD_MAX_BYTES_CONF, None)
    spark.conf.set(SPREAD_MAX_BYTES_CONF, '1')
    try:
        raw = raw_plan_of(spark, 'dedup_tf_cosine_pairs')
        assert 'collect_list' not in raw, raw
        assert 'filter(ps' not in raw, raw
        assert re.search(r'Join \[tok#\d+\], \[tok#\d+\]', raw), raw
    finally:
        if old is None:
            spark.conf.unset(SPREAD_MAX_BYTES_CONF)
        else:
            spark.conf.set(SPREAD_MAX_BYTES_CONF, old)


def test_spread_batch_keys_on_partition_count(spark):
    """spread_batch (r12): the micro-batch spread must key on the batch's
    ACTUAL partition count (file layout is invisible in foreachBatch —
    inputFiles() is empty there): under-partitioned -> repartition to
    defaultParallelism, already-wide -> untouched, kill-switch conf ->
    untouched."""
    require_spread(spark)
    import pyspark.sql.functions as F

    from cyclebane_spark.tables import SPREAD_MAX_BYTES_CONF, spread_batch

    par = spark.sparkContext.defaultParallelism
    one = spark.range(0, 1000).coalesce(1).withColumn('k', F.col('id') % 97)
    spread = spread_batch(one, 'k')
    assert spread is not one
    assert spread.rdd.getNumPartitions() == par

    wide = spark.range(0, 1000).repartition(par, 'id')
    assert spread_batch(wide, 'id') is wide

    old = spark.conf.get(SPREAD_MAX_BYTES_CONF, None)
    spark.conf.set(SPREAD_MAX_BYTES_CONF, '1')
    try:
        assert spread_batch(one, 'k') is one
    finally:
        if old is None:
            spark.conf.unset(SPREAD_MAX_BYTES_CONF)
        else:
            spark.conf.set(SPREAD_MAX_BYTES_CONF, old)


def test_provably_small_predicate(spark, tmp_path):
    """provably_small (r12): the layout predicate extracted from
    spread_small — True only for a local few-file under-cap input; False
    on multi-file layouts, over the byte cap, and where no file info
    exists (the production / foreachBatch cases)."""
    require_spread(spark)
    import pyspark.sql.functions as F

    from cyclebane_spark.tables import SPREAD_MAX_BYTES_CONF, provably_small

    par = spark.sparkContext.defaultParallelism
    single = str(tmp_path / 'single')
    spark.range(0, 1000).coalesce(1).write.mode('overwrite').parquet(single)
    one = spark.read.parquet(single)
    assert provably_small(one)
    # a derived plan keeps the same input files -> still provable
    assert provably_small(one.select((F.col('id') % 7).alias('k')))

    many_path = str(tmp_path / 'many')
    spark.range(0, 10_000).repartition(max(par, 2)).write.mode(
        'overwrite'
    ).parquet(many_path)
    assert not provably_small(spark.read.parquet(many_path))

    # no file info (e.g. a foreachBatch batch DataFrame): not provable
    assert not provably_small(spark.range(0, 10))

    old = spark.conf.get(SPREAD_MAX_BYTES_CONF, None)
    spark.conf.set(SPREAD_MAX_BYTES_CONF, '1')
    try:
        assert not provably_small(one)
    finally:
        if old is None:
            spark.conf.unset(SPREAD_MAX_BYTES_CONF)
        else:
            spark.conf.set(SPREAD_MAX_BYTES_CONF, old)


@pytest.mark.parametrize('cap', ['1', '0'])
def test_spread_kill_switch_disables_every_gate(spark, tmp_path, cap):
    """spark.cyclebane.spread.maxBytes <= 1 turns every layout gate off,
    on the input each of them would otherwise act on: one small local
    file. provably_small is False, spread_small and spread_batch return
    the input unchanged, and spread_cluster keeps only the exchange it
    always adds, with AQE-elastic sizing (no pinned partition count)."""
    require_spread(spark)
    from cyclebane_spark import tables

    path = str(tmp_path / 'single')
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert tables.provably_small(one)

    def logical(df):
        return df._jdf.queryExecution().logical().toString()

    old = spark.conf.get(tables.SPREAD_MAX_BYTES_CONF, None)
    spark.conf.set(tables.SPREAD_MAX_BYTES_CONF, cap)
    try:
        assert not tables.provably_small(one)
        assert tables.spread_small(one, 'id') is one
        assert tables.spread_batch(one, 'id') is one
        assert logical(tables.spread_cluster(one, 'id')) == logical(one.repartition('id'))
    finally:
        if old is None:
            spark.conf.unset(tables.SPREAD_MAX_BYTES_CONF)
        else:
            spark.conf.set(tables.SPREAD_MAX_BYTES_CONF, old)
