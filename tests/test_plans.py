"""Plan-shape assertions (SURVEY §5.2 #3): the physical plans must be
the ones we'd want at 100 TB — predicate pushdown into the parquet scan,
column pruning, broadcast joins for dims, TakeOrderedAndProject for
top-k. Correctness tests can't see these; .explain can.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from etl_spark_eks_spark import registry

registry.load_all()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_of(registry.QUERIES["q_b4_filter_conj"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "EqualTo(l_returnflag,A)" in plan


def test_column_pruning_flagship(spark, sf_dir):
    plan = plan_of(registry.QUERIES["q_b17_pricing_summary"](spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read_schema  # unused columns pruned
    assert "l_quantity" in read_schema


def test_broadcast_join_for_dims(spark, sf_dir):
    plan = plan_of(registry.QUERIES["q_b12_join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact side


def test_topk_no_global_sort(spark, sf_dir):
    plan = plan_of(registry.QUERIES["q_b33_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_strategies(spark, sf_dir):
    semi = plan_of(registry.QUERIES["q_b10_join_semi"](spark, sf_dir))
    anti = plan_of(registry.QUERIES["q_b11_join_anti"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """HashAggregate must appear twice (partial + final) around the
    exchange — map-side combine is what keeps 100 TB aggs cheap."""
    plan = plan_of(registry.QUERIES["q_b17_pricing_summary"](spark, sf_dir), "simple")
    assert plan.count("HashAggregate") >= 2


def test_minhash_no_duplicated_signature_evaluation(spark, sf_dir):
    """Regression guard for the q_c8 plan pathology (20x slowdown): the
    MinHash band expression must appear in the EXECUTED plan a bounded
    number of times — ``band_pairs`` localCheckpoints the banded table,
    so both join sides read checkpointed-RDD scans and the signature
    pipeline is not re-inlined into scan-adjacent Filters by
    InferFiltersFromGenerate nor expanded 32x by element_at over an
    inline signature array. The tokenize fragment (split on
    whitespace) is the marker; a duplicated plan is ~30x the bound
    (and the old plan string was 700 KB). The executed plan is the
    right thing to measure: extended mode re-prints 4 plan stages and
    over-counts materialization boundaries."""
    df = registry.QUERIES["q_c8_minhash_bands"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_tokenize = plan.count("split(text")
    assert n_tokenize <= 4, f"signature expression duplicated: {n_tokenize} copies"
    assert len(plan) < 100_000, f"plan blew up to {len(plan)} chars"
    assert "ExistingRDD" in plan


def test_prefix_jaccard_no_duplicated_signature_evaluation(spark, sf_dir):
    """Same guard as q_c8 for the prefix-filter Jaccard join (q_c16):
    the materialized signature table (the kernel's localCheckpoint)
    must appear as checkpointed-RDD scans, with the tokenize pipeline
    not re-inlined per consumer (prefix explode + two fetch-backs
    would mean 3 full recomputes, measured 6.5x)."""
    df = registry.QUERIES["q_c16_ngram_jaccard"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_tokenize = plan.count("split(text")
    # The exact render count varies with cache-substitution context
    # (2 standalone, 8 when earlier tests already populated the cache —
    # each InMemoryRelation site re-prints its build plan). The
    # pathology being guarded is ~30x per-consumer re-expansion and a
    # 700 KB plan string; a low teens count stays an order below it.
    assert n_tokenize <= 12, f"signature expression duplicated: {n_tokenize} copies"
    assert len(plan) < 100_000, f"plan blew up to {len(plan)} chars"
    assert "ExistingRDD" in plan


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """B60: both sides bucketed on the join key -> the join itself needs
    no Exchange and no Sort (bucketBy + sortBy satisfy the SMJ's
    requirements straight off the scan). Broadcast is disabled so the
    assertion exercises the co-located sort-merge path, not a broadcast
    that would also hide a shuffle."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.QUERIES["q_b60_bucketed_join"](spark, sf_dir)
        plan = plan_of(df)
        # the tree prints top-down, so everything AFTER the SortMergeJoin
        # line is the join's subtree: it must contain no Exchange (the
        # buckets satisfy the join's distribution straight off the scan);
        # the only exchanges allowed are above the join (agg + final sort)
        tree = plan.split("\n\n")[0]
        assert "SortMergeJoin" in tree
        below_join = tree.split("SortMergeJoin")[1]
        assert "Exchange" not in below_join
        assert plan.count("Bucketed: true") == 2
        assert "SelectedBucketsCount: 8 out of 8" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_persistent_catalog_partition_pruning(spark, sf_dir):
    """B61: the IN-filter on the partition column must become partition
    pruning at the catalog-table scan — 2 of 5 priority partitions read,
    the rest never opened. This is what the durable catalog buys over a
    bare path read."""
    df = registry.QUERIES["q_b61_persistent_catalog"](spark, sf_dir)
    plan = plan_of(df)
    scan_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "o_orderpriority" in scan_line
    assert "wh_orders_" in plan  # reading through the catalog table


def test_schema_drift_merges_and_prunes(spark, sf_dir):
    """B62: the crawler view reconciles the drifted column as nullable;
    the pinned projection over the same prefix still prunes to its fixed
    columns (ReadSchema excludes the drifted column)."""
    df = registry.QUERIES["q_b62_schema_drift"](spark, sf_dir)
    assert dict(df.dtypes)["o_orderpriority"] == "string"
    pinned = df.sparkSession.read.option("mergeSchema", "true").parquet(
        df.inputFiles()[0].rsplit("/", 1)[0]
    ).select("o_orderkey", "o_totalprice")
    read_schema = [
        l for l in plan_of(pinned).splitlines() if "ReadSchema" in l
    ][0]
    assert "o_orderpriority" not in read_schema


def test_unigram_freq_join_adaptive_broadcast(spark, sf_dir):
    """C26: the token->freq join carries NO broadcast hint in code (the
    vocabulary grows with corpus scale; an unconditional broadcast OOMed
    in round 1), but at fixture scale AQE must still pick a broadcast
    hash join from the observed shuffle size — the design relies on that
    runtime downgrade path, so pin it. The executed plan is inspected
    after the action because AQE finalizes join strategies at runtime."""
    df = registry.QUERIES["q_c26_unigram_logprob"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "AQE did not broadcast the freq side"
    # The 1-row global total is the only *hinted* broadcast (nested-loop
    # cross join); it must not have degraded to a cartesian SMJ.
    assert "BroadcastNestedLoopJoin" in plan


def test_tfidf_tf_bound_reaches_scan(spark, sf_dir):
    """C7: the doc_id < 100 oracle bound must be pushed into the TF
    side's parquet scan (round 2 applied it after the join, re-running
    the explode+agg over the whole corpus — a measured 4.2x), and the
    bounded tf side — not the corpus-sized df side — is the broadcast
    build."""
    df = registry.QUERIES["q_c7_tfidf"](spark, sf_dir)
    plan = plan_of(df)
    assert "LessThan(doc_id,100)" in plan, "tf bound not pushed to scan"
    assert "BroadcastHashJoin" in plan


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """B65: the whole point of bucketization is that the interval
    predicate executes as a HASH equi-join on the bucket id — the plan
    must contain no BroadcastNestedLoopJoin and no CartesianProduct
    (what Spark falls back to for a bare BETWEEN join condition)."""
    df = registry.QUERIES["q_b65_range_join_bucketed"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_domain_caps_window_group_limit(spark, sf_dir):
    """C33: rank <= K over the per-source window must execute with
    WindowGroupLimit — each task pre-limits to K rows per key BEFORE
    the shuffle, which is what bounds skewed domains at scale. Executed
    plan inspected because the rule applies post-AQE."""
    df = registry.QUERIES["q_c33_domain_caps"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_dynamic_partition_pruning_in_fact_scan(spark, sf_dir):
    """B67: the fact scan's PartitionFilters must contain a
    dynamicpruning expression fed by the dim join — the runtime
    counterpart of B61's static IN-pruning."""
    df = registry.QUERIES["q_b67_dynamic_partition_pruning"](spark, sf_dir)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), "no DPP in fact scan"


def test_shared_chunks_no_expand(spark, sf_dir):
    """C37: the distinct-doc count must plan as a two-level aggregate —
    an Expand node would double the exploded chunk stream (the
    q_b19/q_c5 regression class)."""
    plan = plan_of(registry.QUERIES["q_c37_shared_chunks"](spark, sf_dir))
    assert "Expand" not in plan


def test_range_frame_single_user_shuffle(spark, sf_dir):
    """B70: one hashpartitioning exchange on user_id, no global
    (single-partition) exchange anywhere — the frame is evaluated
    inside the per-user sort."""
    plan = plan_of(registry.QUERIES["q_b70_range_frame"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "SinglePartition" not in plan


def test_inverted_index_single_token_exchange(spark, sf_dir):
    """C42: the rank window and the aggregate must share ONE token
    exchange (same partitioning key — a second shuffle of the pairs
    would double the operator's only data movement)."""
    plan = plan_of(registry.QUERIES["q_c42_inverted_index"](spark, sf_dir))
    assert plan.count("hashpartitioning(token") == 1


def test_observed_metrics_match_independent_scan(spark, sf_dir):
    """B78: the observation attached to the pre-filter scan must report
    the full-table row count and quantity sum — audit counters with no
    second scan. Reconstructed here to read the Observation after an
    action (the registered query hands its DataFrame to the driver
    before any action runs)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_spark_eks_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.round(F.sum("l_quantity"), 6).alias("qty_scanned"),
    )
    observed.filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    ).groupBy("l_returnflag").count().collect()
    expected_rows = li.count()
    expected_qty = li.agg(F.round(F.sum("l_quantity"), 6)).first()[0]
    got = obs.get
    assert got["rows_scanned"] == expected_rows
    assert abs(got["qty_scanned"] - expected_qty) < 1e-6


def test_stable_seq_ids_corpus_window_partitioned(spark, sf_dir):
    """C46: the CORPUS-sized ranking window must run partitioned by the
    hash-range bucket (`hashpartitioning(__bucket`), never as the
    single-task global window the oracle SQL uses (`ROW_NUMBER() OVER
    (ORDER BY ...)`). A SinglePartition exchange IS allowed — but only
    for the 256-row bucket-offset window, which is the design's serial
    step; guarded by asserting the partitioned in-bucket window exists
    alongside it."""
    plan = plan_of(registry.QUERIES["q_c46_stable_seq_ids"](spark, sf_dir))
    assert "hashpartitioning(__bucket" in plan


def test_sketch_partials_merge_not_rescan(spark, sf_dir):
    """C47: the merged per-source estimate must aggregate the PARTIAL
    sketch table (source, shard), not re-explode tokens. Pinned shape:
    exactly 4 hash exchanges — (source, token) partial + (source)
    final on the exact-verify arm, (source, shard) partial + (source)
    merge on the sketch arm — and token appears in exactly ONE of them
    (the exact arm's distinct expansion; the sketch merge moves only
    sketch binaries). A regression that re-explodes tokens after the
    merge would add a token-carrying exchange and fail the pin."""
    plan = plan_of(registry.QUERIES["q_c47_sketch_partials"](spark, sf_dir))
    assert "hll_union_agg" in plan or "hll_union" in plan
    assert plan.count("hashpartitioning(") == 4
    token_exchanges = [
        l for l in plan.splitlines()
        if "hashpartitioning(" in l and "token" in l
    ]
    assert len(token_exchanges) == 1, token_exchanges


def test_recursive_cte_no_join_single_exchange(spark, sf_dir):
    """B84: each recursion step must be a projection+filter over the
    previous frontier (rows x depth intermediate) — the plan contains
    the native recursion node, NO join anywhere (a self-join per step
    would be rows x rows), and exactly one shuffle: the final group-by
    on start_key."""
    plan = plan_of(registry.QUERIES["q_b84_recursive_cte"](spark, sf_dir))
    assert "Loop" in plan  # UnionLoop: Spark 4's recursive-CTE executor
    assert "Join" not in plan
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(start_key" in plan


def test_funnel_only_user_id_shuffles(spark, sf_dir):
    """B85: the three-stage cascade must key every exchange on user_id
    — no shuffle on ts/event_type, no cartesian. At fixture scale the
    per-stage frontier tables are small enough that Spark broadcasts
    them (strictly better than re-shuffling); at cluster scale they'd
    degrade to sort-merge joins sharing the same user_id partitioning.
    Either way a non-user_id exchange means the cascade lost its
    co-partitioning."""
    plan = plan_of(registry.QUERIES["q_b85_funnel_analysis"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    bad = [
        l for l in plan.splitlines()
        if "hashpartitioning(" in l and "user_id" not in l
    ]
    assert not bad, bad
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_classifier_quality_broadcasts_weights(spark, sf_dir):
    """C49: the 256-row weight table must broadcast to the exploded
    token features — the corpus-sized token stream is never shuffled
    on fidx/token; the plan's only hash exchange is the per-doc logit
    aggregation on doc_id."""
    plan = plan_of(
        registry.QUERIES["q_c49_classifier_quality"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(doc_id" in plan


def test_lateral_join_decorrelates_to_window_limit(spark, sf_dir):
    """B86: the correlated LATERAL subquery must decorrelate — rank
    window with WindowGroupLimit pushdown over ONE orders shuffle on
    o_custkey, no nested-loop/cartesian per-row re-execution."""
    plan = plan_of(registry.QUERIES["q_b86_lateral_join"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(o_custkey" in plan


def test_merge_upsert_single_co_shuffle(spark, sf_dir):
    """B87: MERGE must touch the base in ONE co-shuffled full-outer
    join — two key exchanges total (base + change batch), no second
    base-sized anti-join pass for the insert branch."""
    plan = plan_of(registry.QUERIES["q_b87_merge_upsert"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 2


def test_int8_quantize_broadcasts_bounds(spark, sf_dir):
    """C53: pass 2 must broadcast the dim-row bounds table to the
    posexploded corpus — the only hash exchange is pass 1's tiny
    per-dim min/max aggregation; the corpus itself never shuffles."""
    plan = plan_of(registry.QUERIES["q_c53_int8_quantize"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    hp = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert len(hp) == 1 and "pos" in hp[0], hp


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    """C55: the candidate shingle stream must NOT shuffle on the
    shingle key for the membership test — the benchmark set joins by
    broadcast; only the benchmark distinct and the per-doc re-agg
    exchange."""
    plan = plan_of(
        registry.QUERIES["q_c55_ngram_contamination"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    bad = [
        l for l in plan.splitlines()
        if "hashpartitioning(sh#" in l
    ]
    assert not bad, bad


def test_orc_source_filter_pushdown(spark, sf_dir):
    """B92: the price predicate must reach the ORC scan's pushed
    filters (stripe min-max skipping) — format parity with parquet's
    pushdown machinery."""
    plan = plan_of(registry.QUERIES["q_b92_orc_source"](spark, sf_dir))
    scan = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scan and "GreaterThan(o_totalprice" in scan[0], scan


def test_quota_sample_window_group_limit(spark, sf_dir):
    """C56: rank<=10 must execute as WindowGroupLimit (per-group 10-row
    heap inside the sort), one shuffle on the group key."""
    plan = plan_of(registry.QUERIES["q_c56_quota_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert plan.count("hashpartitioning(") == 1
    assert "hashpartitioning(source" in plan


def test_pipe_syntax_same_plan_shape_as_select(spark, sf_dir):
    """B95: pipe SQL is surface, not semantics — the |> chain must
    lower to the standard shape: pushdown into the scan, partial+final
    hash aggregation around one exchange."""
    plan = plan_of(
        registry.QUERIES["q_b95_pipe_syntax"](spark, sf_dir), "simple"
    )
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan


def test_sql_udf_inlines_to_pure_codegen(spark, sf_dir):
    """B101: SQL UDFs must be INLINED by Catalyst — no Python
    evaluation node, no serialization boundary; the plan is the same
    pushed-down partial-agg shape as writing the arithmetic out."""
    plan = plan_of(registry.QUERIES["q_b101_sql_udf"](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "PushedFilters" in plan


def test_cogrouped_map_single_co_shuffle(spark, sf_dir):
    """B100: cogroup must plan ONE exchange per side on the key (the
    join-equivalent co-shuffle), feeding a single FlatMapCoGroups —
    not a join followed by a regroup."""
    plan = plan_of(registry.QUERIES["q_b100_cogrouped_map"](spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan
    assert plan.count("hashpartitioning(") == 2


def test_bm25_filters_terms_before_shuffle(spark, sf_dir):
    """C60: the query-term IN-filter must sit below the (doc, term)
    aggregation (only query-term pairs shuffle), and the df/idf and
    scalar stats joins must broadcast — never shuffle the tf side."""
    plan = plan_of(registry.QUERIES["q_c60_bm25_topk"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats cross join
    filt = [l for l in plan.splitlines() if "Filter" in l and "term" in l]
    assert any("join" in l and "vector" in l for l in filt), (
        "IN-list term filter not found below the aggregation"
    )


def test_pagerank_edges_never_shuffle(spark, sf_dir):
    """C61: with ranks broadcast, the only exchanges in the final
    round's plan are the groupBy(dst) aggregations — the edge scan
    side must join via BroadcastHashJoin."""
    plan = plan_of(registry.QUERIES["q_c61_pagerank"](spark, sf_dir), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unicode_normalize_is_shuffle_free(spark, sf_dir):
    """C62: normalization must plan as a scan -> ArrowEvalPython
    projection with ZERO exchanges — it runs at scan speed or it
    doesn't belong in the ingest path."""
    plan = plan_of(
        registry.QUERIES["q_c62_unicode_normalize"](spark, sf_dir), "simple"
    )
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan


def test_scd2_single_user_exchange(spark, sf_dir):
    """C65: both row_number windows, the run aggregation, and the
    LEAD must reuse ONE user_id hash-partitioning — the corpus
    shuffles once; everything downstream is local sorts."""
    plan = plan_of(registry.QUERIES["q_c65_scd2_history"](spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_containment_persists_signature_table(spark, sf_dir):
    """C64: probe, index, and both fetch-back sides must read ONE
    materialized shingle-set table, not re-run the tokenize+hash
    pipeline per consumer (the measured 6.5x q_c16 failure mode). The
    kernel checkpoints the table, so the returned plan scans the
    checkpointed RDD and renders the tokenize pipeline at most once
    (the q_c8/q_c27 counting technique: per-consumer re-tokenization
    would show four or more copies), and no cache entry outlives the
    call (the r7 leak)."""
    from etl_spark_eks_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    spark.catalog.clearCache()
    df = containment_pairs(docs, 0.8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    n_tok = plan.count("split(text")
    assert n_tok <= 1, f"shingle pipeline re-run per consumer: {n_tok}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    df = registry.QUERIES["q_c64_containment_neardup"](spark, sf_dir)
    assert "ExistingRDD" in plan_of(df, "simple")


def test_cluster_canonicals_rerank_on_label_table_only(spark, sf_dir):
    """C58: the quality re-rank must run on the LABEL table, not a
    re-clustered corpus — the clustering arm is localCheckpoint'd, so
    the final plan may scan documents.parquet exactly ONCE (the quality
    branch); and both windows (rank + cluster size) must partition by
    cluster_id — a SinglePartition window over the corpus would be the
    single-task cliff at 100x."""
    plan = plan_of(registry.QUERIES["q_c58_cluster_canonicals"](spark, sf_dir))
    doc_scans = [
        l for l in plan.splitlines()
        if "Scan parquet" in l or ("Location" in l and "documents.parquet" in l)
    ]
    doc_locations = [l for l in doc_scans if "documents.parquet" in l]
    assert len(doc_locations) == 1, doc_locations
    assert "hashpartitioning(cluster_id" in plan
    # the only windows in the plan are the two cluster-bounded ones
    win_lines = [l for l in plan.splitlines() if l.strip().startswith("Window")
                 or ") Window" in l]
    assert win_lines, "expected Window nodes in plan"
    assert "SinglePartition" not in plan


def _prefix_sum_plan_is_bucket_serial_only(plan: str) -> None:
    """Shared assertion for the two-phase prefix sum consumers: the
    in-bucket running-sum window must run partitioned by __bucket, and
    any SinglePartition exchange may feed ONLY the bucket-offset window
    (a bucket-count-sized table), never a corpus-sized input. In the
    physical plan the offset window shows up as the unpartitioned
    `Window ... ORDER BY __bucket` over the per-bucket aggregate —
    whose input is the groupBy(__bucket) HashAggregate, so its row
    count is n/bucket_size by construction."""
    assert "hashpartitioning(__bucket" in plan or (
        "hashpartitioning(" in plan and "__bucket" in plan
    ), "in-bucket window must be partitioned by __bucket"
    # every SinglePartition exchange must be bucket-table-sized: the only
    # path that materializes one is the offset window over the
    # per-bucket aggregate, which orders by __bucket
    if "SinglePartition" in plan:
        assert "__bucket" in plan


def test_pack_shards_prefix_sum_bucket_serial_only(spark, sf_dir):
    """C24: the token packer's only serial step is the bucket-offset
    window (n/bucket_size rows), pinned via the shared prefix-sum
    assertion."""
    plan = plan_of(registry.QUERIES["q_c24_pack_shards"](spark, sf_dir))
    _prefix_sum_plan_is_bucket_serial_only(plan)


def test_curriculum_phases_prefix_sum_bucket_serial_only(spark, sf_dir):
    """C68: the quality-curriculum binning rides the same two-phase
    prefix sum — same pin: corpus-side window partitioned by __bucket,
    serial work bounded by the bucket table."""
    plan = plan_of(registry.QUERIES["q_c68_curriculum_phases"](spark, sf_dir))
    _prefix_sum_plan_is_bucket_serial_only(plan)


def test_weighted_reservoir_take_ordered_no_shuffle(spark, sf_dir):
    """C69: the A-ES sample must plan as TakeOrderedAndProject with
    ZERO exchanges — per-partition k-heaps, driver merges p*k rows;
    a global sort or a corpus shuffle here would be the 100x cliff."""
    plan = plan_of(registry.QUERIES["q_c69_weighted_reservoir"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_interval_overlap_join_is_hash_join(spark, sf_dir):
    """B109: the grid-bucket decomposition must plan the candidate
    pairing as a HASH join on the bucket key — never the
    BroadcastNestedLoopJoin/CartesianProduct a raw interval-theta-join
    degenerates to."""
    plan = plan_of(
        registry.QUERIES["q_b109_interval_overlap_join"](spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_bitmap_distinct_partial_fold(spark, sf_dir):
    """B106: the bitmap fold must aggregate map-side — partial
    bitmap_construct_agg BEFORE the (event_type, bucket) exchange, so
    the shuffle carries bitmaps, never raw user_ids; and the final
    fold is bucket-count-bounded."""
    plan = plan_of(registry.QUERIES["q_b106_bitmap_distinct"](spark, sf_dir))
    assert "partial_bitmap_construct_agg" in plan
    assert "SinglePartition" not in plan


def test_ngram_novelty_single_corpus_scan(spark, sf_dir):
    """C72: min-doc table and per-doc stream must both derive from ONE
    tokenize pass — the join-back shape re-uses the exploded shingle
    stream via exchange/subquery reuse or a second scan of the SAME
    pruned columns; pinned loosely: no SinglePartition anywhere and
    the join is on the shingle hash."""
    plan = plan_of(registry.QUERIES["q_c72_ngram_novelty"](spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(sh" in plan


def test_plan_lint_no_new_antipatterns(spark, sf_dir):
    """Mechanical plan lint over EVERY batch query (tools/plan_lint.py):
    no CartesianProduct/BroadcastNestedLoopJoin, no row-at-a-time
    Python, no SinglePartition exchange — except the explicitly
    allowlisted shapes whose docstrings own the justification
    (k-sized tails, 1-row stat tables, bucket-offset windows, the
    declared theta/cross surface demos) — and no query, streaming ones
    included, writes its caller's conf while it is built. A new
    operator that silently plans an anti-pattern fails here with a
    pointer to the lint."""
    import sys
    from pathlib import Path

    tools = str(Path(__file__).resolve().parent.parent / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import plan_lint

    # reuse the session fixture's scale via the lint's own tiny SF;
    # the lint builds plans only (no DuckDB), ~2 min for the suite
    violations, dead = plan_lint.lint()
    assert not violations, f"plan anti-patterns: {violations}"
    # A dead entry means a plan improved past its allowlisted pattern:
    # delete the entry so the allowlist shrinks (VERDICT r6 item 4).
    assert not dead, f"dead allowlist entries — delete them: {dead}"


def test_cached_multi_action_reads_memory_not_files(spark, sf_dir):
    """B117: both aggregation branches of the union must read the
    cached intermediate (two InMemoryTableScans), and the file scan
    must appear only INSIDE the cached relation — the whole point is
    that lineitem is scanned once, not once per consumer (the
    reference job's triple-scan defect, SURVEY §3.3)."""
    df = registry.QUERIES["q_b117_cached_multi_action"](spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("InMemoryTableScan") >= 2, plan
    # The only FileScan of lineitem lives inside the InMemoryRelation
    # (the cache's own materialization plan), not at the leaves of
    # either aggregation branch.
    physical = plan.split("== Physical Plan ==")[1]
    before_cache = physical.split("InMemoryRelation")[0]
    assert "Scan parquet" not in before_cache, before_cache


def test_zorder_layout_is_single_range_exchange(spark, sf_dir):
    """C74: the z-value bit-interleave must stay a JVM expression —
    no Python evaluation anywhere — and the only wide operation in
    the write plan is the range exchange on the z key (the stats agg
    broadcast-joins)."""
    from etl_spark_eks_spark.catalog import load_table
    from etl_spark_eks_spark.operators.layout import zvalue_column
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("p_lo"), F.max("l_partkey").alias("p_hi"),
        F.min("l_suppkey").alias("s_lo"), F.max("l_suppkey").alias("s_hi"),
    )
    q = li.crossJoin(F.broadcast(bounds))
    qa = F.floor(((F.col("l_partkey") - F.col("p_lo")) * 256).cast("long")
                 / (F.col("p_hi") - F.col("p_lo") + 1)).cast("int")
    qb = F.floor(((F.col("l_suppkey") - F.col("s_lo")) * 256).cast("long")
                 / (F.col("s_hi") - F.col("s_lo") + 1)).cast("int")
    laid = q.withColumn("zval", zvalue_column(qa, qb)).repartitionByRange(
        8, "zval"
    )
    plan = plan_of(laid)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("rangepartitioning") + plan.count("RangePartitioning") >= 1, plan


def test_cbo_stats_drive_broadcast_without_hint(spark, sf_dir):
    """B119: with ANALYZEd tables, CBO on, and AQE OFF, the planner
    must pick BroadcastHashJoin for the filtered dim side purely from
    catalog statistics — no broadcast() hint anywhere in the query.
    (With AQE the choice could come from runtime shuffle sizes; AQE is
    disabled in the probe session precisely to isolate the cost
    model.)"""
    from etl_spark_eks_spark.operators.catalog_queries import cbo_join_plan

    # ensure tables + stats exist
    registry.QUERIES["q_b119_analyze_cbo_stats"](spark, sf_dir).count()
    plan = cbo_join_plan(spark, sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "AdaptiveSparkPlan" not in plan, plan


def test_distribute_sort_by_is_local_sort_only(spark, sf_dir):
    """B120: DISTRIBUTE BY + SORT BY must plan one hash exchange and a
    NON-global sort — never a range exchange or global ordering (that
    would be ORDER BY's plan, the thing this surface exists to
    avoid)."""
    df = registry.QUERIES["q_b120_distribute_sort_by"](spark, sf_dir)
    plan = plan_of(df)
    assert "hashpartitioning(l_returnflag" in plan, plan
    # formatted mode spells a Sort's arguments "[keys...], <global>, 0";
    # the layout sort must be local (global=false)
    assert "], false, 0" in plan, plan
    assert "], true, 0" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_source_overlap_contracts_before_pairing(spark, sf_dir):
    """C83: the overlap matrix must aggregate (shingle -> source set)
    BEFORE pair expansion — never self-join the occurrence stream
    (quadratic per hot shingle). Pin: a collect_set aggregate exists
    and no cartesian/nested-loop join appears."""
    plan = plan_of(
        registry.QUERIES["q_c83_source_overlap_matrix"](spark, sf_dir)
    )
    assert "collect_set" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_payload_entropy_no_shuffle(spark, sf_dir):
    """M11: the byte histogram is computed inside mapInPandas — the
    plan must contain NO Exchange at all (scan -> project -> Python
    -> result), because the |payload|-sized intermediate never leaves
    the worker."""
    plan = plan_of(registry.QUERIES["q_m11_payload_entropy"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_blocklist_single_small_shuffle(spark, sf_dir):
    """C82: the only corpus-wide movement is the aggregation keyed on
    <= |blocklist| grams; the isin pre-filter must sit with the
    generator (no join against the corpus stream), so the plan carries
    no cartesian and the phrase dim joins broadcast."""
    plan = plan_of(
        registry.QUERIES["q_c82_blocklist_phrases"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # exchange NODES (formatted explain lists each twice: tree + detail);
    # all post-filter — the distinct-agg pair, the zero-keep broadcast,
    # and the 5-row result sort
    import re as _re

    n_exchange_nodes = len(_re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan))
    assert n_exchange_nodes <= 6, plan


def test_knn_matmul_no_pair_shuffle(spark, sf_dir):
    """C89: the matmul kNN must keep the pair matrix inside Python —
    plan shows MapInPandas feeding a window on qid, with NO cartesian
    and no join at all; the only exchange after the scan carries the
    per-batch top-k survivors."""
    plan = plan_of(registry.QUERIES["q_c89_knn_matmul"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_runtime_bloom_filter_reaches_probe_scan(spark, sf_dir):
    """B132: with broadcast off and a selective build side, the probe
    side's plan must carry a might_contain() runtime filter fed by a
    bloom_filter_agg subquery — row-level pruning BEFORE the shuffle."""
    plan = plan_of(
        registry.QUERIES["q_b132_runtime_bloom_join"](spark, sf_dir)
    )
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan


def test_topn_per_group_uses_window_group_limit(spark, sf_dir):
    """B27: rank()<=k over a window must plan Spark 3.5+'s
    WindowGroupLimit — each map task keeps only k rows per group
    BEFORE the shuffle, so the exchange carries groups x k rows, not
    the corpus. (Without it, top-n-per-group shuffles everything and
    sorts whole groups.)"""
    plan = plan_of(registry.QUERIES["q_b27_topn_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_execute_immediate_binds_not_splices(spark, sf_dir):
    """B134: USING parameters must bind as typed literals — a value
    crafted as a classic quote-breakout ("F' OR '1'='1") must match
    ZERO rows (it is compared as that literal string), not all rows
    (which string splicing would produce). This is the injection
    boundary the gateway surface exists to keep."""
    from etl_spark_eks_spark.catalog import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    hostile = "F' OR '1'='1"
    [row] = spark.sql(
        "EXECUTE IMMEDIATE 'SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderstatus = ?' USING :v",
        args={"v": hostile},
    ).collect()
    assert row["n"] == 0
    [row] = spark.sql(
        "EXECUTE IMMEDIATE 'SELECT COUNT(*) AS n FROM orders "
        "WHERE o_orderstatus = ?' USING 'F'"
    ).collect()
    assert row["n"] > 0


def test_join_strategy_hints_pin_all_three(spark, sf_dir):
    """B136: the three hinted branches must actually plan their
    strategy — BroadcastHashJoin, SortMergeJoin AND ShuffledHashJoin
    all present in the one unioned plan. If a hint were dropped (or
    AQE re-planned it away at compile time) a branch would fall back
    and a node type would vanish."""
    plan = plan_of(
        registry.QUERIES["q_b136_join_strategy_hints"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" in plan


def test_dsir_weight_join_is_broadcast(spark, sf_dir):
    """C91: the 256-row bucket-weight table must broadcast onto the
    token-bucket stream — a sort-merge join there would shuffle the
    corpus-sized feature table on a 256-value key (maximal skew)."""
    plan = plan_of(
        registry.QUERIES["q_c91_dsir_importance"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    # top-k must be the per-partition-heap form, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_aspect_bucket_argmin_is_projection(spark, sf_dir):
    """M13: nearest-rung selection must stay a per-row projection —
    no join against an exploded ladder, no sort-merge join anywhere;
    the only joins are the two broadcasts (rung dims, final 5-row
    agg) and the only corpus pass is the Arrow decode."""
    plan = plan_of(registry.QUERIES["q_m13_aspect_bucket"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan
    # exactly two joins, both broadcast (tree lines carry the type)
    assert plan.count("BroadcastHashJoin Inner") == 1
    assert plan.count("BroadcastHashJoin LeftOuter") == 1


def test_perplexity_buckets_no_per_lang_single_task_window(spark, sf_dir):
    """C92: the per-language rank must come from the two-phase prefix
    sum — every window in the plan is partitioned by (lang, bucket) or
    runs on the bucket-count-sized offset table; a naive NTILE plan
    would show a Window whose partitioning is just [lang#..] over the
    full doc table. We pin the absence of the ntile function itself."""
    plan = plan_of(
        registry.QUERIES["q_c92_perplexity_buckets"](spark, sf_dir)
    )
    assert "ntile" not in plan.lower()


def test_intradoc_dedup_pure_projection(spark, sf_dir):
    """C93: the rewrite is a pure per-row projection — no hash
    shuffle, no single-partition fold, no broadcast, no join, no
    aggregate anywhere in the plan. The only exchange permitted is
    widen()'s small-fixture round-robin (a no-op at scan-split
    parallelism, catalog.py)."""
    plan = plan_of(registry.QUERIES["q_c93_intradoc_dedup"](spark, sf_dir))
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan
    assert "Broadcast" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan
    assert plan.count("RoundRobinPartitioning") <= 1


def test_matryoshka_recall_no_corpus_shuffle(spark, sf_dir):
    """C94: queries broadcast onto the corpus scan (the C3 contract
    extended with the dims explode) — no sort-merge join anywhere;
    the corpus-sized stream that shuffles is the (dim, qid, cid, sim)
    triples into the per-(dim, qid) top-k windows."""
    plan = plan_of(
        registry.QUERIES["q_c94_matryoshka_recall"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_column_default_backfill_is_metadata_only(spark, tmp_path):
    """B137's 100 TB claim, pinned: ALTER TABLE ADD COLUMN ... DEFAULT
    must NOT rewrite existing parquet files — the same physical files
    (path + mtime) serve the new column from the existence default."""
    import os

    name = "t_default_pin"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = str(tmp_path / "t_default_pin")
    spark.sql(
        f"CREATE TABLE {name} (id BIGINT) USING parquet LOCATION '{loc}'"
    )
    spark.sql(f"INSERT INTO {name} VALUES (1), (2)")

    def files():
        return sorted(
            (p, os.path.getmtime(os.path.join(loc, p)))
            for p in os.listdir(loc)
            if p.endswith(".parquet")
        )

    before = files()
    spark.sql(f"ALTER TABLE {name} ADD COLUMN tag STRING DEFAULT 'x'")
    rows = spark.sql(f"SELECT id, tag FROM {name} ORDER BY id").collect()
    assert files() == before, "backfill rewrote data files"
    assert [(r["id"], r["tag"]) for r in rows] == [(1, "x"), (2, "x")]
    spark.sql(f"DROP TABLE {name}")


def test_gopher_rules_single_pass_no_explode(spark, sf_dir):
    """C95: all seven rules are array higher-order functions evaluated
    inside the scan partition — no Generate (explode) node, no join,
    and exactly one hash shuffle (the final 5-row lang aggregate).
    A token-explode formulation would show Generate + a corpus-sized
    exchange; this pin keeps the gate a single streaming pass."""
    plan = plan_of(registry.QUERIES["q_c95_gopher_rules"](spark, sf_dir))
    assert "Generate" not in plan
    assert "Join" not in plan
    assert plan.count("hashpartitioning") <= 1


def test_exchange_reuse_single_scan(spark, sf_dir):
    """B139: the two extremes branches must share the aggregate's
    shuffle — the executed plan contains a ReusedExchange node, and
    the orders scan appears exactly once (the reuse rule runs during
    physical planning/AQE, so the plan is read back after one
    execution)."""
    df = registry.QUERIES["q_b139_exchange_reuse"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final
    assert final.count("Scan parquet") == 1


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """B140: the executed plan must show AQE's skew handling — the
    final SortMergeJoin carries skew=true (OptimizeSkewedJoin split
    the 70%-hot partition into advisory-sized slices). Guards the
    whole conf recipe: thresholds scaled to fixture shuffle sizes,
    force flag for the join-then-reaggregate shape, and the
    multi-mapper fact (a single-mapper shuffle cannot be split)."""
    out = registry.QUERIES["q_b140_aqe_skew_join"](spark, sf_dir)
    out.collect()
    plan = plan_of(out)
    final = plan.split("+- == Initial Plan ==")[0]
    assert "skew=true" in final
    assert "SortMergeJoin" in final


def test_pcm_segments_no_shuffle(spark, sf_dir):
    """M14: framing/gating/merging all happen inside mapInPandas — the
    segment query's plan may contain no Exchange besides the
    presentation sort's range partitioning, and no Generate (the
    |payload|-row explode the SQL formulation would pay)."""
    plan = plan_of(
        registry.QUERIES["q_m14_pcm_energy_segments"](spark, sf_dir)
    )
    assert "MapInPandas" in plan
    assert "Generate" not in plan
    # the only exchange is the presentation sort's range partitioning
    assert "rangepartitioning" in plan
    assert "hashpartitioning" not in plan


def test_semantic_decontam_broadcast_argmax(spark, sf_dir):
    """C98: the eval side must broadcast (no SortMergeJoin anywhere)
    and the argmax must be a partial-aggregated groupBy — exactly one
    corpus-keyed hashpartitioning for the max fold plus the doc join,
    never the pair stream."""
    plan = plan_of(
        registry.QUERIES["q_c98_semantic_decontam"](spark, sf_dir)
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_max" in plan


def test_dynamic_overwrite_leaves_untouched_files_alone(spark, sf_dir):
    """B144: dynamic partition overwrite must not REWRITE untouched
    partitions — their data files (path + mtime) must be byte-level
    identical before and after the wave-2 overwrite (the B137
    metadata-only discipline applied to partition replacement).
    Catching this at the file level matters because the query-level
    oracle would still pass if Spark rewrote everything."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_spark_eks_spark.catalog import load_table
    from etl_spark_eks_spark.sources.parquet_io import fresh_scratch

    tbl = fresh_scratch("t_b144_files", sf_dir.strip("/").replace("/", "_"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    o.withColumn("batch", F.lit(1)).write.partitionBy(
        "o_orderpriority"
    ).parquet(tbl)

    def snapshot(prio):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(
                os.path.join(tbl, f"o_orderpriority={prio}", "*.parquet")
            )
        }

    before = snapshot("3-MEDIUM")
    assert before, "fixture must have a 3-MEDIUM partition"
    (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .withColumn("batch", F.lit(2))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderpriority")
        .parquet(tbl)
    )
    assert snapshot("3-MEDIUM") == before


def test_b153_avro_probe_and_registration(spark, sf_dir):
    """B153 automated availability probe (VERDICT r6 item 3): q_b153
    self-registers iff the external spark-avro datasource jar is in
    the pyspark distribution (it is not in this container and cannot
    be downloaded). When absent, the documented skip holds — Avro is
    the only lake-trio format without a landing operator, by
    environment, not by gap; when the jar appears, this test upgrades
    to a full round-trip check with no code change."""
    from etl_spark_eks_spark.operators.catalog_queries import (
        avro_available,
    )
    from etl_spark_eks_spark import registry

    if not avro_available():
        assert "q_b153_avro_source" not in registry.QUERIES, (
            "q_b153 must not register without the spark-avro jar"
        )
        return  # probe note: spark-avro absent; B92 covers columnar trio
    assert "q_b153_avro_source" in registry.QUERIES
    got = registry.QUERIES["q_b153_avro_source"](spark, sf_dir)
    want = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long")
            .alias("total_cents"),
        )
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_b161_subquery_is_decorrelated(spark, sf_dir):
    """B161's docstring claim: the correlated scalar subquery executes
    as a decorrelated per-custkey aggregate joined back — never a
    nested-loop re-evaluation of the inner query per row."""
    plan = plan_of(
        registry.QUERIES["q_b161_correlated_scalar_subquery"](
            spark, sf_dir
        )
    )
    assert "HashAggregate" in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_composites_plan_shape(spark, sf_dir):
    """B164/B166: top-N tails plan TakeOrderedAndProject (never a
    global sort of the aggregate) and the date/segment predicates
    reach the scans (PushedFilters non-empty)."""
    for key in ("q_b164_tpch_q3", "q_b166_tpch_q10"):
        plan = plan_of(registry.QUERIES[key](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, (key, plan)
        assert "PushedFilters: [" in plan, key
        # at least one scan carries a real pushed predicate
        assert any(
            "PushedFilters: [" in ln and "[]" not in ln
            for ln in plan.splitlines()
        ), (key, plan)


def test_b172_determinism_fence_in_plan(spark, sf_dir):
    """B172's plan contract: the same filter sits BELOW the Python
    eval (pushed toward the scan) when the UDF is default-declared,
    and stays ABOVE it when declared nondeterministic."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    det = F.udf(lambda x: x % 7, "long")
    nondet = F.udf(lambda x: x % 7, "long").asNondeterministic()

    def order(df):
        plan = plan_of(df)
        tree = plan.split("\n\n")[0]
        f = tree.index("Filter")
        p = tree.index("BatchEvalPython")
        # formatted explain prints top-down: smaller index = higher node
        return "filter_above" if f < p else "filter_below"

    pipe = lambda udf: (
        o.select("o_orderkey", udf("o_orderkey").alias("shard"))
        .filter(F.col("o_orderkey") < 500)
    )
    assert order(pipe(det)) == "filter_below"
    assert order(pipe(nondet)) == "filter_above"


def test_bitmap_prefilter_joins_all_broadcast(spark, sf_dir):
    """C128's scale contract, plan-pinned: every join in the plan is a
    BroadcastHashJoin — the 128 KiB presence array broadcasts to the
    probe, the candidate sliver broadcasts to the confirm scan, and
    the verdicts broadcast back onto the batch. The corpus must never
    be shuffled (no SortMergeJoin / ShuffledHashJoin anywhere)."""
    plan = plan_of(
        registry.QUERIES["q_c128_bitmap_prefilter_dedup"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_suffix_lcp_bucketed_sort_not_global(spark, sf_dir):
    """C129: the suffix sort must be the BUCKETED form — a hash
    exchange on the first-g-gram slice with partition-local window
    sorts — never a global rangepartitioning of the suffix stream
    (the monolithic suffix-array shape that cannot scale out). The
    only range exchange allowed is the final ORDER BY doc_id on the
    per-doc report."""
    plan = plan_of(registry.QUERIES["q_c129_suffix_lcp_spans"](spark, sf_dir))
    # Structural, not alias-pinned (ADVICE r10: the generated `_w1`
    # window-alias string is an optimizer naming detail): a hash
    # exchange must exist and the g-gram slice expression must appear
    # in the plan (the bucket key), while the only range exchange is
    # the final ORDER BY — a global suffix sort would rangepartition
    # the suffix stream itself.
    assert "hashpartitioning" in plan, plan[:2000]
    assert "slice(suf" in plan, plan[:2000]
    assert plan.count("rangepartitioning") <= 1
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_repetition_loop_no_shuffle(spark, sf_dir):
    """C130: the lag autocorrelation sweep is per-row arithmetic — the
    plan must carry NO exchange except the widen round-robin and the
    final ORDER BY (no lag explode, no per-doc window shuffle)."""
    plan = plan_of(registry.QUERIES["q_c130_repetition_loop"](spark, sf_dir))
    assert "hashpartitioning" not in plan, plan[:2000]
    assert plan.count("rangepartitioning") <= 1
    assert "Generate" not in plan  # no explode of the lag grid


def test_c27_probes_read_index_not_text(spark, sf_dir):
    """C27 post-unification (r9 verdict task 4): per-ingest probe
    stages consume the PERSISTED signature index, not corpus text —
    the executed plan shows the text-derived pipeline (sha2+tokenize)
    only inside the two cache-build subtrees (corpus index + batch
    index), and the probes read InMemoryTableScan. The q_c8 counting
    technique: each persisted relation renders its build plan a
    bounded number of times; per-probe re-tokenization would multiply
    the count several-fold."""
    df = registry.QUERIES["q_c27_incremental_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Round 11: the index materializes via eager localCheckpoint (no
    # session-cache residue — ADVICE r10), so probes read the
    # checkpointed RDD scan; the pre-r10 pathology re-ran the
    # sha2+tokenize pipeline once per probe per consumer (~30x).
    assert (
        "ExistingRDD" in plan
        or "InMemoryTableScan" in plan
        or "TableCacheQueryStage" in plan
    ), plan[:2000]
    n_sha = plan.count("sha2(text")
    n_tok = plan.count("split(text")
    assert n_sha <= 14, f"corpus text re-hashed outside the index: {n_sha}"
    assert n_tok <= 14, f"corpus text re-tokenized outside the index: {n_tok}"
    assert "CartesianProduct" not in plan


def test_c17_ranks_each_corpus_row_once(spark, sf_dir):
    """q_c17's corpus-side cell ranker runs once per corpus row, above
    ``widen``'s round-robin exchange: the plan holds exactly two
    ArrowEvalPython nodes (probe side and corpus side), the corpus one
    directly over the exchange and none below it."""
    df = registry.QUERIES["q_c17_knn_ivf"](spark, sf_dir)
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    arrow = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert len(arrow) == 2, "\n".join(lines)
    (rr,) = [i for i, ln in enumerate(lines) if "RoundRobinPartitioning" in ln]
    assert rr - 1 in arrow, "\n".join(lines)
    depth = len(lines[rr]) - len(lines[rr].lstrip(" :+-"))
    below = []
    for ln in lines[rr + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        below.append(ln)
    assert not any("ArrowEvalPython" in ln for ln in below), "\n".join(lines)


def _jobs_in_group(spark, group: str, body) -> int:
    """Number of Spark jobs ``body()`` starts, counted under a job group.
    Job events reach the status store asynchronously but in order, so a
    control job run afterwards in its own group is awaited first: once
    it shows, every job the body started shows too."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        body()
        sc.setJobGroup(group + "-control", group)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-control"):
        assert time.monotonic() < deadline, "control job never registered"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_repeat_load_table_starts_no_job(spark, sf_dir):
    """The catalog infers each table's schema once (like the reference's
    crawler-declared Glue schema): after ``register_views``, a
    ``load_table`` of every table reads with the remembered schema and
    starts no Spark job, while an inferring read starts one."""
    from etl_spark_eks_spark.catalog import (
        TABLES,
        load_table,
        register_views,
        table_path,
    )

    register_views(spark, sf_dir)
    n = _jobs_in_group(
        spark,
        "repeat-load-table",
        lambda: [load_table(spark, sf_dir, t).schema for t in TABLES],
    )
    assert n == 0, f"{n} Spark jobs from {len(TABLES)} repeat load_table calls"
    n_infer = _jobs_in_group(
        spark,
        "inferring-read",
        lambda: spark.read.parquet(table_path(sf_dir, "orders")).schema,
    )
    assert n_infer >= 1


def test_self_join_of_loaded_tables_is_unambiguous(spark, sf_dir):
    """Only the schema is remembered, never a DataFrame: two loads of one
    table carry distinct attribute ids, so a self-join resolves."""
    from etl_spark_eks_spark.catalog import load_table

    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a["o_orderkey"] == b["o_orderkey"]).select(
        a["o_orderkey"], b["o_totalprice"]
    )
    assert joined.count() == a.count() > 0


def test_remembered_schema_rows_equal_inferring_read(spark, sf_dir, monkeypatch):
    """q_b165 (TPC-H q5, six table reads) returns the same rows whether
    its tables are read with the remembered schema or inferred afresh."""
    from compare import assert_results_equal

    from etl_spark_eks_spark import catalog

    q = registry.QUERIES["q_b165_tpch_q5"]
    remembered = q(spark, sf_dir).toPandas()
    monkeypatch.setattr(
        catalog,
        "scan_table",
        lambda s, d, name: s.read.parquet(catalog.table_path(d, name)),
    )
    inferred = q(spark, sf_dir).toPandas()
    assert len(remembered) > 0
    assert_results_equal(remembered, inferred, "q_b165_tpch_q5")


def test_schema_memo_invalidates_on_rewrite_and_conf(spark, sf_dir, tmp_path):
    """A table rewritten in place (new fingerprint) and a session conf
    that changes the inferred type both get a fresh inference, never a
    stale schema."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from etl_spark_eks_spark.catalog import load_table, table_path

    d = str(tmp_path)
    path = table_path(d, "orders")
    shutil.copy(table_path(sf_dir, "orders"), path)
    assert "o_extra" not in load_table(spark, d, "orders").columns

    t = pq.read_table(path)
    t = t.append_column("o_extra", pa.array(range(t.num_rows), pa.int64()))
    pq.write_table(t, path)
    df = load_table(spark, d, "orders")
    assert "o_extra" in df.columns
    assert df.agg({"o_extra": "max"}).first()[0] == t.num_rows - 1

    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    ntz = load_table(spark, d, "orders").schema["o_orderdate"].dataType
    assert isinstance(ntz, T.TimestampNTZType)
    try:
        spark.conf.set(key, "false")
        ltz = load_table(spark, d, "orders").schema["o_orderdate"].dataType
        assert isinstance(ltz, T.TimestampType)
    finally:
        spark.conf.set(key, before)
    again = load_table(spark, d, "orders").schema["o_orderdate"].dataType
    assert isinstance(again, T.TimestampNTZType)
