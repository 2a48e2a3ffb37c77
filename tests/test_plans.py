"""Physical-plan hygiene: the performance claims in SCALE.md and the
query docstrings, pinned as regression tests. A refactor that silently
turns a broadcast join into a shuffle join, drops a pushed-down filter,
or reintroduces a global sort fails here — before it shows up as a
BENCH regression.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from gmall_realtime_flink_spark.catalog import load
from gmall_realtime_flink_spark.plans import REGISTRY


def plan_of(spark, sf_dir, name: str) -> str:
    return REGISTRY[name].builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_are_broadcast(spark, sf_dir):
    """J3: every dim join in the enrichment chain is a broadcast hash
    join — no shuffle of the fact side for MB-scale dims."""
    plan = plan_of(spark, sf_dir, "order_enriched")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    """top_products must plan TakeOrderedAndProject (per-partition
    local top-k + driver merge), never a single-partition global sort."""
    plan = plan_of(spark, sf_dir, "top_products")
    assert "TakeOrderedAndProject" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """P4/Q6 shape: the discount/date predicates appear as
    PushedFilters in the parquet scan, not as a post-scan Filter only."""
    plan = plan_of(spark, sf_dir, "discount_revenue")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed to the lineitem scan"


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-measure aggregate must not read all 11 lineitem columns:
    ReadSchema carries only what the query needs."""
    plan = plan_of(spark, sf_dir, "top_products")
    read = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "l_partkey" in read and "l_extendedprice" in read
    assert "l_comment" not in read and "l_shipdate" not in read


def test_agg_before_dim_join(spark, sf_dir):
    """J4 ordering: product_stats aggregates lineitem BEFORE the
    broadcast part join — the join input is |groups|, not |lineitem|."""
    plan = plan_of(spark, sf_dir, "product_stats")
    bc = plan.index("BroadcastHashJoin")
    # the aggregate must appear BELOW the join in the tree (later in
    # the printed plan = deeper = executed first)
    assert "HashAggregate" in plan[bc:], "agg is not below the dim join"


def test_semi_join_planned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "order_priority_semi")
    assert "LeftSemi" in plan


def test_anti_join_planned(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "customers_no_orders")
    assert "LeftAnti" in plan


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    """SCALE.md §Joins: dims too big to broadcast are bucketed on the
    join key at write time, giving a shuffle-free sort-merge join.
    Proven here: two tables bucketed on the key join with ZERO
    Exchange operators in the physical plan."""
    warehouse = tempfile.mkdtemp(prefix="bucketed_wh_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buck LOCATION '{warehouse}'")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the sf0.001 tables are broadcast-sized; disable auto-broadcast to
    # exercise the too-big-to-broadcast path this test is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = load(spark, sf_dir, "orders")
        lineitem = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_extendedprice"
        )
        (
            orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .mode("overwrite").saveAsTable("buck.orders_b")
        )
        (
            lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .mode("overwrite").saveAsTable("buck.lineitem_b")
        )
        ob, lb = spark.table("buck.orders_b"), spark.table("buck.lineitem_b")
        joined = ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"]).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the join itself consumes bucketed scans directly — the only
        # allowed exchange is the one feeding the final aggregate
        sm = plan.index("SortMergeJoin")
        assert "Exchange" not in plan[sm:], (
            "bucketed join still shuffles:\n" + plan
        )
        # sanity: result matches the unbucketed join
        want = (
            orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
            .groupBy("o_orderpriority").agg(F.count("*").alias("n"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP DATABASE IF EXISTS buck CASCADE")


def test_argmin_partial_aggregates_before_exchange(spark, sf_dir):
    """cheapest_supplier_per_part must plan min_by as a partial-then-
    final HashAggregate pair (map-side combine: the exchange carries
    |parts| rows), never a Window ranking over raw lineitem (which
    would shuffle every lineitem row on l_partkey)."""
    plan = plan_of(spark, sf_dir, "cheapest_supplier_per_part")
    assert "Window" not in plan, "argmin regressed to a window rank"
    # min_by's struct buffer plans as SortAggregate (not hash-
    # aggregatable) — still a partial/final pair: partial_min_by must
    # sit BELOW the exchange (map-side combine)
    assert "partial_min_by" in plan, "min_by is not partially aggregated"
    exch = plan.index("Exchange")
    assert "partial_min_by" in plan[exch:], (
        "partial aggregate is not below the exchange — min_by is not "
        "map-side combining:\n" + plan
    )


def test_range_join_is_not_nested_loop(spark, sf_dir):
    """price_tier_stats must plan the binned range join as a hash
    equi-join on the bin column — never BroadcastNestedLoop or a
    cartesian product (what Spark gives a raw inequality join)."""
    plan = plan_of(spark, sf_dir, "price_tier_stats")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan  # it IS still a join, on the bin key


def test_partition_pruning_on_date_partitioned_layout(spark, sf_dir):
    """The 100 TB layout: facts written partitionBy(dt). A dt filter
    must prune at the PartitionFilters level — the scan's file listing
    excludes non-matching date directories entirely (zero IO), not a
    post-scan row filter."""
    out = tempfile.mkdtemp(prefix="dt_part_")
    events = load(spark, sf_dir, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    events.write.partitionBy("dt").mode("overwrite").parquet(out)
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("dt=")
    )
    assert len(days) >= 2, "need multiple partitions to prove pruning"
    q = (
        spark.read.parquet(out)
        .filter(F.col("dt") == days[0])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "dt" in pf, f"dt filter not in PartitionFilters: {pf}"
    # and the pruned count matches the unpruned filter
    want = (
        events.filter(F.col("dt") == days[0])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, want.collect()))


def test_disjunctive_brackets_push_to_both_scans(spark, sf_dir):
    """Q19 shape: Catalyst derives single-side implications of the
    OR-of-ANDs — the lineitem scan keeps a quantity-range OR, the part
    scan keeps the brand/size OR — so neither side is scanned full."""
    plan = plan_of(spark, sf_dir, "bracket_revenue")
    pushed = [
        seg.split("]", 1)[0]
        for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("l_quantity" in p for p in pushed), "no quantity range on lineitem scan"
    assert any("p_brand" in p for p in pushed), "no brand filter on part scan"
    assert "SortMergeJoin" not in plan  # part is broadcast


def test_scalar_threshold_reuses_fact_exchange(spark, sf_dir):
    """Q11 shape: the global total must be a re-aggregation of the
    per-part result, not a second fact scan — after AQE runs, the
    scalar side shows ReusedExchange on the per-part shuffle."""
    df = REGISTRY["important_parts"].builder(spark, sf_dir)
    df.collect()  # AQE reuse materializes at runtime
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_waiting_suppliers_semi_anti_no_cartesian(spark, sf_dir):
    """Q21 shape: the exists/not-exists pair plans as LeftSemi +
    LeftAnti equi-joins on l_orderkey (suppkey<> as residual only) —
    never a cartesian product."""
    plan = plan_of(spark, sf_dir, "waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_graph_is_bucketed_not_cartesian(spark, sf_dir):
    """k-NN graph candidates come from the sign-bucket equi-join —
    never an all-pairs cartesian/nested-loop product."""
    plan = plan_of(spark, sf_dir, "knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_probe_is_broadcast(spark, sf_dir):
    """The eval n-gram set must broadcast: the train-side explode is
    probed by a BroadcastHashJoin, never shuffled for a SortMergeJoin."""
    plan = plan_of(spark, sf_dir, "doc_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_anti_join_no_cartesian(spark, sf_dir):
    """dedup_incremental plans a LeftAnti hash join on the fingerprint
    (broadcast or shuffled both acceptable) — never a nested-loop
    cartesian."""
    plan = plan_of(spark, sf_dir, "dedup_incremental")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_similarity_topk_has_no_window_operator(spark, sf_dir):
    """The post-limit rank is a sort_array/posexplode fold — no
    WindowExec (whose empty-partition-spec warning misreads as a
    global sort) anywhere in the plan."""
    plan = plan_of(spark, sf_dir, "similarity_topk")
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan


def test_runtime_bloom_filter_join_injection(spark, sf_dir):
    """The 100 TB shuffle reducer for selective joins: Spark's
    InjectRuntimeFilter plants a bloom_filter_agg on the selective
    (filtered orders) side and a might_contain predicate on the big
    probe side BEFORE the shuffle — probe rows that cannot match never
    leave the scan stage. Pin that the rule actually fires on this
    build (it is config-gated and threshold-gated, so a silent
    regression would otherwise look like a mere perf drift)."""
    orig_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    orig_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # local testdata is far below the production thresholds; drop
        # them so the rule sees the same shape it would at scale
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        l = load(spark, sf_dir, "lineitem")
        o = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        assert "bloom_filter_agg" in opt.lower() or "bloomfilter" in opt.lower(), opt
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            orig_app,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig_bc)


INFER_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def _inferred_generate_filters(df) -> list[str]:
    """Filter lines of the optimized plan that test an array's size —
    the `size(e) > 0` conjunct InferFiltersFromGenerate plants."""
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in opt.splitlines() if "Filter" in ln and "size(" in ln]


def test_infer_filters_from_generate_exclusion_is_effective(spark, sf_dir):
    """session.py excludes InferFiltersFromGenerate. The rule plants
    `size(e) > 0 AND isnotnull(e)` below an explode whose input e is a
    column, and PushDownPredicates then substitutes e's defining
    expression into that filter, so a computed array is built twice
    per row. Pin that the exclusion holds on the warehouse reads that
    explode:

    1. display_log_explode explodes the `displays` column projected
       from the BaseLogAPP envelope: with the rule on, the pushed
       filter re-runs the whole to_json/from_json round trip per
       event below the projection that computes it;
    2. keyword_stats_sql (a dashboard read) explodes doc_keywords'
       split of the document text: no inferred size filter, only
       doc_keywords' own `length(keyword) >= 2`. Spark infers only for
       a column input, which this explode is not today; the pin keeps
       it that way if a refactor projects the split first;
    3. the rule class still exists in the running Spark (a rename on
       upgrade would make the exclusion a silent no-op).
    """
    display = REGISTRY["display_log_explode"].builder(spark, sf_dir)
    assert not _inferred_generate_filters(display), (
        "inferred generator filter is back on display_log_explode"
    )

    keywords = REGISTRY["keyword_stats_sql"].builder(spark, sf_dir)
    assert not _inferred_generate_filters(keywords), (
        "inferred generator filter is back on keyword_stats_sql"
    )
    opt = keywords._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter (length(keyword" in opt, opt

    assert INFER_RULE in spark.conf.get("spark.sql.optimizer.excludedRules")
    spark._jvm.java.lang.Class.forName(INFER_RULE + "$")  # raises if renamed


def test_auto_bits_count_warns_on_filtered_frame(spark, sf_dir):
    """auto_bits' corpus count is metadata-only ONLY on the raw
    parquet frame; a filtered frame silently turns it into a full scan
    — the helper warns so the cost claim can't rot (VERDICT r7 #8)."""
    import warnings

    from gmall_realtime_flink_spark.operators.similarity import (
        corpus_count_for_auto_bits,
    )

    raw = load(spark, sf_dir, "embeddings")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # raw frame: NO warning allowed
        n = corpus_count_for_auto_bits(raw)
    assert n > 0

    filtered = raw.filter(F.col("vec_id") % 2 == 0)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        corpus_count_for_auto_bits(filtered)
    assert any("full" in str(x.message) for x in w), "filtered frame must warn"


def test_plan_sniff_canary(spark, sf_dir, tmp_path):
    """Canary for the public-API plan sniff behind the auto_bits cost
    warning (ADVICE r8/r9: no `_jdf` in the package). Pins, against a
    Spark upgrade renaming explain nodes:
      1. a Filter plan IS detected (a rename makes this fail loudly,
         not silently disable the warning);
      2. every join strategy is detected;
      3. a raw scan whose COLUMNS are named `join_date`/`filtered_at`
         is NOT detected (the ADVICE r9 false-positive: the old
         substring match fired on column names inside Relation lines).
    """
    from gmall_realtime_flink_spark.operators.similarity import (
        _plan_has_filter_or_join,
    )

    raw = load(spark, sf_dir, "embeddings")
    assert not _plan_has_filter_or_join(raw)
    assert _plan_has_filter_or_join(raw.filter(F.col("vec_id") > 3))
    assert _plan_has_filter_or_join(
        raw.join(raw.select("vec_id"), "vec_id")
    )

    # raw parquet scan with adversarially-named columns: no warning
    p = str(tmp_path / "adversarial_cols.parquet")
    spark.range(5).select(
        F.col("id").alias("join_date"), F.col("id").alias("filtered_at")
    ).write.parquet(p)
    tricky = spark.read.parquet(p)
    assert not _plan_has_filter_or_join(tricky), (
        "column named join_date/filtered_at must not read as a plan node"
    )


def test_aqe_skew_join_split_engages(spark):
    """SCALE.md §Skew: a hot join key (30% of the fact on one key) is
    split by AQE across reducers — SortMergeJoin(skew=true) — instead
    of serializing the stage behind one straggler task. Thresholds are
    scaled to the synthetic corpus (local shuffles are KBs where the
    production defaults are 100s of MB); the skew FACTOR (hot >= 5x
    median) stays at its default, because that is the definition of
    skew. Complements tools/measure_skew.py, which measures the same
    plan on the generated hot-key corpus with wall-clock timings."""
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the premise below is 8 reduce partitions; pin it, since the
        # session's default follows SPARK_GRAFT_CPUS
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64k",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k"
        )
        # 50% of 400k fact rows on key 0, rest uniform over 20k keys;
        # multiple range partitions = multiple mapper blocks, which is
        # what AQE splits a skewed reduce partition by. 50% (not 30%):
        # the test shuffles into 8 partitions, so the hot
        # partition must clear 5x the median with only 8 buckets of
        # uniform residue around it
        big = spark.range(0, 400_000, 1, 8).selectExpr(
            "CASE WHEN id % 10 < 5 THEN CAST(0 AS LONG) "
            "ELSE id % 20000 END AS k",
            "id AS payload",
        )
        small = spark.range(0, 20_000, 1, 4).selectExpr(
            "id AS k2", "id * 2 AS attr"
        )
        j = big.join(small, big["k"] == small["k2"]).agg(
            F.sum("payload").alias("s"), F.count("*").alias("n")
        )
        [row] = j.collect()
        assert row["n"] == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE did not split the hot-key join:\n" + plan
        )
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_bucketed_aggregate_is_exchange_free(spark, sf_dir):
    """The product_stats 100 TB layout fix, plan-pinned: a fact table
    bucketed on l_partkey aggregates by (l_partkey, ship_month) with
    ZERO exchanges — HashPartitioning on a SUBSET of the grouping
    keys satisfies ClusteredDistribution (equal full keys imply equal
    bucket key, so every group is already co-located), and that
    covers BOTH phases of the exact countDistinct. Measured: sf100
    product_stats pays 319 s mostly in the ~500M-group exchange;
    bucketing removes it statically
    (tools/bench_bucketed_product_stats.py)."""
    warehouse = tempfile.mkdtemp(prefix="bucketed_agg_wh_")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckagg LOCATION '{warehouse}'")
    try:
        lineitem = load(spark, sf_dir, "lineitem")
        (
            lineitem.write.bucketBy(8, "l_partkey").sortBy("l_partkey")
            .mode("overwrite").saveAsTable("buckagg.lineitem_b")
        )
        lb = spark.table("buckagg.lineitem_b")

        def agg(df):
            return df.groupBy(
                "l_partkey",
                F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            ).agg(
                F.countDistinct("l_orderkey").alias("order_ct"),
                F.round(F.sum("l_quantity"), 2).alias("quantity"),
            )

        plan = agg(lb)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (
            "bucketed aggregate still shuffles:\n" + plan
        )
        # values identical to the plain-parquet aggregate
        got = sorted(map(tuple, agg(lb).collect()))
        want = sorted(map(tuple, agg(lineitem).collect()))
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS buckagg.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS buckagg")


def test_substring_spans_semi_join_no_pair_product(spark, sf_dir):
    """Exact substring dedup stays linear by construction: the >=2
    duplicate test is a WINDOW count over the gram digest (r14 — one
    execution of the gram pipeline, one exchange; the r13 form was a
    groupBy + LEFT SEMI join back, which executed the pipeline twice)
    — never a self equi-join that could go quadratic on an
    all-identical corpus; windows are keyed by gh or doc_id only (no
    global/unpartitioned WindowExec), and the plan is join-free."""
    plan = plan_of(spark, sf_dir, "dedup_substring_spans")
    assert "Join" not in plan, "span detection must stay join-free"
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_product_stats_bucketed_is_exchange_free(spark, sf_dir):
    """The bucketed layout twin delivers the promise it exists for:
    HashPartitioning(l_partkey) from the bucketed scan satisfies the
    aggregate's ClusteredDistribution(l_partkey, ship_month), so the
    whole plan — including the two-phase countDistinct — has ZERO
    hash exchanges (vs 2 on the plain parquet scan). The broadcast
    dim join adds a BroadcastExchange, which is not a shuffle."""
    plan = plan_of(spark, sf_dir, "product_stats_bucketed")
    assert plan.count("Exchange hashpartitioning") == 0
    plain = plan_of(spark, sf_dir, "product_stats")
    assert plain.count("Exchange hashpartitioning") >= 1


def test_lsh_recall_audit_no_cartesian(spark, sf_dir):
    """Both candidate paths inside the recall audit (LSH banding and
    prefix filtering) are equi-joins; the brute-force product exists
    only in the DuckDB oracle, never in the engine plan."""
    plan = plan_of(spark, sf_dir, "dedup_lsh_recall")
    assert "CartesianProduct" not in plan
    # the three 1-row count frames combine via broadcast nested loop
    # (size-1 sides) — that's fine; a *shuffled* NLJ or a cartesian
    # over data-sized inputs is not
    assert "SortMergeJoin Cross" not in plan


def test_semantic_dedup_plan_shape(spark, sf_dir):
    """SemDeDup's in-cell pair stage is an equi-join on `cell` (with
    the a_id < b_id residual) — never an all-pairs cartesian — and
    the N×K assignment is materialized ONCE via localCheckpoint
    (Scan ExistingRDD appears for every consumer; the kmeans cross
    does not re-run per self-join side)."""
    plan = plan_of(spark, sf_dir, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "assignment checkpoint missing"


def test_semantic_dedup_capped_plan_shape(spark, sf_dir):
    """The capped twin keeps the uncapped shape (equi-join pair stage,
    checkpointed assignment) and adds only BROADCAST joins for the
    <=K-row per-cell counts — no cartesian, no shuffled NLJ."""
    plan = plan_of(spark, sf_dir, "dedup_semantic_capped")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "assignment checkpoint missing"
    assert "BroadcastHashJoin" in plan, "cell-count cap join not broadcast"


def test_semantic_dedup_incremental_plan_shape(spark, sf_dir):
    """Admission: both the prefix and the batch assignment are
    checkpointed once (two ExistingRDD scans), the comparator pair
    stage is an equi-join on cell — never cartesian — and the frozen
    centroids reach each assignment as a broadcast."""
    plan = plan_of(spark, sf_dir, "dedup_semantic_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "assignment checkpoints missing"


def test_semantic_dedup_resplit_plan_shape(spark, sf_dir):
    """The re-split form keeps the family's shape discipline: both
    pair stages are equi-joins (cell resp. cell+subcell) with the
    lower-id residual — never cartesian — both assignment levels are
    checkpointed once (ExistingRDD scans), and every cap/count join
    is a broadcast."""
    plan = plan_of(spark, sf_dir, "dedup_semantic_resplit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan, "assignment checkpoints missing"
    assert "BroadcastHashJoin" in plan, "cap joins not broadcast"


def test_similarity_topk_batch_plan_shape(spark, sf_dir):
    """Batch ANN: the brute form's only cross is the broadcast of the
    Q-row query set (BroadcastNestedLoopJoin over a LIMIT-bounded side
    is the brute-force design, not an accident); the IVF form's
    candidate stage is an EQUI-join on cell, and neither ranks through
    a global (un-partitioned) window."""
    brute = plan_of(spark, sf_dir, "similarity_topk_batch")
    assert "CartesianProduct" not in brute
    ivf = plan_of(spark, sf_dir, "similarity_topk_ivf_batch")
    assert "CartesianProduct" not in ivf
    assert "BroadcastHashJoin" in ivf, "cell probe join not broadcast"


def test_reliable_checkpoint_knob(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT=reliable swaps every lineage cut from
    executor-local localCheckpoint (fast; NOT fault-tolerant — a lost
    executor kills the job) to a reliable checkpoint() into a
    fault-tolerant directory (operators/lineage.cut_lineage, the
    production-posture knob). The two forms must be row-identical;
    dedup_minhash_lsh exercises a lazy cut end to end (lsh_candidates
    cuts the band table, which feeds both sides of the self-join)."""
    from gmall_realtime_flink_spark.plans import REGISTRY

    builder = REGISTRY["dedup_minhash_lsh"].builder
    base = sorted(map(tuple, builder(spark, sf_dir).collect()))
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT", "reliable")
    rel = sorted(map(tuple, builder(spark, sf_dir).collect()))
    assert spark.sparkContext.getCheckpointDir() is not None, (
        "reliable mode must set a checkpoint dir"
    )
    assert rel == base
