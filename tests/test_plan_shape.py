"""Physical-plan-shape assertions — the 100 TB posture checks
(SURVEY.md §7.4.5): filters reach the parquet scan, projections prune
columns, dimension joins broadcast, partition predicates prune hive
partitions, the big anti-join does NOT broadcast its big side."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from s3_elasticsearch_data_pipeline_spark import offload, registry
from s3_elasticsearch_data_pipeline_spark.operators import analytics, diff
from s3_elasticsearch_data_pipeline_spark.sinks.partitioned import write_partitioned


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_and_column_pruning(spark, sf_oracle):
    df = registry.queries()["p1_p2_filter_project"](spark, sf_oracle)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters:")[1].split("]")[0], "shipdate filter not pushed to scan"
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema
    # only the 4 projected + 1 filter column are read
    assert read_schema.count(":") <= 6, f"scan reads too much: {read_schema}"


def test_q6_pushes_all_predicates(spark, sf_oracle):
    df = analytics.forecast_revenue(
        spark.read.parquet(os.path.join(sf_oracle, "lineitem.parquet")))
    plan = plan_of(df)
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not in pushed filters: {pushed}"


def test_q5_broadcasts_dimensions(spark, sf_oracle):
    df = registry.queries()["q5_local_supplier_volume"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 3, \
        "dimension joins should broadcast"
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    src = (spark.range(1000)
           .select(F.col("id").cast("string").alias("id"),
                   (F.col("id") % 12).cast("string").alias("month"),
                   F.rand(7).alias("value")))
    path = str(tmp_path / "part")
    write_partitioned(src, path, "month")
    scan = spark.read.parquet(path).where(F.col("month") == "3")
    plan = plan_of(scan)
    # partition filter recognized → only month=3 directory scanned
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "month" in pf, f"no partition filter: {pf}"
    assert scan.count() == spark.read.parquet(path) \
        .where(F.col("month") == "3").count()


def test_id_anti_join_does_not_broadcast_big_probe(spark, sf_oracle):
    """J2 at scale: the big (source) side must stream through a
    shuffle/sort-merge join, not be broadcast. Small sides broadcasting
    is fine — what must never happen is the probe side collapsing into
    a driver-built broadcast table when it is the 100 TB side. We
    disable auto-broadcast to verify the plan remains shuffle-based."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lineitem = spark.read.parquet(os.path.join(sf_oracle, "lineitem.parquet"))
        orders = spark.read.parquet(os.path.join(sf_oracle, "orders.parquet"))
        res = diff.missing_ids(
            lineitem.select(F.col("l_orderkey").alias("k")),
            orders.select(F.col("o_orderkey").alias("k")), "k")
        plan = plan_of(res)
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_whole_stage_codegen_in_flagship(spark, sf_oracle):
    df = registry.queries()["q1_pricing_summary"](spark, sf_oracle)
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen spans in the final plan
    assert "*(" in plan, f"flagship agg fell out of codegen:\n{plan[:500]}"


def test_salted_join_matches_plain_join(spark, sf_oracle):
    from s3_elasticsearch_data_pipeline_spark.operators.skew import salted_join
    orders = spark.read.parquet(os.path.join(sf_oracle, "orders.parquet")) \
        .select("o_orderkey", "o_custkey")
    customer = spark.read.parquet(os.path.join(sf_oracle, "customer.parquet")) \
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    plain = orders.join(customer, "o_custkey").count()
    salted = salted_join(orders, customer, "o_custkey", salts=8).count()
    assert plain == salted


def test_bucketed_join_has_no_exchange(spark, sf_oracle, tmp_path):
    """Both sides bucketed on the join key → sort-merge join with zero
    shuffles (the storage-partitioned-join building block)."""
    from s3_elasticsearch_data_pipeline_spark.sinks.bucketed import (
        cojoin_bucketed, write_bucketed)
    # spark.sql.warehouse.dir is static — tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(
            os.path.join(sf_oracle, "orders.parquet"))
        lineitem = spark.read.parquet(
            os.path.join(sf_oracle, "lineitem.parquet")) \
            .select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
        write_bucketed(orders, "orders_b", "o_orderkey", 8)
        write_bucketed(lineitem, "lineitem_b", "o_orderkey", 8)
        joined = cojoin_bucketed(spark, "orders_b", "lineitem_b",
                                 "o_orderkey")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        assert joined.count() == lineitem.count()  # FK join preserves rows
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_asof_join_is_single_pass(spark, sf_oracle):
    """Union-and-carry as-of join: bounded shuffle count (no range
    cross-join, no nested loop) — the property that keeps it linear
    at 100 TB."""
    df = registry.queries()["asof_join_events"](spark, sf_oracle)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = (plan.count("Exchange hashpartitioning")
                   + plan.count("Exchange rangepartitioning"))
    assert n_exchanges <= 2, f"asof join shuffles too much:\n{plan[:800]}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_avoids_quadratic_join(spark, sf_oracle):
    """Prefix-filtered Jaccard: equi-joins + aggregates only — any
    nested-loop/cartesian operator means the quadratic path came back.
    The prefix path buys its skew immunity with a few extra compact-key
    shuffles (df stats + prefix re-agg + verify joins), and r5's merge
    hints DELIBERATELY trade broadcast joins for sort-merge exchanges
    on the prefix self-join and both array-verification joins (3 SMJs
    = 6 more exchanges): checkpoint-backed stats had Spark hash-
    broadcasting the corpus-sized array tables — driver OOM at real
    scale. Bound the count so a fourth unplanned shuffle still fails."""
    df = registry.queries()["dedup_ngram_jaccard"](spark, sf_oracle)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_exchanges = (plan.count("Exchange hashpartitioning")
                   + plan.count("Exchange rangepartitioning"))
    assert n_exchanges <= 14, f"too many shuffles:\n{plan[:800]}"
    # and the trade actually happened: the array tables ride SMJ
    assert plan.count("SortMergeJoin") >= 3, \
        "verification/prefix joins must be sort-merge, not broadcast"


def test_tpch_archetypes_no_cartesian(spark, sf_oracle):
    """The new TPC-H shapes must plan as pure equi-joins: the scalar
    subqueries are 1-row broadcasts, EXISTS/NOT IN become semi/anti
    hash joins — never a nested-loop over the fact table."""
    for name in ("q2_min_cost_supplier", "q8_market_share",
                 "q13_order_count_distribution", "q15_top_supplier",
                 "q16_supplier_part_counts", "q21_waiting_suppliers",
                 "q22_idle_customers", "q11_important_parts"):
        df = registry.queries()[name](spark, sf_oracle)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, f"{name} degenerated"
        # BroadcastNestedLoopJoin is legitimate ONLY for the 1-row
        # scalar-subquery cross joins (q11/q15/q22); those join a
        # single-row aggregate, never two fact inputs.
        if name in ("q2_min_cost_supplier", "q8_market_share",
                    "q13_order_count_distribution",
                    "q16_supplier_part_counts", "q21_waiting_suppliers"):
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_q16_not_in_is_broadcast_anti_join(spark, sf_oracle):
    plan = plan_of(registry.queries()["q16_supplier_part_counts"](
        spark, sf_oracle))
    assert "BroadcastHashJoin LeftAnti" in plan, \
        "NOT IN exclusion should be a broadcast anti-join on the tiny set"


def test_connected_components_rounds_are_compact(spark, sf_oracle,
                                                 monkeypatch):
    """Each propagation round operates on (long, long) label rows —
    the edge list must not re-materialize document text."""
    from s3_elasticsearch_data_pipeline_spark.operators import dedup as dd
    docs = registry.queries()["dedup_exact"](spark, sf_oracle)  # warm
    from s3_elasticsearch_data_pipeline_spark.tables import load_table
    pairs = dd.ngram_jaccard_pairs(load_table(spark, sf_oracle, "documents"))
    # a zero DRIVER_CC_MAX_PAIRS pins the DISTRIBUTED fixpoint (the
    # small input would otherwise take the driver union-find fast path)
    monkeypatch.setattr(offload, "DRIVER_CC_MAX_PAIRS", 0)
    labels = dd.connected_components(pairs)
    # post-fixpoint frame is checkpointed: its plan must be a scan of
    # the checkpoint RDD, not the full recursive join tree
    plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, "labels should be checkpointed"


def test_scd2_single_shuffle(spark, sf_oracle):
    """The whole SCD2 pipeline (two window passes + run group-by + LEAD)
    must reuse one hash(user_id) exchange — the 100 TB cost model."""
    df = registry.queries()["scd2_user_history"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count("hashpartitioning") <= 1, plan[:1500]


def test_multimodal_curation_gates_before_decode(spark, sf_oracle):
    """The text-quality gate must sit BELOW the image/audio decoders
    (left-semi join on the gated id manifest): the final inner join
    discards gated-out docs anyway, so decoding them is pure waste —
    Catalyst won't reorder a filter across mapInPandas, so the shape
    is enforced by construction and guarded here."""
    df = registry.queries()["multimodal_curation"](spark, sf_oracle)
    plan = plan_of(df)
    # one semi-join per decode branch feeds each MapInPandas
    assert plan.count("LeftSemi") >= 2, plan[:2000]
    assert plan.count("MapInPandas") >= 2


def test_contamination_broadcasts_benchmark(spark, sf_oracle):
    """The benchmark gram set must broadcast; the corpus side must not
    shuffle before the join."""
    df = registry.queries()["contamination_ngram_overlap"](spark, sf_oracle)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_ranges_disjoint(spark, sf_oracle, tmp_path):
    """Files produced by the Z-order layout cover disjoint code ranges,
    so parquet min/max stats prune scans on either clustered key."""
    from s3_elasticsearch_data_pipeline_spark.operators.layout import (
        morton_code, zorder_layout)
    orders = spark.read.parquet(os.path.join(sf_oracle, "orders.parquet"))
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit("1970-01-01").cast("date"))
    code = morton_code(F.col("o_custkey") % 65536, day % 65536)
    out = str(tmp_path / "zordered")
    (zorder_layout(orders.withColumn("zcode", code),
                   F.col("zcode"), n_files=8)
     .write.mode("overwrite").parquet(out))
    import glob
    ranges = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        r = (spark.read.parquet(f)
             .agg(F.min("zcode"), F.max("zcode")).first())
        if r[0] is not None:
            ranges.append((r[0], r[1]))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "file z-ranges overlap"


def test_funnel_single_shuffle(spark, sf_oracle):
    """Chained funnel windows + per-user reduce must reuse one
    hash(user_id) exchange (plus the single-row final aggregate)."""
    df = registry.queries()["funnel_conversion"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count("hashpartitioning(user_id") <= 1, plan[:1200]


def test_winsorized_broadcasts_bounds(spark, sf_oracle):
    df = registry.queries()["agg_winsorized_stats"](spark, sf_oracle)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_pack_no_single_partition_window(spark, sf_oracle):
    """The prefix sum must never plan the naive global-order window —
    that is an 'Exchange SinglePartition' collapsing the table onto one
    task. The two-phase scan keeps every window partition-parallel."""
    df = registry.queries()["pack_sequences"](spark, sf_oracle)
    plan = plan_of(df)
    assert "SinglePartition" not in plan, plan[:1200]


# Escape hatches that INTENTIONALLY run Python (documented as such);
# everything else oracle-checked must stay JVM-side / codegen-able.
_PYTHON_ALLOWED = {
    "agg_geomean_udaf",            # GROUPED_AGG pandas UDAF demo
    "udf_grouped_map_interarrival",  # grouped-map applyInPandas demo
    "text_chunks_udtf",            # Python UDTF demo
    "multimodal_features",         # mapInPandas media plumbing
    "multimodal_resize",           # mapInPandas fake-resize plumbing
    "multimodal_frame_sample",     # mapInPandas frame fan-out plumbing
    "multimodal_audio_chunks",     # mapInPandas chunk fan-out plumbing
    "embedding_pq_codes",          # mapInPandas PQ encode (Arrow kernel;
                                   # newly checked once it gained the
                                   # unrolled-CTE oracle in r6)
    "image_decode_features",       # mapInPandas REAL image decode
    "image_decode_png",            # mapInPandas REAL PNG inflate+unfilter
    "image_resize_real",           # mapInPandas REAL pixel resample
    "audio_decode_features",       # mapInPandas REAL WAV decode
    "audio_chunk_rms",             # mapInPandas REAL PCM chunking
    "video_decode_features",       # mapInPandas REAL y4m decode
    "multimodal_curation",         # composes the real decoders above
    "corpus_domain_mixture",       # mapInPandas k-means cell assignment
                                   # (the shared Arrow blocking kernel,
                                   # r7) — everything downstream is
                                   # relational aggregation
    "corpus_domain_reweight",      # same Arrow cell-assignment kernel
                                   # (r8 apply side); the admission
                                   # itself is a pure JVM projection
    "corpus_domain_reweight_up",   # same kernel (r9 resample mode);
                                   # replication + fractional gate are
                                   # pure JVM explode/projection
    "corpus_training_set_v2",      # r9: composes the domain stage
                                   # above into the curation pipeline
    "image_decode_jpeg",           # mapInPandas REAL JPEG codec (r9)
    "image_decode_jpeg420",        # same, 4:2:0 subsampled fixtures
    "text_unigram_train",          # r10: Arrow Viterbi kernel over the
                                   # chunk-TYPE table (vocab-sized, the
                                   # k-means-kernel class); corpus-sized
                                   # passes are relational aggregates
    "text_unigram_encode",         # same kernel, apply side — join-back
                                   # and per-doc stats are pure JVM
    "audio_decode_flac",           # mapInPandas REAL FLAC codec (r10)
}
# Queries whose *construction* performs work (writes, streams,
# checkpoints) — plan text is checked for the pure-relational rest.
_PLAN_SKIP_PREFIXES = ("s8_", "s10_", "source_", "bucketed_",
                       "stream_", "corpus_curation", "dedup_",
                       "sim_", "graph_", "text_rolling")


def test_relational_queries_have_no_python_in_plan(spark, sf_oracle):
    """The hot path stays JVM-side: no row-at-a-time or Arrow Python
    evaluation node may appear in any oracle-checked relational plan
    (SURVEY.md §4 anti-pattern 3 — the reference's rdd.map is exactly
    what this guards against reintroducing)."""
    python_nodes = ("BatchEvalPython", "ArrowEvalPython",
                    "FlatMapGroupsInPandas", "MapInPandas",
                    "PythonUDTF", "FlatMapGroupsInPandasWithState")
    checked = 0
    for name in sorted(registry.oracle_sql()):
        if name in _PYTHON_ALLOWED or name.startswith(_PLAN_SKIP_PREFIXES):
            continue
        plan = plan_of(registry.queries()[name](spark, sf_oracle))
        for node in python_nodes:
            assert node not in plan, f"{name} runs Python: {node}"
        checked += 1
    assert checked > 80, f"only {checked} plans checked"


def test_runtime_bloom_filter_prereduces_semi_join(spark, sf_oracle):
    """Spark's runtime bloom filter (enabled in session.py) injects a
    bloom_filter_agg on the selective build side and pre-filters the
    big probe side BEFORE its shuffle — the built-in realization of
    SURVEY.md §4's 'bloom-filter pre-reduction for J2/J3'. Thresholds
    are lowered here because local test data is tiny; on a cluster the
    defaults engage at real sizes."""
    tweaks = {
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1"}
    old = {k: spark.conf.get(k, None) for k in tweaks}
    try:
        for k, v in tweaks.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(os.path.join(sf_oracle, "lineitem.parquet"))
        orders = (spark.read.parquet(os.path.join(sf_oracle, "orders.parquet"))
                  .where(F.col("o_orderstatus") == "P"))
        j = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_semi")
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan, "bloom filter not injected"
        assert "might_contain" in plan, "probe side not pre-filtered"
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling (enabled in session.py) splits a hot-key
    shuffle partition into parallel sub-partitions at runtime —
    SortMergeJoin(skew=true) + 'AQEShuffleRead coalesced and skewed'
    in the final adaptive plan. Thresholds lowered because local test
    data is tiny; at cluster scale the defaults (256MB) engage on real
    hot keys. This is the automatic path; operators/skew.py holds the
    manual salting tools for aggregate skew."""
    tweaks = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB"}
    old = {k: spark.conf.get(k, None) for k in tweaks}
    try:
        for k, v in tweaks.items():
            spark.conf.set(k, v)
        big = spark.range(400000).select(
            F.when(F.col("id") < 200000, F.lit(0))
             .otherwise(F.col("id") % 1000).alias("k"),
            F.rand(7).alias("v"))
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.rand(9).alias("w"))
        j = big.join(right, "k")
        j.collect()  # finalize THIS df's adaptive plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "hot partition not split by AQE"
        assert "skewed" in plan, "no skewed AQEShuffleRead"
    finally:
        for k, v in old.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))


def test_countmin_sketch_is_one_aggregate(spark, sf_oracle):
    """The CMS grid build must be a single partial+final hash aggregate
    over the posexplode fan-out — d passes over the data (a union of
    per-hash scans) or a join-based build would defeat the sketch's
    one-scan mergeability contract."""
    from s3_elasticsearch_data_pipeline_spark.operators.analytics import (
        countmin_heavy_hitters)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    events = load_table(spark, sf_oracle, "events")
    plan = plan_of(countmin_heavy_hitters(events))
    # two in-place fan-outs (grid build + probe list), never a union of
    # per-hash branches
    # "(n) Node" detail headers appear once per node instance
    assert plan.count(") Generate") == 2, plan
    assert plan.count("posexplode") >= 2, plan
    assert "Union" not in plan, "per-hash union re-scans the input"
    # the events relation is scanned exactly twice: once for the grid,
    # once for the exact top-n probe list (never d+1 times)
    assert plan.count(") Scan parquet") == 2, plan


def test_dataset_shuffle_has_no_global_sort(spark, sf_oracle):
    """The corpus shuffle must hash-partition on shard (independent
    per-shard sorts) — a global ORDER BY (rangepartitioning) would
    funnel a 100 TB corpus through one range-boundary computation."""
    from s3_elasticsearch_data_pipeline_spark.operators.text import (
        dataset_shuffle)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    plan = plan_of(dataset_shuffle(load_table(spark, sf_oracle, "documents")))
    assert "hashpartitioning(shard" in plan, plan
    assert "rangepartitioning" not in plan, "global sort leaked in"


def test_time_range_window_single_shuffle(spark, sf_oracle):
    """The RANGE-frame window runs on ONE hash exchange (user_id) —
    frame evaluation is a sliding pass over each sorted partition, not
    a per-row rescan or a self-join."""
    from s3_elasticsearch_data_pipeline_spark.operators.windows import (
        time_range_average)
    from s3_elasticsearch_data_pipeline_spark.tables import load_table

    plan = plan_of(time_range_average(load_table(spark, sf_oracle, "events")))
    assert plan.count(") Exchange") == 1, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert ") Join" not in plan and "CartesianProduct" not in plan


def test_bloom_filter_broadcasts_word_table(spark, sf_oracle):
    """The Bloom word table (≤2 Ki rows) must broadcast to the probe
    side — never shuffle the distinct-key probe for it."""
    df = registry.queries()["sketch_bloom_filter"](spark, sf_oracle)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan[:1200]


def test_ohlc_windows_share_one_exchange(spark, sf_oracle):
    """Both row_number directions partition by (user, bucket): the plan
    must hash-exchange the events once, not once per direction."""
    df = registry.queries()["timeseries_ohlc"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count("hashpartitioning(user_id") <= 1, plan[:1500]


def test_session_paths_single_user_shuffle(spark, sf_oracle):
    """Gap-window, session window, and step filter all partition by
    user_id (or its superset) — one user_id exchange feeds them all;
    the only later exchange is the tiny path-count aggregate."""
    df = registry.queries()["session_paths"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count("hashpartitioning(user_id#") <= 1, plan[:1500]


def test_skyline_window_input_is_reduced(spark, sf_oracle):
    """The deliberate single-partition running-max window must consume
    the price-level aggregate, not raw part rows: a HashAggregate has
    to sit below the Window node in the plan."""
    df = registry.queries()["skyline_pareto"](spark, sf_oracle)
    plan = plan_of(df)
    assert "Window" in plan and "HashAggregate" in plan
    # the Window's input must be the aggregated (price, mx) frame —
    # never raw part columns like p_partkey
    win_section = plan.split(") Window")[1].split("\n\n")[0]
    assert "mx#" in win_section and "p_partkey" not in win_section, win_section


def test_interval_grid_join_is_equi_not_nested_loop(spark, sf_oracle):
    """The bucketized interval join must plan as a shuffled equi-join
    on (user, bucket) — never the BroadcastNestedLoopJoin a bare range
    predicate would force."""
    df = registry.queries()["interval_join_grid"](spark, sf_oracle)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan[:1500]


def test_pagerank_partitioned_path_never_broadcasts_ranks(spark, sf_oracle):
    """Above the broadcast node limit PageRank must switch to the
    co-partitioned strategy: zero broadcast joins anywhere in the plan
    (rank vector, degrees, and recompute joins are all node-sized), and
    the ranks must be bit-identical to the broadcast path (decimal-exact
    contribution sums make the result partitioning-independent)."""
    from s3_elasticsearch_data_pipeline_spark.operators.graph import pagerank
    li = spark.read.parquet(os.path.join(sf_oracle, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_oracle, "orders.parquet"))
    pairs = (od.join(li, od["o_orderkey"] == li["l_orderkey"])
             .select(F.concat(F.lit("c"), "o_custkey").alias("src"),
                     F.concat(F.lit("s"), "l_suppkey").alias("dst"))
             .distinct())
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # Auto-broadcast would still kick in at this toy scale and mask the
    # strategy difference; disable it so only explicit hints broadcast —
    # exactly the situation at real scale where stats exceed the
    # threshold anyway.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # Plan shape on the LAZY path (materialize=True returns an
        # opaque checkpoint scan, hiding the join strategy):
        plan = plan_of(pagerank(edges, iters=2, broadcast_ranks=False,
                                materialize=False))
        assert "BroadcastHashJoin" not in plan, \
            "partitioned PageRank must not broadcast any node-sized side"
        assert "BroadcastNestedLoopJoin" not in plan
        plan_small = plan_of(pagerank(edges, iters=2, broadcast_ranks=True,
                                      materialize=False))
        assert plan_small.count("BroadcastHashJoin") >= 2
        # AUTO mode crosses over on estimated rank-vector BYTES: with a
        # budget smaller than this graph's n × RANK_ROW_BYTES estimate,
        # the partitioned strategy must engage without being forced
        plan_auto = plan_of(pagerank(edges, iters=2,
                                     broadcast_budget_bytes=1024,
                                     materialize=False))
        assert "BroadcastHashJoin" not in plan_auto, \
            "byte budget exceeded — auto mode must pick partitioned"
        # Value equality on the production (materialized) path:
        big = pagerank(edges, iters=2, broadcast_ranks=False)
        small = pagerank(edges, iters=2, broadcast_ranks=True)
        assert big.exceptAll(small).count() == 0
        assert small.exceptAll(big).count() == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_corpus_broadcasts_are_stats_driven_and_flip_at_scale(
        spark, sf_oracle):
    """r7 (verdict item 1): the r6 broadcast-audit triage accepted the
    corpus-pipeline verdict-list broadcasts on a width-estimate
    ARGUMENT; this pins it with evidence. Scale only enters Spark's
    broadcast decision through the stats/threshold ratio, so shrinking
    ``autoBroadcastJoinThreshold`` to 1KB is the 10x/100x-replica plan
    probe without building replicas: every stats-driven corpus-derived
    build side (doc-id verdict lists, per-doc score frames) must FLIP
    to shuffle, proving its checkpoint-backed estimate genuinely grows
    with the data (the r5 OOM class was constant-understated stats
    that would NOT flip). The only survivors allowed are the explicit
    ``F.broadcast(bench)`` eval-gram joins — eval benchmarks are
    fixed-size by definition, correct at any corpus scale."""
    import re
    from tools.audit_broadcasts import (FLIP_SURVIVORS, _RDD_SCAN,
                                        _indent)

    # single source of truth: the sweep tool's allowlist
    # (tools/audit_broadcasts.py --flip regenerates the artifact per
    # round; this test pins the allowlist's content AND verifies every
    # allowed survivor really is an eval-gram explicit broadcast)
    names_expected = FLIP_SURVIVORS
    assert names_expected == {
        # r11: 4 -> 2 — inline shuffle assignment stopped the shuf
        # branch from re-executing (and re-broadcasting) the curated
        # subtree; 2 -> 1 — inline split assignment did the same for
        # the split self-join's right side
        "corpus_training_set": 1,
        "corpus_curation_pipeline": 1,
        "contamination_ngram_overlap": 1,
        "multimodal_curation": 0,
        # r9: the production dedup-at-ingest's per-side hot-bucket
        # cap lists (explicit F.broadcast(hot), tiny by construction)
        "dedup_incremental_lsh_prod": 2,
        # r10: domain_reweight's driver-built per-cell rates table
        # (explicit F.broadcast, n_cells rows at any corpus scale)
        "corpus_domain_reweight": 1,
    }
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "1KB")
        for name, expected in names_expected.items():
            df = registry.queries()[name](spark, sf_oracle)
            lines = (df._jdf.queryExecution().executedPlan()
                     .toString().splitlines())
            hits = []
            for i, line in enumerate(lines):
                if "BroadcastExchange" not in line:
                    continue
                d = _indent(line)
                sub = []
                for s2 in lines[i + 1:]:
                    if _indent(s2) <= d:
                        break
                    sub.append(s2)
                if any(_RDD_SCAN.search(s2) for s2 in sub):
                    hits.append(sub)
            assert len(hits) == expected, \
                (name, len(hits), "a corpus-derived build side kept "
                 "its broadcast under a 1KB threshold — its stats do "
                 "not grow with the data (r5 OOM class)")
            # survivors must be the known fixed-small explicit
            # broadcasts: eval-gram tables, or (lsh prod) the
            # over-cap hot-bucket key lists
            if name == "dedup_incremental_lsh_prod":
                pat = r"HashAggregate\(keys=\[band#\d+, bucket#"
                msg = "non-hot-bucket broadcast survived 1KB"
            elif name == "corpus_domain_reweight":
                # the driver-built rates table (cell, __rate)
                pat = r"Scan ExistingRDD\[cell#\d+, ?__rate#"
                msg = "non-rates broadcast survived 1KB"
            else:
                pat = r"HashAggregate\(keys=\[gram#"
                msg = "non-eval-gram broadcast survived 1KB"
            for sub in hits:
                assert any(re.search(pat, s2) for s2 in sub), \
                    (name, msg)
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_j4_single_exchange_no_join(spark, sf_oracle):
    """J4 count-compare (r9 union-aggregate form): tag-and-sum must
    plan as ONE hash exchange and ZERO joins — the previous
    two-aggregate + full-outer form paid 2 Exchanges + 2 sort-merge
    joins to join two kilobyte count tables."""
    df = registry.queries()["j4_count_mismatches"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count(") Exchange") <= 1, plan[:1500]
    assert ") Join" not in plan and "SortMergeJoin" not in plan, \
        plan[:1500]
    # the sink-side status filter still reaches the scan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_domain_reweight_rates_join_is_broadcast(spark):
    """r10: domain_reweight's per-cell rates are a BROADCAST-joined
    table (flat plan at any learned-domain count), not a when-chain —
    pin the explicit F.broadcast so a stats-driven regression to SMJ
    (or back to a literal chain) is caught. Both modes."""
    import numpy as np
    from s3_elasticsearch_data_pipeline_spark.operators import ml
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=6)])
            for i in range(80)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    docs = spark.createDataFrame([(r[0], "t", "en") for r in rows],
                                 "doc_id long, text string, lang string")
    for mode in ("downsample", "resample"):
        df = ml.domain_reweight(docs, emb, {0: 0.5, 1: 0.5},
                                n_cells=2, mode=mode)
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan, (mode, plan[:1500])
        assert "CaseWhen" not in plan, (mode, plan[:1500])
