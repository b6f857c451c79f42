"""Physical-plan regression tests: the perf posture (pushdown, pruning,
broadcast, partial aggregation) must not silently regress."""

import os

import __spark_entry__ as entry
from pyspark.sql import functions as F

from modis_aggregation_spark.observe import measure, plan_metric, plan_nodes

SF = "/root/testdata/sf0.001"
FIXTURES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def _plan(spark, name):
    df = entry.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


_JOINS = {
    "SortMergeJoinExec",
    "BroadcastHashJoinExec",
    "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
}


def _assert_no_raw_index_exchange(spark, query, index, n_scans):
    """The bucketed-index plan lock: ``query`` reads ``n_scans`` scans of
    the ``index`` tables, all bucketed, and no shuffle moves raw index
    rows (every path from an exchange down to an index scan crosses a
    join or an aggregate).  AQE and auto-broadcast are pinned off so the
    lock is on the deterministic planner shape."""
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        root = entry.queries()[query](spark, SF)._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)

    def is_index_scan(n):
        return n.getClass().getSimpleName() == "FileSourceScanExec" and (
            index in n.simpleString(120)
        )

    def moves_raw_index_rows(n):
        cls = n.getClass().getSimpleName()
        if cls in _JOINS or "Aggregate" in cls:
            return False  # past a join/agg: rows are candidate-bound
        if is_index_scan(n):
            return True
        ch = n.children()
        return any(moves_raw_index_rows(ch.apply(i)) for i in range(ch.size()))

    index_scans = [n for n in plan_nodes(root) if is_index_scan(n)]
    assert len(index_scans) == n_scans, [s.simpleString(80) for s in index_scans]
    for s in index_scans:
        assert "Bucketed: true" in s.simpleString(400), s.simpleString(400)
    for n in plan_nodes(root):
        if n.getClass().getSimpleName() == "ShuffleExchangeExec":
            assert not moves_raw_index_rows(n), n.simpleString(200)


def test_m2_scan_pushdown_and_pruning(spark):
    plan = _plan(spark, "m2_cell_stats")
    assert "PushedFilters: [IsNotNull(lat), IsNotNull(lon), GreaterThan(lat,-20.0)" in plan
    assert "ReadSchema: struct<lat:double,lon:double,ctp:double>" in plan
    assert "partial_min" in plan and "partial_stddev_pop" in plan  # map-side partials
    assert plan.count("Exchange hashpartitioning") == 1  # exactly one shuffle


def test_r3_joins_all_broadcast(spark):
    plan = _plan(spark, "r3_join_chain")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    # date filter pushed into the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_m9_densify_broadcasts_aggregate(spark):
    plan = _plan(spark, "m9_densify")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # only the agg shuffle


def test_r1_projection_pruned(spark):
    plan = _plan(spark, "r1_filter_project")
    # only the five needed lineitem columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double," in plan


def test_x21_exact_cosine_no_cartesian(spark):
    """Exact all-pairs cosine must stay an equi-join on block ids — a
    cartesian/nested-loop product would be quadratic per task."""
    plan = _plan(spark, "x21_cosine_pairs_exact")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # round 9: block matrices join by SORT-MERGE on the block id —
    # Catalyst can't size collect_list'd matrices, so a broadcast
    # election would be a driver OOM at real corpus sizes
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert join_lines and all("Broadcast" not in l for l in join_lines)
    # pre-normalized vectors: no per-pair SQRT of either side's norm
    assert all("SQRT" not in l for l in join_lines)


def test_r30_snapshot_diff_single_join(spark):
    """CDC diff is one co-partitioned full-outer join, nothing more."""
    plan = _plan(spark, "r30_snapshot_diff")
    assert plan.count("Join") == 1
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """Spark's runtime Bloom-filter join pruning is ON by default but
    gated behind a 10 GB application-side scan threshold — invisible at
    test scale, load-bearing at 100 TB (a selective dim filter prunes the
    fact scan before the shuffle). Lower the gate and assert the filter
    actually injects on our join shape, so a conf/regression can't
    silently disable it."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # broadcast joins bypass the bloom path entirely; force shuffles
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{SF}/orders.parquet").where(
            "o_orderpriority = '1-URGENT'"
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan or "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_m13_single_pass_staging(spark):
    """Monthly reagg must stage per-day partials in ONE pass over the
    pixels (round 1 unioned a plan branch per day: 51 redundant scans).
    Both merges are NumPy functions after a hash exchange, the (cell, doy)
    merge of the staged partials and ``reaggregate``'s period merge: no
    Catalyst aggregate and no ``collect_list`` of histogram arrays."""
    df = entry.queries()["m13_monthly_reagg"](spark, SF)
    plan = _executed(df)
    assert plan.count("pixels.parquet") == 1  # one scan, branches reused
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in plan
    assert "collect_list" not in plan
    names = [n.getClass().getSimpleName() for n in plan_nodes(df)]
    assert names.count("MapInArrowExec") == 3
    assert not {"HashAggregateExec", "ObjectHashAggregateExec"} & set(names), names


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_daily_grid_single_pixel_pass(spark):
    """daily_grid reads its pixels once: per-granule partials, then one
    per-cell merge. Aggregating the pixels a second time for the CF stats
    and joining the two results doubled the scan (and, over granule files,
    the decode). Both stages are NumPy functions on either side of one
    hash exchange: no Catalyst aggregate is left to plan or run."""
    from modis_aggregation_spark.config import default_spec
    from modis_aggregation_spark.plans.pipeline import daily_grid

    px = spark.read.parquet(os.path.join(FIXTURES, "pixels.parquet"))
    gr = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    spec = default_spec(lat_bounds=(-20.0, 20.0), lon_bounds=(0.0, 35.0))
    df = daily_grid(spark, spec, px, gr)
    plan = _executed(df)
    assert plan.count("pixels.parquet") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the cell merge's
    nodes = list(plan_nodes(df))
    names = [n.getClass().getSimpleName() for n in nodes]
    assert names.count("MapInArrowExec") == 2
    assert not {"HashAggregateExec", "ObjectHashAggregateExec"} & set(names), names
    # stage 1 (the accumulator) below the exchange, stage 2 (the merge) above it
    (exchange,) = [n for n, name in zip(nodes, names) if name == "ShuffleExchangeExec"]
    assert [n.getClass().getSimpleName() for n in plan_nodes(exchange)].count("MapInArrowExec") == 1


def test_stream_daily_grid_single_pixel_pass(spark, tmp_path):
    """The streaming daily grid runs the batch stage 1: one NumPy
    accumulator over each micro-batch's pixels, not aggregates of its own."""
    from modis_aggregation_spark.config import AggregationSpec, VariableSpec
    from modis_aggregation_spark.streaming.daily_stream import stream_daily_grid, stream_pixels

    path = os.path.join(FIXTURES, "pixels.parquet")
    px = stream_pixels(spark, path, spark.read.parquet(path).schema)
    gr = spark.read.parquet(os.path.join(FIXTURES, "granules.parquet"))
    spec = AggregationSpec(lat_bounds=(-20.0, 20.0), lon_bounds=(0.0, 35.0),
                           variables=(VariableSpec(name="ctp"),))
    q = (
        stream_daily_grid(px, gr, spec).writeStream.format("memory")
        .queryName("stream_single_pass").outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120)
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    spark.catalog.dropTempView("stream_single_pass")
    assert [n.getClass().getSimpleName() for n in plan_nodes(plan)].count("MapInArrowExec") == 1


def _fake_granules(spark, spec):
    from modis_aggregation_spark.sources.granule_datasource import GranuleDataSource

    spark.dataSource.register(GranuleDataSource)
    px = (
        spark.read.format("modis_granules")
        .option("granule_ids", "1,2")
        .option("variables", ",".join(v.name for v in spec.physical_variables()))
        .option("decoder", "fake")
        .load()
    )
    gr = spark.createDataFrame([(1, 1, 10), (2, 1, 11)], "granule_id long, doy int, hour int")
    return px, gr


def test_daily_grid_single_granule_scan(spark):
    """Over the granule DataSource every scan is a decode: exactly one."""
    from modis_aggregation_spark.config import default_spec
    from modis_aggregation_spark.plans.pipeline import daily_grid

    spec = default_spec()
    plan = _executed(daily_grid(spark, spec, *_fake_granules(spark, spec)))
    assert plan.count("BatchScan modis_granules") == 1


def test_daily_grid_never_shuffles_pixels(spark):
    """The (cell, granule) partials are combined before any exchange, so
    daily_grid shuffles about one record per (cell, granule) pair plus one
    per cell, whatever the pixel count. Grouping the pixels by granule
    before accumulating them (``applyInArrow``) shuffles every pixel."""
    from modis_aggregation_spark.config import default_spec
    from modis_aggregation_spark.plans.pipeline import daily_grid

    spec = default_spec()
    px, gr = _fake_granules(spark, spec)
    pixels = px.count()
    with measure(spark, "daily_grid_pixel_shuffle") as m:
        daily_grid(spark, spec, px, gr).write.format("noop").mode("overwrite").save()
    assert 0 < m["shuffle_records"] < 0.01 * pixels, (m["shuffle_records"], pixels)
    assert m["jobs"] <= 4, m


def test_x26_pii_scrub_map_only(spark):
    """PII count/redact is pure Catalyst regexp projection — any Exchange
    here means someone added a shuffle to a map-only stage."""
    plan = _plan(spark, "x26_pii_scrub")
    assert "Exchange" not in plan


def test_x27_pack_sequences_distributed_prefix_sum(spark):
    """The global cumsum must stay two-phase: the full table only sees a
    __b-partitioned window; the single-partition window runs on the tiny
    per-bucket totals AGGREGATE and returns via broadcast."""
    plan = _plan(spark, "x27_pack_sequences")
    lines = plan.splitlines()
    # the unpartitioned (SinglePartition) exchange must be downstream of
    # the totals HashAggregate, never over the raw document rows
    single = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    assert len(single) == 1
    assert any("HashAggregate" in l for l in lines[single[0]:]), plan
    # the per-row window is partitioned by the bucket column
    assert any("windowspecdefinition(__b" in l for l in lines)
    # offsets come back as a broadcast join, not a shuffle join
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_x28_repetition_partial_agg_no_join(spark):
    """Repetition screens: one parquet scan, map-side partial aggregation
    absorbing per-document n-gram repeats, no join of any kind."""
    plan = _plan(spark, "x28_repetition")
    assert plan.count("Scan parquet") == 1
    assert "partial" in plan  # map-side combine before the gram shuffle
    assert "Join" not in plan


def test_x29_decontaminate_broadcasts_benchmark(spark):
    """The eval-set gram side must broadcast (MBs vs a 100 TB corpus);
    a sort-merge join here would shuffle the whole corpus's grams twice."""
    plan = _plan(spark, "x29_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x33_domain_cap_two_phase_windows(spark):
    """Per-domain caps must stay the two-phase window form: both windows
    are hash-partitioned (never a single-partition global window), and
    phase 1's (key, subkey) partitioning bounds every reducer even when
    one domain dominates the corpus."""
    plan = _plan(spark, "x33_domain_cap")
    assert plan.count("Window [") == 2  # operator nodes, not expr text
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_r35_q17_all_broadcast(spark):
    """Decorrelated scalar-AVG subquery: the filtered part dim and the
    per-part averages both broadcast — a sort-merge join here would
    shuffle the fact table twice."""
    plan = _plan(spark, "r35_tpch_q17")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_r36_q19_stays_hash_join(spark):
    """Disjunctive predicates must not defeat the equi-join extraction:
    the common l_partkey=p_partkey conjunct keeps this a (broadcast)
    hash join, never a nested-loop over the OR."""
    plan = _plan(spark, "r36_tpch_q19")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_x34_source_mix_broadcasts_rates(spark):
    """The per-source rate table joins back by BROADCAST (it has one row
    per source); the corpus never shuffles for the filter."""
    plan = _plan(spark, "x34_source_mix")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_x42_bm25_no_doc_shuffle(spark):
    """BM25 scoring must be map-only over the corpus: the skinny 1-row
    stats aggregate broadcasts back, never a doc_id-keyed join chain.
    (Round 8 fused df+scalars into ONE agg pass — a single crossJoin.)"""
    plan = _plan(spark, "x42_bm25")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # one 1-row stats crossJoin
    # only the stats aggregate exchanges; no hashpartitioning on doc_id
    assert "hashpartitioning(doc_id" not in plan


def test_x43_ewma_single_shuffle(spark):
    plan = _plan(spark, "x43_ewma")
    assert plan.count("Exchange hashpartitioning") == 1  # the per-key groupBy
    assert "Join" not in plan


def test_x66_ewma_partitioned_plan_shape(spark):
    """Distributed prefix-scan EWMA: the stitch join must BROADCAST the
    tiny prefix table (never SMJ the data rows), no cartesian anywhere,
    and the stage-1 scan must enter as a checkpointed RDD — the
    localCheckpoint that makes pid assignment re-execution-proof
    (operators/temporal.py:_ewma_partitioned). The range exchange lives
    BEHIND that checkpoint, so it is asserted on the stage-1 subtree
    directly."""
    plan = _plan(spark, "x66_ewma_partitioned")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan  # the checkpoint
    # round 12: the per-key carry fold is a pure-codegen HOF aggregate
    # over the collected segment array — the applyInPandas it replaced
    # paid ~3 ms of pandas-frame construction per KEY (5.4 s of the 7 s
    # slot at sf0.1) and re-ran inside the broadcast. The only Python
    # node left is the stage-1 segment scan (behind the checkpoint, so
    # invisible here — zero Pandas nodes in the returned plan).
    assert "FlatMapGroupsInPandas" not in plan
    assert plan.count("aggregate(") >= 1  # the carry fold
    # stage-1 subtree: range split + in-partition sort ahead of the scan
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    part = (
        ev.select(
            F.col("user_id").alias("key"), F.col("ts"),
            F.col("value").cast("double").alias("value"),
        )
        .repartitionByRange(8, "key", "ts", "value")
        .sortWithinPartitions("key", "ts", "value")
    )
    stage1 = part._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in stage1
    assert "Sort [" in stage1


def test_x44_zorder_map_only(spark):
    """Z-order key: one 1-row bounds broadcast, then a pure projection."""
    plan = _plan(spark, "x44_zorder")
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the scalar bounds


def test_x48_resample_two_shuffles(spark):
    """Resample+interpolate: the event agg and the window sort are the
    only exchanges; gap-fill joins the per-key span summary (broadcast at
    this scale), never a calendar scan."""
    plan = _plan(spark, "x48_resample_interp")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_x49_triangles_all_equi_joins(spark):
    """Degree-ordered wedge join: every join must stay an equi-join —
    a cartesian/nested-loop anywhere makes triangle counting quadratic."""
    plan = _plan(spark, "x49_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x50_bigram_no_vocab_broadcast_hint(spark):
    """Bigram LM: the only BNLJ is the 1-row vocabulary-size scalar; the
    w1-counts join carries no broadcast HINT (vocabulary is unbounded at
    corpus scale — AQE may still elect broadcast from runtime stats)."""
    import __spark_entry__ as entry

    df = entry.queries()["x50_bigram_lm"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    # exactly one user-supplied broadcast hint (the scalar crossJoin)
    assert logical.count("ResolvedHint") <= 1


def test_x51_dup_spans_skinny_fp_shuffles(spark):
    """Duplicated-span profile: the text column must never shuffle — only
    64-bit window fingerprints do; the per-fp flag join carries no
    broadcast hint (fp cardinality ~ corpus tokens)."""
    df = entry.queries()["x51_dup_spans"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("text" not in l for l in exch)
    assert logical.count("ResolvedHint") == 0


def test_x54_editdist_no_cartesian_hashed_keys(spark):
    """Edit-distance join: candidate generation must stay an equi-join on
    hashed variant keys (never the O(n²) brute force the oracle runs) and
    the only broadcast hint is the max_bucket cap's anti-join side."""
    df = entry.queries()["x54_editdist_join"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan          # bucket cap present
    assert "rightHint=(strategy=broadcast)" in logical  # cap side broadcast
    # the self-join shuffles hashed keys, not name strings
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("c_name" not in l for l in exch)


def test_x52_semdedup_pair_join_keyed_on_list(spark):
    """SemDeDup: the quadratic pair search must be LOCAL to a cluster —
    an equi-join keyed on list_id, never a cartesian across clusters."""
    df = entry.queries()["x52_semdedup"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_x57_adc_codes_never_shuffle_for_scoring(spark):
    """ADC top-k: the code table joins the per-query LUT via BROADCAST
    (codes never shuffle for scoring); the per-(query, vec) sum is a
    partial+final hash agg; the top-k window prunes below the exchange."""
    df = entry.queries()["x57_pq_adc_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan          # map-side combine of the m rows
    assert "WindowGroupLimit" in plan     # rank <= k pushed below exchange


def test_x58_overlap_fp_join_never_broadcast(spark):
    """Span-contamination matrix: the (source, fp) pair join keys on fp
    with NO broadcast hint — the fp table is unbounded at corpus scale —
    and the text column never shuffles."""
    df = entry.queries()["x58_overlap_matrix"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert logical.count("ResolvedHint") == 0
    assert "strategy=broadcast" not in logical
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exch and all("text" not in l for l in exch)


def test_r45_q21_semi_and_anti_no_cartesian(spark):
    """Q21 shape: the two same-table correlated subqueries must stay a
    LEFT SEMI + LEFT ANTI pair keyed on orderkey (the <> correlation is a
    join-condition filter, never a cartesian); supplier broadcasts."""
    plan = _plan(spark, "r45_tpch_q21")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20, not a full sort


def test_r47_q16_not_in_stays_anti_join(spark):
    """Q16 shape: NOT IN (subquery) must plan as an anti join (null-aware
    or plain — never a per-row nested loop over the full supplier set)."""
    plan = _plan(spark, "r47_tpch_q16")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count(distinct " in plan or "count(distinct" in plan


def test_x63_inverted_index_window_cap_pruned(spark):
    """Posting cap: the rank<=k filter must prune as WindowGroupLimit
    (bounded rows per term reach the window sort); the only BNLJ is the
    1-row corpus-size scalar; no cartesian."""
    plan = _plan(spark, "x63_inverted_index")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # n_docs scalar


def test_x60_materialized_fps_single_corpus_scan(spark):
    """Materialized-fingerprint span profile: passing ``fingerprints=``
    from parquet must collapse the 3× corpus scan (x51's documented
    caveat) to exactly ONE documents scan — the final doc_id roll-up —
    with every other input read from the skinny fp table."""
    df = entry.queries()["x60_dup_spans_materialized"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1
    assert plan.count("fps.parquet") >= 1  # profile feeds off the artifact
    assert "CartesianProduct" not in plan
    # the fp-count join stays a shuffle join (fp table unbounded at scale)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert logical.count("ResolvedHint") == 0


def test_x59_hash_embed_pure_catalyst(spark):
    """Feature hashing: no Python boundary (no Arrow/batch eval nodes),
    no broadcast hints, no cartesian — one (doc, bucket) agg plus the
    doc-keyed norm join."""
    df = entry.queries()["x59_hash_embed"](spark, SF)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert logical.count("ResolvedHint") == 0
    assert "partial_sum" in plan  # map-side combine of repeated tokens


def test_x71_bpe_encode_plan_shape(spark):
    """BPE encode: document text reaches exactly the two scans (vocab
    text-only, exploded doc_id+text) and NEVER an exchange; only
    DISTINCT words cross the Python boundary (one MapInPandas, fed by
    the skinny word-distinct exchange); the vocab re-attach joins
    broadcast; per-doc reassembly is map-side-combined with ONE id
    exchange and no sort-merge join anywhere."""
    from pyspark.sql import functions as F

    from modis_aggregation_spark.operators.tokenizer import bpe_encode

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = bpe_encode(docs, [("t", "h"), ("th", "e")], "text", "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "partial_collect_list" in plan  # map-side combine
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exch) == 2 and all("text" not in l for l in exch)
    # the distinct-word branch prunes its scan to the text column only
    assert "ReadSchema: struct<text:string>" in plan


def test_x78_unigram_encode_plan_shape(spark):
    """Unigram encode inherits the bpe_encode plan posture: one
    MapInPandas over the distinct words, broadcast vocab re-attach,
    map-side-combined reassembly with ONE id exchange, no sort-merge
    join, text never in an exchange."""
    from modis_aggregation_spark.operators.tokenizer import unigram_encode

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = unigram_encode(docs, {"t": 10, "h": 5, "e": 5, "th": 3}, "text", "doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "partial_collect_list" in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exch) == 2 and all("text" not in l for l in exch)


def test_x76_bloom_probe_join_broadcasts_bits(spark):
    """Bloom screen: the set-bits relation joins BROADCAST (never a
    shuffled join on probe positions), the gram-hit aggregation is
    map-side combined, and the corpus text reaches only the scans."""
    from pyspark.sql import functions as F

    from modis_aggregation_spark.operators.screening import bloom_screen

    docs = spark.read.parquet(SF + "/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    train = docs.filter(F.col("doc_id") % 23 != 0)
    df = bloom_screen(train, bench, n=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert all("text" not in l for l in exch)


def test_x75_kmeans_iteration_shuffle_is_skinny(spark):
    """One k-means assignment+aggregation iteration: the only exchange
    carries (cluster, coordinate) partial sums — never the embedding
    array — and the aggregation is map-side combined."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    emb = spark.read.parquet(SF + "/embeddings.parquet").select(
        F.col("embedding").cast("array<double>").alias("__e")
    )
    cents = np.zeros((4, 64))

    @pandas_udf("int")
    def _assign(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.to_numpy()).astype(np.float64)
        d = (cents**2).sum(1)[None, :] - 2.0 * m @ cents.T
        return pd.Series(d.argmin(1).astype(np.int32))

    df = (
        emb.withColumn("__list", _assign(F.col("__e")))
        .select("__list", F.posexplode("__e").alias("pos", "v"))
        .groupBy("__list", "pos")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan  # map-side combine below the exchange
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(exch) == 1 and "__e" not in exch[0]


def test_x84_seeded_shuffle_no_global_window(spark):
    """Seeded shuffle must NOT sort everything in one partition: the
    window partitions by the key's top-bit bucket (an exchange on a
    real key), never an empty partition spec (Spark warns and funnels
    the corpus through one task)."""
    from modis_aggregation_spark.operators.curation import seeded_shuffle

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = seeded_shuffle(docs, "doc_id", seed=42)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # a global window compiles to 'Exchange SinglePartition' feeding it
    assert "SinglePartition" not in plan
    exch = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert any("__bkt" in l for l in exch)


def test_x89_heavy_hitters_broadcast_recount(spark):
    """x89's exact recount joins the corpus tokens against the LITERAL
    candidate relation via broadcast — never a vocabulary-sized
    SortMergeJoin — and the count aggregation is map-side partial."""
    plan = _plan(spark, "x89_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_x90_wordpiece_train_partial_aggs(spark):
    """Each WordPiece round's pair/unit counts partial-aggregate map-side
    (skinny shuffles over the distinct-word vocab, never the corpus)."""
    import __spark_entry__ as e

    docs = e.queries()  # noqa: F841 — ensure registry import parity
    from modis_aggregation_spark.operators.tokenizer import word_vocab

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        word_vocab(df, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def _final_plan(df):
    df.collect()  # finalize AQE so reuse is resolved
    return df._jdf.queryExecution().executedPlan().toString().split(
        "+- == Initial Plan =="
    )[0]


def test_x53_lm_score_single_tokenize_pass(spark):
    """lm_doc_score (round-8 fix): the corpus must be tokenized exactly
    once — the (doc_id, w1, w2) occurrence frame is a shared_frame and
    every consumer (LM count agg, probability-join probe) reads the one
    stored RDD.  Round 7 shipped four tokenize passes here (occ, the
    LM's own pairs, and a pairs∪pairs V union).  Assert on the AQE
    final plan: no documents scan and no bigram formation (zip_with)
    anywhere, and >= 2 consumers reading the stored frame."""
    df = entry.queries()["x53_lm_score"](spark, SF)
    final = _final_plan(df)
    assert final.count("FileScan parquet") == 0
    assert final.count("zip_with") == 0
    assert final.count("Scan ExistingRDD") >= 2
    assert "CartesianProduct" not in final
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # only the 1-row V scalar carries a broadcast hint; the count tables
    # (vocabulary²-unbounded at scale) must never be hinted
    assert logical.count("strategy=broadcast") <= 1


def _assert_x13_single_tokenize(df):
    final = _final_plan(df)
    assert final.count("FileScan parquet") == 0
    assert final.count("zip_with") == 0
    assert final.count("Scan ExistingRDD") >= 2


def test_x13_tfidf_single_tokenize_pass(spark):
    """tf_idf (round-8 audit): the tf table is a shared_frame — its two
    consumers (df agg, score join) each scan the one stored RDD, so the
    corpus tokenizes once and the returned plan holds no documents scan.
    (Exchange reuse cannot cover this query: the count-distinct rewrite
    + pruning de-duplicate the subtrees.)  Also: no broadcast hint
    anywhere — df_ is vocabulary-sized."""
    df = entry.queries()["x13_tfidf"](spark, SF)
    _assert_x13_single_tokenize(df)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical


def test_x13_tfidf_single_tokenize_after_clear_cache(spark):
    """A same-plan tf_idf call after ``spark.catalog.clearCache()`` (as
    tools/sweep_contract.py does between queries) still tokenizes once:
    nothing is kept across calls for clearCache to invalidate behind the
    operator's back.  A module-level slot holding the first call's
    frame handed the second call an uncached frame, whose plan scanned
    documents.parquet twice."""
    entry.queries()["x13_tfidf"](spark, SF).collect()
    spark.catalog.clearCache()
    _assert_x13_single_tokenize(entry.queries()["x13_tfidf"](spark, SF))


def test_x42_bm25_single_tokenize_no_shuffle(spark):
    """bm25 (round-12): the corpus tokenizes exactly ONCE — a single
    pass reduces each doc to the skinny (dl, tf per term) state and
    localCheckpoints it; the stats agg and the scoring projection both
    read the checkpointed frame, so the returned plan holds ZERO
    parquet scans (round 7 ran three tokenize passes, rounds 8-11 two).
    Still no doc-keyed shuffle: the only exchange is the
    single-partition stats agg."""
    df = entry.queries()["x42_bm25"](spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString().split(
        "+- == Initial Plan =="
    )[0]
    assert final.count("FileScan parquet") == 0
    assert "Scan ExistingRDD" in final
    assert final.count("Exchange hashpartitioning") == 0


def test_x63_inverted_index_reused_tokenize(spark):
    """inverted_index (round-8 audit): the distinct (doc_id, term)
    exchange is REUSED between the df aggregation and the posting join,
    so the corpus tokenizes once (the second FileScan is the tokenless
    n_docs count).  WindowGroupLimit keeps hot posting lists capped
    below the window sort."""
    df = entry.queries()["x63_inverted_index"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    n_scans = final.count("FileScan parquet")
    n_reused = final.count("ReusedExchange")
    # one tokenizing scan + one count scan; the dfreq side reuses
    assert n_scans <= 2 and n_reused >= 1, (n_scans, n_reused)
    assert "WindowGroupLimit" in plan


def test_m5_hist_1d_single_shuffle_partial_agg(spark):
    """M5 per-cell histogram (round-8 lock after the r7 bench drift,
    attributed to host noise — r8 re-measured 0.471 s vs r6's 0.451 s):
    one parquet scan, map-side partial aggregation, exactly ONE
    (cell-keyed) exchange, no join/window anywhere."""
    plan = _plan(spark, "m5_hist_1d")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan
    assert "Join" not in plan and "Window [" not in plan


def test_r27_merge_upsert_plan_shape(spark):
    """R27 MERGE snapshot rewrite (round-12 shape): anti-join + union
    replaced the full-outer join — matched rows take ALL source values,
    so the output is (target anti source-keys) ∪ (non-deleted source).
    The anti side carries only the source KEYS (keys-only ReadSchema on
    the anti-side scans) and broadcasts when small, so the whole merge
    runs with ZERO hash exchanges and zero sorts where the full-outer
    form shuffled+sorted both snapshots. At scale an oversized source
    degrades to SMJ LeftAnti — still strictly less data moved than the
    full outer (keys vs whole rows on the source side)."""
    plan = _plan(spark, "r27_merge_upsert")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" not in plan
    assert "LeftAnti" in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1
    assert plan.count("Exchange hashpartitioning") == 0


def _assert_batch_sigs_and_index_leaves(plan):
    """STRUCTURAL leaf walk: every leaf is either the one checkpoint of
    the new-batch signature build or a bare (id, sh, sig) parquet
    relation (the index artifact), and no leaf carries raw text."""
    import re

    leaves = plan.collectLeaves()
    ckpt_rdds = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        first = leaf.toString().splitlines()[0]
        assert "text#" not in first, f"raw text in a leaf: {first}"
        if leaf.nodeName() == "LogicalRDD":
            assert re.match(r"LogicalRDD \[id#\d+L?, sh#\d+, sig#\d+\]", first), first
            ckpt_rdds.add(leaf.rdd().id())
        else:
            assert re.match(
                r"Relation \[id#\d+L?,sh#\d+,sig#\d+\] parquet", first
            ), first
    assert len(ckpt_rdds) == 1, ckpt_rdds  # the one new-batch build


def test_x92_incremental_no_index_reshingle(spark):
    """Incremental MinHash-LSH (round 8): the INDEX side must read only
    the materialized signatures artifact — every shingle/normalize
    expression and every documents scan in the plan belongs to the (one,
    materialized) NEW-batch signature build; the index enters as bare
    (id, sh, sig) parquet relations.  Bucket caps stay broadcast
    anti-joins; no cartesian anywhere."""
    df = entry.queries()["x92_incremental_minhash"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan()
    _assert_batch_sigs_and_index_leaves(plan)
    import re

    logical = plan.toString()
    assert re.search(r"Relation \[id#\d+L?,sh#\d+,sig#\d+\] parquet", logical)
    assert logical.count("LeftAnti") >= 2          # both sides capped
    assert logical.count("strategy=broadcast") >= 2  # caps broadcast
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical


def test_x54_editdist_join_plan_shape(spark):
    """SymSpell edit-distance join (round-9 lock after three rounds of
    sub-noise upward bench drift — r7 0.832 s, r8 0.863 s, r9 0.876 s:
    each step inside the ±15 % band, so only a structural lock can tell
    real regressions from host noise).  The shape: candidate generation
    is ONE equi-join on the 64-bit variant fingerprints (skinny — never
    the strings), both sides capped by broadcast LEFT ANTI bucket
    drops, the two string payloads fetched by id-keyed joins, and
    exact levenshtein verification living in the join, never a
    post-cartesian filter."""
    df = entry.queries()["x54_editdist_join"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    joins = re.findall(
        r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", p
    )
    # fp candidate join + 2 id payload joins + 2 anti-join caps
    assert len(joins) == 5, joins
    assert p.count("LeftAnti") == 2
    # verification is a join condition over the fetched payloads
    assert "levenshtein" in p
    lev_lines = [l for l in p.splitlines() if "levenshtein" in l]
    assert any("Join" in l for l in lev_lines), lev_lines


def test_x93_index_update_never_reshingles(spark, tmp_path):
    """Index maintenance (round 9): ``minhash_index_update`` consumes
    and produces SIGNATURE frames only — its plan must carry no text
    column and no hash expression at all (re-shingling survivors would
    defeat the artifact), and the delete side must be a broadcast LEFT
    ANTI on the (skinny) survivor ids, never a shuffle of the index."""
    from modis_aggregation_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i} " * 3) for i in range(12)],
        ["doc_id", "text"],
    )
    idx_p, srv_p = str(tmp_path / "idx.parquet"), str(tmp_path / "srv.parquet")
    # artifact builds shingle once, by design — the lock is on the UPDATE
    D.minhash_signatures(docs.filter("doc_id % 2 = 0")).write.parquet(idx_p)
    D.minhash_signatures(docs.filter("doc_id % 2 = 1")).write.parquet(srv_p)
    upd = D.minhash_index_update(
        spark.read.parquet(idx_p), spark.read.parquet(srv_p)
    )
    logical = upd._jdf.queryExecution().optimizedPlan().toString()
    assert "text#" not in logical and "xxhash" not in logical.lower()
    assert "LeftAnti" in logical and "strategy=broadcast" in logical
    physical = upd._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in physical and "SortMergeJoin" not in physical
    assert "Exchange hashpartitioning" not in physical  # index never shuffles


def test_x93_day2_only_batch_reshingled(spark):
    """The x93 day-2 dedup against the UPDATED index keeps the x92
    posture: the one new-batch signature build is materialized, and the
    updated index enters as a bare (id, sh, sig) parquet relation (the
    compaction artifact); no leaf carries raw text."""
    df = entry.queries()["x93_minhash_index_update"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan()
    _assert_batch_sigs_and_index_leaves(plan)
    import re

    logical = plan.toString()
    assert re.search(r"Relation \[id#\d+L?,sh#\d+,sig#\d+\] parquet", logical)
    assert logical.count("LeftAnti") >= 2          # both sides capped
    assert logical.count("strategy=broadcast") >= 2  # caps broadcast
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in physical


def test_index_update_shuffle_delete_no_index_exchange(spark, tmp_path):
    """minhash_index_update(broadcast_delete=False) over an id-bucketed
    sigs table (round 10 — the SCALING.md "past ~100M ids/day" path):
    the delete becomes a shuffle anti-join, but the index side STILL
    never exchanges — the bucketed scan satisfies the join's required
    distribution, and only the batch-sized survivor ids shuffle (to the
    bucket count).  Result parity with the broadcast path included."""
    from modis_aggregation_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc {i} " * 3) for i in range(16)],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(docs.filter("doc_id % 2 = 0"))
    D.minhash_index_write(sigs, "t_updb", str(tmp_path / "idx"), buckets=4)
    srv = D.minhash_signatures(docs.filter("doc_id % 4 = 1")).localCheckpoint()
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s_t, _, _ = D.minhash_index_read(
            spark, "t_updb", str(tmp_path / "idx"), buckets=4
        )
        upd = D.minhash_index_update(s_t, srv, broadcast_delete=False)
        n_shuffles = 0
        for n in plan_nodes(upd):
            cls = n.getClass().getSimpleName()
            if cls == "ShuffleExchangeExec":
                n_shuffles += 1
                # the shuffled subtree must NOT contain the index scan
                assert not any(
                    m.getClass().getSimpleName() == "FileSourceScanExec"
                    and "t_updb" in m.simpleString(120)
                    for m in plan_nodes(n)
                ), n.simpleString(200)
        assert n_shuffles == 1  # the survivor-id side, nothing else
        bcast = D.minhash_index_update(s_t, srv, broadcast_delete=True)
        assert sorted(r["id"] for r in upd.collect()) == sorted(
            r["id"] for r in bcast.collect()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        for t in ("t_updb_sigs", "t_updb_bands", "t_updb_bandcounts"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_x104_ivf_scan_partition_pruned(spark):
    """The materialized-IVF query path (round 10): the probe set must
    reach the index scan as a STATIC partition filter — the corpus
    FileScan reads only the probed list_id directories (I/O pruning,
    the physical point of IVF), never scan-everything-filter-later."""
    df = entry.queries()["x104_ivf_partition_pruned"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [
        l for l in plan.splitlines()
        if "FileScan" in l and "spark_graft_x104_ivf" in l
    ]
    assert len(scan) == 1, plan[:2000]
    pf = scan[0].split("PartitionFilters: [")[1].split("]")[0]
    assert "list_id" in pf and " IN " in pf, pf
    assert df.count() == 80


def test_ivf_topk_indexed_prunes_to_probe_union(spark, tmp_path):
    """With a single query at nprobe=2 the static IN-set is exactly the
    query's two probe lists — the scan's partition filter must name 2
    list ids, and results must equal ivf_topk over the full assigned
    corpus."""
    import re

    from modis_aggregation_spark.operators import similarity as S

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.kmeans_centroids(
        df, nlist=8, sample_rows=2000, seed=5, order_col="vec_id"
    )
    path = str(tmp_path / "ivf")
    S.ivf_build(df, cents, path)
    q1 = df.filter("vec_id = 0").withColumnRenamed("vec_id", "query_id")
    out = S.ivf_topk_indexed(spark, path, q1, cents, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    scan = [
        l for l in plan.splitlines() if "FileScan" in l and "/ivf" in l
    ][0]
    pf = scan.split("PartitionFilters: [")[1].split("]")[0]
    in_ids = re.search(r"list_id#\d+ IN \(([^)]*)\)", pf)
    assert in_ids, pf
    assert len(in_ids.group(1).split(",")) == 2, pf
    full = S.ivf_topk(S.ivf_assign(df, cents), q1, cents, k=5, nprobe=2)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_index_latest_single_window_shuffle(spark, tmp_path):
    """minhash_index_latest (round 10): the generation merge must be
    ONE id-window shuffle over bare (id, sh, sig, gen) parquet — no
    text column, no hash expression, no join (the x93 invariant:
    signatures are data at read time, never recomputed)."""
    from modis_aggregation_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 10) for i in range(6)], ["doc_id", "text"]
    )
    sigs = D.minhash_signatures(docs, "text", "doc_id").localCheckpoint()
    path = str(tmp_path / "gens")
    D.minhash_index_append(sigs.filter("id % 2 = 0"), path, 0)
    D.minhash_index_append(sigs.filter("id % 2 = 1"), path, 1)
    latest = D.minhash_index_latest(spark, path)
    logical = latest._jdf.queryExecution().optimizedPlan().toString()
    assert "text#" not in logical and "xxhash" not in logical.lower()
    assert "Join" not in logical
    physical = latest._jdf.queryExecution().executedPlan().toString()
    assert physical.count("Exchange hashpartitioning") == 1  # the window
    assert "WindowGroupLimit" in physical or "Window" in physical


def test_x102_bucketed_index_no_index_exchange(spark):
    """The band-key-bucketed index layout (round 10 — SCALING.md's
    stated 100 TB answer for incremental LSH): with the 3-table
    artifact (sigs by id, bands by (band, key), bandcounts by
    (band, key)), NO shuffle in the daily dedup plan may move raw
    index rows.  Criterion: for every ShuffleExchange, the path from
    the exchange down to any index-table scan must cross a join or an
    aggregate — i.e. the exchanged rows are candidate-bound join
    output (O(batch × collisions)), never an unjoined corpus-sized
    index frame.  All three index scans must read bucketed
    (``Bucketed: true``) — a silently-disabled bucketed scan is how
    the exchange sneaks back in.  AQE and auto-broadcast are pinned
    off so the lock is on the deterministic planner shape (broadcast
    could mask an index-side shuffle at test scale)."""
    # bands (the daily join), sigs (the sh fetch), bandcounts (the cap
    # check) — the cap path reads the pre-aggregated counts, so the
    # bands table is scanned exactly once
    _assert_no_raw_index_exchange(spark, "x102_bucketed_index", "x102_idx", 3)


def test_x103_pca_projection_map_only(spark):
    """The PCA apply pass (round 10) must be scan -> project: the k x d
    quantized weight matrix enters as plan literals, so there is NO
    exchange, NO Python evaluation, NO broadcast and exactly one
    embeddings scan in the returned frame (the covariance fit collected
    its grid eagerly at query-construction time — a separate, finished
    job)."""
    df = entry.queries()["x103_pca_project"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython
    assert "Broadcast" not in plan
    assert plan.count("FileScan") == 1
    assert "Generate" in plan  # the literal-length posexplode to long form
    """The LSH signature stage (a Python pass over the corpus) must run
    ONCE — round 9 replaced the banded self-join (two scans) with an
    in-bucket pair explosion — and the exact-cosine verify must be the
    one other Python pass (vectorized Arrow), never an interpreted
    zip_with fold per pair."""
    plan = _plan(spark, "x8_embedding_pairs")
    assert plan.count("MapInPandas") == 2  # signatures + verify, nothing else
    assert "zip_with" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_x52_semdedup_cluster_local_scan(spark):
    """SemDeDup's quadratic pair search must stay cluster-local: one
    applyInPandas group scan (corpus crosses Arrow once), no per-pair
    self-join and no interpreted per-pair fold."""
    plan = _plan(spark, "x52_semdedup")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "zip_with" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_x95_cms_sketch_broadcast_estimate_join(spark):
    """The depth x width sketch is tiny by construction — the estimate
    join must broadcast it, and the bucket hashes must be JVM xxhash64
    (no Python in the sketch path)."""
    plan = _plan(spark, "x95_cms_sketch")
    assert "BroadcastHashJoin" in plan
    assert "xxhash64" in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan


def test_x97_bm25_retrieval_broadcast_daat(spark):
    """Batch BM25 retrieval: the query bag, the filtered df table and
    the global stats all broadcast into the index scan (no sort-merge
    join anywhere), and the per-query top-k prunes below the exchange
    as WindowGroupLimit. Round 12: the qterms pre-filter join lives
    INSIDE the checkpointed tf_q subtree now, so the returned plan
    shows the scoring-side broadcasts only (qterms fan-out + df_q)."""
    plan = _plan(spark, "x97_bm25_retrieval")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_r19_x14_no_unbounded_percentile_buffer(spark):
    """Round-10 VERDICT "What's wrong" #1: the exact ``percentile()``
    aggregate buffers a per-group OpenHashMap of DISTINCT VALUES
    (ObjectHashAggregate / window-aggregate buffer) — over near-unique
    doubles that is linear in rows-per-group and OOMs a hot group's
    task at 100×.  r19 and x14 are rewritten onto the two-level
    order-statistics operator (operators/quantiles.py): the plan must
    carry NO Percentile aggregate at all — rank selection rides a
    spillable window sort instead."""
    for name in ("r19_percentiles", "x14_quality_quantile", "r59_percentile_disc"):
        plan = _plan(spark, name)
        assert "percentile" not in plan.lower(), name
        assert "ObjectHashAggregate" not in plan, name
        assert "Window" in plan, name  # the spill-backed sort+rank pass


def test_x106_codes_scan_partition_pruned(spark):
    """IVFPQ over materialized artifacts (round 11): the probe union
    must reach BOTH index scans as a STATIC partition filter — the PQ
    codes FileScan (the ADC stage reads only probed directories'
    compressed bytes) and the full-precision ivf_build FileScan (the
    re-rank fetch) — never scan-everything-filter-later."""
    df = entry.queries()["x106_ivfpq_indexed"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for marker in ("spark_graft_x106_pq", "spark_graft_x104_ivf"):
        scans = [
            l for l in plan.splitlines()
            if "FileScan" in l and marker in l
        ]
        assert scans, (marker, plan[:2000])
        for scan in scans:
            pf = scan.split("PartitionFilters: [")[1].split("]")[0]
            assert "list_id" in pf and " IN " in pf, (marker, pf)
    assert df.count() == 80


def test_x107_compacted_index_no_index_exchange(spark):
    """Compaction must hand x107 the same exchange-free join shape the
    x102 lock pins: all three compacted-index scans bucketed, and no
    raw index row crossing a shuffle before a join/aggregate boundary
    (same tree-walk criterion as test_x102_bucketed_index_no_index_
    exchange, against the COMPACTED artifact)."""
    _assert_no_raw_index_exchange(spark, "x107_index_compaction", "x107_idx", 3)


def test_zorder_layout_prunes_row_groups(spark, tmp_path):
    """functions/grid.zorder_key (round 11): a bbox query over a
    Z-ORDER-clustered pixel layout must MATERIALIZE fewer rows at the
    scan than the same query over a row-shuffled layout — parquet
    row-group min/max statistics on lat AND lon both prune under the
    space-filling-curve sort, which is the physical point of the key
    at 100 TB (a regional query reads the region, not the planet).
    Criterion: the scan node's numOutputRows (rows surviving row-group
    skipping + pushed filters) under identical predicates."""
    from modis_aggregation_spark.functions.grid import zorder_key

    px = spark.read.parquet("/root/repo/fixtures/pixels.parquet").select(
        "lat", "lon", "ctp"
    )
    zsorted = str(tmp_path / "zsorted")
    shuffled = str(tmp_path / "shuffled")
    small = {"parquet.block.size": str(64 * 1024)}  # many row groups
    zk = zorder_key(
        F.floor(F.col("lat") + 90.0).cast("int"),
        F.floor(F.col("lon") + 180.0).cast("int"),
        9,
    )
    (
        px.withColumn("__zk", zk)
        .repartitionByRange(4, "__zk")
        .sortWithinPartitions("__zk")
        .drop("__zk")
        .write.options(**small).mode("overwrite").parquet(zsorted)
    )
    (
        px.orderBy(F.xxhash64("lat", "lon", "ctp"))  # worst case: no locality
        .write.options(**small).mode("overwrite").parquet(shuffled)
    )

    def scan_rows(path):
        df = spark.read.parquet(path).where(
            "lat BETWEEN 0 AND 10 AND lon BETWEEN 0 AND 10"
        )
        # collect() executes THIS DataFrame's QueryExecution, so its
        # scan node carries the metrics (count() plans a separate query
        # whose metrics would not appear here)
        n = len(df.collect())
        return n, plan_metric(df, "FileSourceScanExec", "numOutputRows")

    n_z, scan_z = scan_rows(zsorted)
    n_s, scan_s = scan_rows(shuffled)
    assert n_z == n_s and n_z > 0          # identical answers
    assert scan_z > 0
    # the clustered layout must skip most row groups the shuffled one reads
    assert scan_z < scan_s / 2, (scan_z, scan_s)


def test_x111_hll_text_pruned_before_shuffle(spark):
    """The HLL sketch's whole point at 100 TB: the corpus-sized text
    column must reduce to (bucket, rho) BEFORE any exchange — partial
    MAX on the map side, shuffles carrying only skinny register rows —
    and the register arithmetic stays pure JVM (xxhash64/shifts/bin,
    no Python stage)."""
    plan = _plan(spark, "x111_hll_rollup")
    assert "partial_max" in plan                      # map-side combine
    assert "xxhash64" in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    # no exchange moves the text column itself
    for chunk in plan.split("Exchange")[1:]:
        header = chunk.split("\n", 1)[0]
        assert "text" not in header, header


def test_r60_funnel_all_exchanges_on_user_key(spark):
    """The funnel's scale posture: every exchange is keyed on user_id
    and carries only skinny (user, ts) rows — no per-user event
    buffers (collect_list), no cartesian products, and no exchange on
    any other key (each step is a filtered min-aggregation on the
    user key)."""
    import re

    df = entry.queries()["r60_funnel"](spark, SF)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert keys and set(keys) == {"user_id"}, keys
    assert "collect_list" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_x117_dhash_index_no_index_exchange(spark):
    """The band-key-bucketed dHash index (round 12 — the image-side
    x102): no shuffle in the incremental image-dedup plan may move raw
    index rows, and both index scans must read bucketed.  Because the
    8-byte hash rides in the bands table, the plan has NO id-keyed
    fetch join at all — the bands scan is the only index input to the
    candidate join.  AQE/auto-broadcast pinned off (broadcast could
    mask an index-side shuffle at test scale)."""
    # exactly ONE index scan: the bands table (hash carried inline —
    # no sigs/fetch scan, unlike the MinHash 3-table layout)
    _assert_no_raw_index_exchange(spark, "x117_dhash_index_incremental", "x117_idx", 1)


def test_x49_triangles_single_edge_derivation(spark):
    """Round-12 lock: the wedge pipeline references the canonical edge
    set 5x and the directed orientation 3x, and exchange reuse does NOT
    deduplicate them — without materialization the executed plan re-ran
    the source scan + distinct FIFTEEN times. ``und`` is eagerly
    localCheckpoint'd (exactly one source scan per call) and ``directed``
    lazily (first consumer materializes, no extra barrier job): the
    returned plan must read only checkpointed RDDs, never the source."""
    plan = _plan(spark, "x49_triangles")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan


def test_x54_editdist_single_neighborhood_pass(spark):
    """Round-12 lock: the (id, fp) deletion-neighborhood frame feeds the
    bucket-cap aggregation and both self-join sides; without
    materialization the expensive per-string neighborhood generation ran
    three times. After the localCheckpoint the only parquet scans left
    are the two id-keyed payload fetches (which must NOT read from the
    checkpoint — the strings are deliberately never materialized)."""
    plan = _plan(spark, "x54_editdist_join")
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    assert "Scan ExistingRDD" in plan


def test_x48_resample_single_event_pass(spark):
    """Round-12 lock: the per-(key, bucket) aggregate feeds the span
    summary and the gap-fill join-back; without materialization the raw
    event scan + aggregation ran twice. After the localCheckpoint the
    plan reads the events exactly zero times (both consumers read the
    checkpointed skinny aggregate)."""
    plan = _plan(spark, "x48_resample_interp")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan


def test_x7_cosine_norms_staged_per_side(spark):
    """Round-12 lock: the brute-force cosine join evaluates each side's
    norm fold ONCE PER ROW in a project below the join (the corpus norm
    used to be re-folded once per query and the query norm once per
    corpus row — per-pair work must be the dot product alone). Exactly
    two SQRT(aggregate folds in the whole plan, none above the join."""
    plan = _plan(spark, "x7_cosine_topk")
    assert plan.count("SQRT(aggregate") == 2, plan
    join_pos = plan.find("BroadcastNestedLoopJoin")
    assert join_pos != -1, plan
    assert "SQRT(aggregate" not in plan[:join_pos], plan[:join_pos]


def test_x98_hard_negative_norms_staged_per_side(spark):
    """Round-12 lock: same staging contract as x7 for hard-negative
    mining — two per-side norm folds below the broadcast join, per-pair
    work is the dot product only."""
    plan = _plan(spark, "x98_hard_negatives")
    assert plan.count("SQRT(aggregate") == 2, plan
    join_pos = plan.find("BroadcastNestedLoopJoin")
    assert join_pos != -1, plan
    assert "SQRT(aggregate" not in plan[:join_pos], plan[:join_pos]


def test_x2_text_profile_single_fold_per_ratio(spark):
    """Round-12 lock: the mean-word-length fold, stopword filter and
    punctuation regexp each feed their output column AND the quality
    formula — they must be staged columns evaluated once per row, not
    re-expanded per reference (the inline form ran the fold 3x and the
    filter/regexp 2x; Catalyst CSEs only cheap size/length subtrees)."""
    df = entry.queries()["x2_text_stats"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("aggregate(") == 1, plan.count("aggregate(")
    # 2 = tokenize's empty-string filter + ONE stopword filter (was 3)
    assert plan.count("filter(") == 2, plan.count("filter(")


def test_r25_asof_single_exchange_no_preagg(spark):
    """Round-12 lock: the as-of join is ONE user_id exchange over the
    union — determinism among equal-ts views comes from the window
    tie-break on event_id, not a per-(user, ts) pre-aggregation (which
    cost a second full shuffle of the view side + two HashAggregates
    for zero row reduction: event timestamps are unique per user)."""
    plan = _plan(spark, "r25_asof_join")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "HashAggregate" not in plan, plan


def test_x31_x32_screen_battery_staged_once(spark):
    """Round-12 lock: c4_clean's filtered line array and gopher_quality's
    metric columns are staged once per row — inline, the per-line RLIKE
    battery ran 3x (kept-lines + clean_text + sentence count) and every
    gopher metric twice (output column + the pass conjunct): 9
    lambda-filters / 16 array_contains in the executed screen plan vs 4/8
    staged."""
    from modis_aggregation_spark.functions.text import (
        c4_clean,
        gopher_quality,
        pii_scrub,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")
    df = pii_scrub(gopher_quality(c4_clean(docs, min_sentences=1)))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lambdafunction") == 4, plan.count("lambdafunction")
    assert plan.count("array_contains") == 8, plan.count("array_contains")


def test_x5_minhash_capped_bands_single_pass(spark):
    """Round-12 lock: the capped (id, band, key) frame feeds both LSH
    self-join sides — it must be materialized (lazy localCheckpoint)
    so the explode + bucket-count aggregation + anti-join run once,
    not once per side (the inline form ran 2 full band passes and 2
    count shuffles).  Both self-join sides must read the checkpointed
    RDD; no Generate (explode) may remain in the returned plan."""
    plan = _plan(spark, "x5_minhash_pairs")
    assert plan.count("Scan ExistingRDD") >= 2, plan
    assert "Generate explode" not in plan, plan


def test_x91_wordpiece_encode_single_corpus_scan(spark):
    """Round-12 lock: wordpiece encode derives the alphabet AND the Arrow
    encode pass from ONE materialized distinct-word frame — the inline
    form tokenized the corpus three times (alphabet char-explode over
    word OCCURRENCES, the distinct-word encode, the re-attach join).
    The returned plan must hold exactly one corpus scan (the re-attach
    pass) with the MapInPandas fed by the checkpointed words."""
    plan = _plan(spark, "x91_wordpiece_encode")
    assert plan.count("MapInPandas") == 1, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_x96_kneser_ney_single_corpus_pass(spark):
    """Round-12 lock: every Kneser-Ney statistic (probability join,
    w1-marginal, w2-continuation, global total) reads the ONE lazily
    checkpointed bigram-count table — the inline form spliced the whole
    corpus scan + tokenize + bigram explode into each of the four
    consumers (plan-verified: four documents scans). The returned plan
    must hold zero parquet scans (the single corpus pass happens when
    the first consumer materializes the checkpoint)."""
    plan = _plan(spark, "x96_kneser_ney")
    assert "Scan parquet" not in plan, plan
    assert plan.count("Scan ExistingRDD") >= 4, plan


def test_x97_bm25_retrieval_single_postings_pass(spark):
    """Round-12 lock: the query-term postings (tf_q) feed BOTH the
    document-frequency aggregate and the scoring join from one lazily
    checkpointed frame — the inline form re-ran the corpus tokenize +
    posting aggregation for each (3 documents scans before, 1 after:
    the global-stats pass, which needs every doc's length including
    docs with no query terms)."""
    plan = _plan(spark, "x97_bm25_retrieval")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
