"""Plan-quality tests (SURVEY.md §4): the scale posture as assertions.

A query that returns the right rows through the wrong plan (no
pushdown, shuffled dimensions, full sort for a top-k) is a performance
regression waiting for 100 TB — these tests fail it now.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_spark_irs_form_990_spark import registry
from apache_spark_irs_form_990_spark.plans.inspect import (
    assert_in_plan,
    assert_not_in_plan,
    assert_pushed_filter,
    assert_read_schema_only,
    count_occurrences,
    physical_plan,
)
from tests.conftest import SF_DIR

QUERIES = registry.queries()


def test_scan_projection_prunes_and_pushes(spark):
    df = QUERIES["scan_projection"](spark, SF_DIR)
    assert_pushed_filter(df, "l_returnflag")
    assert_read_schema_only(
        df, {"l_orderkey", "l_returnflag", "l_shipdate"}, "struct<"
    )


def test_filter_eq_pushdown(spark):
    df = QUERIES["filter_eq"](spark, SF_DIR)
    assert_pushed_filter(df, "EqualTo(o_orderstatus,F)")


def test_star_join_broadcasts_dimensions(spark):
    df = QUERIES["join_star_revenue"](spark, SF_DIR)
    # nation/region hinted + customer auto-broadcast at this SF:
    # >= 3 broadcast joins
    assert_in_plan(df, "BroadcastHashJoin", at_least=3)


def test_star_join_customer_joins_via_size_not_hint(spark):
    """customer scales with SF, so it must carry NO broadcast hint —
    the planner (static estimate or AQE) decides. Proof: with
    autoBroadcastJoinThreshold disabled, only the HINTED dims
    (nation, region) still broadcast; the customer join degrades to a
    shuffle join instead of OOMing a hinted broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["join_star_revenue"](spark, SF_DIR)
        plan = physical_plan(df)
        n_bhj = plan.count("BroadcastHashJoin")
        assert n_bhj == 2, f"expected exactly nation+region broadcasts:\n{plan}"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_broadcast_join_no_fact_shuffle(spark):
    df = QUERIES["join_broadcast"](spark, SF_DIR)
    plan = physical_plan(df)
    # exactly one Exchange: the post-aggregation one. The join itself
    # must not shuffle the customer side.
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange (final agg), got {n_exchanges}:\n{plan}"
    assert_in_plan(df, "BroadcastHashJoin")


def test_aggregate_has_partial_phase(spark):
    df = QUERIES["agg_count_by_key"](spark, SF_DIR)
    # partial+final hash aggregation (the map-side combine the reference
    # hand-rolled via reduceByKey)
    assert count_occurrences(df, "HashAggregate") >= 2


def test_topk_avoids_global_sort(spark):
    df = QUERIES["topk_limit"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_semi_join_is_semi(spark):
    df = QUERIES["join_semi"](spark, SF_DIR)
    assert "LeftSemi" in physical_plan(df)


def test_whole_stage_codegen_on_scalar_path(spark):
    df = QUERIES["project_compute"](spark, SF_DIR)
    # '*(n)' marks whole-stage-codegen spans in the physical plan string
    assert_in_plan(df, "*(1)")
    # no Python evaluation in the built-in scalar path
    assert_not_in_plan(df, "BatchEvalPython")
    assert_not_in_plan(df, "ArrowEvalPython")


def test_window_topn_group_limit(spark):
    df = QUERIES["win_rank_topn_per_group"](spark, SF_DIR)
    # rank filter pushed into the sort as a per-group limit
    assert_in_plan(df, "WindowGroupLimit")


def test_partitioned_scan_prunes_partitions(spark):
    df = QUERIES["sink_partitioned_prune"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], f"event_type filter not resolved at partition level:\n{plan}"


def test_dynamic_partition_pruning_fires(spark):
    df = QUERIES["scan_dynamic_partition_prune"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "dynamicpruning" in plan.lower(), (
        f"no dynamic partition pruning subquery in plan:\n{plan}"
    )


def test_bucketed_join_has_no_exchange(spark):
    df = QUERIES["sink_bucketed_join"](spark, SF_DIR)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    # the only exchange allowed is the post-join aggregation one;
    # neither join input may re-shuffle (buckets pre-align them)
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange hashpartitioning" not in join_part, (
        f"bucketed join re-shuffled an input:\n{plan}"
    )


def test_topk_join_plan(spark):
    df = QUERIES["join_topk_unshipped"](spark, SF_DIR)
    # top-10 via per-partition heaps, never a global sort
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "Exchange rangepartitioning")
    # the filtered customer dimension broadcasts
    assert_in_plan(df, "BroadcastHashJoin")


def test_in_subquery_becomes_semi_join(spark):
    df = QUERIES["subq_in_segment"](spark, SF_DIR)
    assert "LeftSemi" in physical_plan(df)


def test_struct_pack_unpack_collapses(spark):
    df = QUERIES["fn_struct_access"](spark, SF_DIR)
    # Catalyst cancels CreateNamedStruct/GetStructField pairs: the
    # physical plan is a flat projection, no struct construction left
    assert_not_in_plan(df, "named_struct")


def test_pivot_single_aggregate_pass(spark):
    df = QUERIES["agg_pivot_events"](spark, SF_DIR)
    # explicit pivot values -> no extra distinct-values job; one
    # partial+final aggregate pair, one exchange
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_multimodal_metadata_query_prunes_payload_source(spark):
    df = QUERIES["mm_column_struct"](spark, SF_DIR)
    # metadata-only query never reads columns beyond doc_id/text
    # (text is the payload stand-in source here; lang/source/n_chars pruned)
    assert_read_schema_only(df, {"doc_id", "text"}, "struct<")


def test_q6_no_join_partial_final_agg(spark):
    """Q6 must stay join-free with a partial+final aggregate pair."""
    df = QUERIES["agg_q6_forecast_revenue"](spark, SF_DIR)
    assert_not_in_plan(df, "Join")
    assert count_occurrences(df, "HashAggregate") == 2


def test_q9_all_dimensions_broadcast(spark):
    """Q9's part/supplier/nation (and AQE-converted orders at this SF)
    must all be broadcast — the fact side never shuffles for a dim."""
    df = QUERIES["join_q9_product_profit"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin", at_least=3)


def test_q18_topk_avoids_global_sort(spark):
    """Q18's ORDER BY + LIMIT 100 must plan as TakeOrderedAndProject,
    never a full Sort of the join result."""
    df = QUERIES["join_q18_large_orders"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_q21_single_fact_scan(spark):
    """Q21's EXISTS + NOT EXISTS must de-correlate to ONE lineitem scan
    (3 scans total: lineitem, orders, supplier) — the naive quantifier
    translation reads the fact three times."""
    df = QUERIES["join_q21_waiting_supplier"](spark, SF_DIR)
    assert count_occurrences(df, "FileScan") == 3


def test_ivf_broadcasts_codebook_and_takeordered(spark):
    """IVF ANN: the 8-row codebook and the query ship in the task
    closure of ONE Arrow map pass over the corpus scan (cell assignment
    and query scoring per vector, no per-row join); the probe cells are
    decided on the driver, so the only shuffle is the map-side-combined
    max_by that pools duplicate vec_ids — no crossjoin, no window, no
    probe join. Final top-10 via TakeOrderedAndProject."""
    df = QUERIES["sim_cosine_ann_ivf"](spark, SF_DIR)
    assert count_occurrences(df, "MapInPandas") == 1
    assert count_occurrences(df, "Exchange") == 1
    assert_not_in_plan(df, "BroadcastNestedLoopJoin")
    assert_not_in_plan(df, "Window")
    assert_in_plan(df, "TakeOrderedAndProject")
    assert_not_in_plan(df, "CartesianProduct")


def test_pretrain_mix_single_data_shuffle(spark):
    """The fused pretraining-mix pipeline may shuffle the corpus only
    once (the dedup window); later stages run on |sources| rows."""
    df = QUERIES["pipeline_pretrain_mix"](spark, SF_DIR)
    # exchanges: dedup window hash partitioning + per-source aggregate
    # pair + the 1-row totals single partition; the corpus-sized one is
    # the window's — bounded count guards against plan regressions.
    assert count_occurrences(df, "Exchange") <= 4
    assert_not_in_plan(df, "CartesianProduct")


def test_bfs_iterations_never_rescan_fact(spark):
    """BFS rounds run on the checkpointed edge list: the returned
    plan's lineage must start at the in-memory RDD, with zero parquet
    scans — proving round N does not replay the lineitem join chain."""
    df = QUERIES["graph_bfs_hops"](spark, SF_DIR)
    assert count_occurrences(df, "FileScan") == 0
    assert_not_in_plan(df, "CartesianProduct")


def test_roc_auc_single_domain_window(spark):
    """ROC-AUC ranks the VALUE DOMAIN, not rows: the window input is
    the post-aggregate frame (one data-sized exchange for the value
    collapse, window on the domain-sized single partition)."""
    df = QUERIES["ml_roc_auc"](spark, SF_DIR)
    assert count_occurrences(df, "Exchange hashpartitioning") == 1


def test_attribution_window_on_join_output(spark):
    """Linear attribution: no Python eval, no cartesian blow-up — the
    time-bound join is an equi-join on user with range residual."""
    df = QUERIES["beh_attribution_linear"](spark, SF_DIR)
    assert_not_in_plan(df, "CartesianProduct")
    assert_not_in_plan(df, "BatchEvalPython")


def test_rank_delta_broadcasts_part_dim(spark):
    df = QUERIES["win_rank_delta_mom"](spark, SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin", at_least=1)


def test_histogram_log2_partial_agg(spark):
    """Log2 bucketing happens map-side: partial+final hash aggregate,
    no window, no sort."""
    df = QUERIES["agg_histogram_log2"](spark, SF_DIR)
    assert count_occurrences(df, "HashAggregate") >= 2
    assert_not_in_plan(df, "Exchange rangepartitioning")


def test_join_hint_forces_shuffle_hash(spark):
    """The SHUFFLE_HASH hint must override the default fact-fact
    sort-merge strategy."""
    df = QUERIES["sql_join_hints"](spark, SF_DIR)
    assert_in_plan(df, "ShuffledHashJoin")
    assert_not_in_plan(df, "SortMergeJoin")


def test_nested_struct_scan_prunes_payload(spark):
    """The metadata-only aggregate over the media parquet must read the
    struct leaves and never the binary payload column."""
    df = QUERIES["scan_nested_struct_prune"](spark, SF_DIR)
    plan = physical_plan(df)
    read_schema = plan.split("ReadSchema:", 1)[1].split("\n")[0]
    assert "payload" not in read_schema, read_schema
    assert "kind" in read_schema and "n_bytes" in read_schema, read_schema


def test_parameterized_filter_pushes_down(spark):
    """The :threshold parameter must constant-fold into a pushed scan
    filter exactly like a hand-written literal."""
    df = QUERIES["sql_parameterized_args"](spark, SF_DIR)
    assert_pushed_filter(df, "GreaterThan(c_acctbal,1000.0)")


def _join_lines(plan: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln
    ]


def _assert_bucketed_pair_join(spark, df):
    """The pair-generating self-join must be keyed on (band, bucket) —
    never an unbucketed cartesian/nested-loop over the corpus."""
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    bucketed = [
        ln for ln in _join_lines(plan) if "band" in ln and "bucket" in ln
    ]
    assert bucketed, f"no join keyed on (band, bucket):\n{plan}"


def test_near_embedding_pair_join_bucketed(spark):
    """Round-3 rewire: dedup_near_embedding generates candidates via
    banded LSH; with auto-broadcast off the pair join must be a
    shuffle join keyed on the bucket columns."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _assert_bucketed_pair_join(spark, QUERIES["dedup_near_embedding"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_nearest_neighbor_pair_join_bucketed(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _assert_bucketed_pair_join(spark, QUERIES["sim_nearest_neighbor"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_semantic_cluster_edges_bucketed(spark):
    """The cluster default's edge source (not the post-checkpoint
    component loop, whose lineage is truncated) must be LSH-bucketed."""
    from apache_spark_irs_form_990_spark.operators.components import _semantic_edges

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _assert_bucketed_pair_join(spark, _semantic_edges(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_jaccard_df_cap_window(spark):
    """dedup_near_jaccard must prune hot shingles (document-frequency
    cap) via a count-over-window on the shingle partition BEFORE the
    inverted-index self-join — one posting-list pass, partitioned on
    the join key."""
    plan = physical_plan(QUERIES["dedup_near_jaccard"](spark, SF_DIR))
    assert "Window" in plan, plan
    window_part = plan.split("Window", 1)[1]
    assert "shingle" in window_part.split("\n")[0], plan


def test_label_contrast_bounded_sample(spark):
    """sim_label_contrast pairs only a fixed-size deterministic sample:
    the md5-ordered LIMIT must plan as TakeOrderedAndProject (no
    global sort, no unbounded all-pairs input)."""
    df = QUERIES["sim_label_contrast"](spark, SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_exact_audit_twins_are_bounded(spark):
    """The exact all-pairs ground-truth twins exist only on capped
    slices: the vec_id < 300 bound must reach the parquet scan."""
    for name in (
        "sim_nearest_neighbor_exact",
        "dedup_near_embedding_exact",
        "dedup_embedding_recall_audit",
    ):
        df = QUERIES[name](spark, SF_DIR)
        assert_pushed_filter(df, "LessThan(vec_id,300)")


def test_incremental_minhash_asymmetric_probe(spark):
    """The incremental near-dup probe joins batch signatures against
    corpus signatures on (band, band_min) — keyed, never a corpus
    self-pairing, and exactly two parquet scans (batch + corpus)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["dedup_incremental_minhash"](spark, SF_DIR)
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        keyed = [
            ln for ln in plan.splitlines()
            if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln)
            and "band" in ln and "band_min" in ln
        ]
        assert keyed, f"probe join not keyed on (band, band_min):\n{plan}"
        assert plan.count("FileScan") == 2, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_multiprobe_pair_join_bucket_keyed(spark):
    """sim_ann_lsh_multiprobe's candidate join must be keyed on the
    probe/bucket equality (9x fan-out rides the equi-join), never a
    nested-loop over the corpus."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(QUERIES["sim_ann_lsh_multiprobe"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        keyed = [
            ln for ln in _join_lines(plan) if "probe" in ln and "bucket" in ln
        ]
        assert keyed, f"no join keyed on probe = bucket:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_phash_pair_join_band_keyed(spark):
    """mm_phash_hamming_dedup's pair join must be keyed on the
    (band, quarter-key) columns — Σ bucket² pair work, no unbucketed
    self-join over the media corpus."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(QUERIES["mm_phash_hamming_dedup"](spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        keyed = [ln for ln in _join_lines(plan) if "band" in ln and "key" in ln]
        assert keyed, f"no join keyed on (band, key):\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_runtime_filter_reaches_fact_scan(spark):
    """With the application-side size threshold lowered to the
    at-scale condition (a fact scan past 10 GB triggers it untouched),
    the optimizer must inject a bloom-filter might_contain probe over
    the filtered orders keys into the lineitem side."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plan = physical_plan(QUERIES["join_bloom_runtime_filter"](spark, SF_DIR))
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_persisted_index_probe_broadcasts_and_prunes(spark):
    """sim_ann_index_persist_probe's serving contract in the plan: the
    exploded probe batch BROADCASTS (BuildLeft on the probe=bucket
    join — the index, which is corpus-sized, must never be the build
    side), and the persisted bucket-partitioned index scan is pruned
    to the probed buckets via dynamic partition pruning (the
    SubqueryAdaptiveBroadcast dynamicpruning subquery on the scan)."""
    plan = physical_plan(QUERIES["sim_ann_index_persist_probe"](spark, SF_DIR))
    probe_joins = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "probe" in ln and "bucket" in ln
    ]
    assert probe_joins, f"no broadcast join on probe = bucket:\n{plan}"
    assert "BuildLeft" in probe_joins[0], probe_joins[0]
    assert "dynamicpruning" in plan, (
        f"index scan not dynamically pruned to probed buckets:\n{plan}"
    )


def test_zorder_roundtrip_scan_skips_row_groups(spark):
    """layout_zorder_prune_roundtrip's payoff in the metrics: after the
    z-ordered write, a 2-D rectangle predicate on the RAW columns
    must let parquet row-group min/max stats skip most of the table —
    the clustered scan's numOutputRows (rows surviving row-group
    pruning, before the residual Filter) stays well under half the
    table, where an unclustered layout would surface nearly all rows.
    Also checks both dimensions reach the scan as PushedFilters."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    # run the registered query once: performs the clustered write
    QUERIES["layout_zorder_prune_roundtrip"](spark, SF_DIR).collect()
    tag = os.path.basename(SF_DIR.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"spark990_zorder_orders_{tag}")
    rect = (
        (F.col("o_custkey") <= 300)
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    probe = spark.read.parquet(path).filter(rect).select("o_orderkey")
    assert_pushed_filter(probe, "o_custkey")
    assert_pushed_filter(probe, "o_orderdate")
    probe.collect()
    total = spark.read.parquet(path).count()

    def _scan_output_rows(plan):
        found = []
        stack = [plan]
        while stack:
            node = stack.pop()
            if "Scan parquet" in node.nodeName() or "FileScan" in node.nodeName():
                m = node.metrics()
                if m.contains("numOutputRows"):
                    found.append(m.apply("numOutputRows").value())
            for i in range(node.children().length()):
                stack.append(node.children().apply(i))
            # AQE wraps the real plan
            if node.nodeName() == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
        return found

    rows = _scan_output_rows(probe._jdf.queryExecution().executedPlan())
    assert rows, "no parquet scan metrics found"
    scanned = max(rows)
    assert scanned < 0.5 * total, (
        f"z-ordered scan surfaced {scanned} of {total} rows - "
        "row-group stats did not prune"
    )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling as a PLAN assertion (r8, VERDICT r7
    task 6): the manual remedies are registered queries
    (`join_skew_salted`, `agg_skew_salted_twostage`), but the path a
    100 TB user hits FIRST is automatic — OptimizeSkewedJoin must
    split a hot fact partition at runtime. A 90%-one-key fact joined
    to a 1000-key build side (broadcast disabled so the join stays
    sort-merge; thresholds lowered to test scale; payload
    sha-incompressible so shuffle bytes reflect row counts) must show
    `skew=true` on the SortMergeJoin and a skewed AQEShuffleRead in
    the FINAL adaptive plan. Runtime confs are restored afterward —
    the session is shared."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64k",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        pad = F.sha2(F.col("id").cast("string"), 256)
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            pad.alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 224).alias("d"),
        )
        out = fact.join(dim, "k").agg(F.sum(F.length("payload")).alias("b"))
        [row] = out.collect()
        assert row["b"] == 200_000 * 64  # sanity: every fact row joined
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "OptimizeSkewedJoin did not split the hot partition:\n"
            + plan[:2000]
        )
        assert "skewed" in plan, plan[:2000]  # the AQEShuffleRead spec
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_star_contraction_hub_round(spark):
    """The r8 skew assertion wired onto the REAL CC kernel (r9,
    VERDICT r8 task 7): one `_large_star` alternation over a
    megacluster star graph — the shape the planted hot-band cluster
    contracts to (one hub, every member pointing at it), with
    realistic id entropy (xxhash64 member ids; constant-padded ids
    compress below the skew threshold and the split never fires, the
    r8 lesson) — must show `skew=true` on the SortMergeJoin in the
    final adaptive plan, machine-checking SCALE.md's "AQE splits
    contraction hubs" design note on the kernel itself.

    Wiring this up found a real kernel bug (r9): with the groupBy-min
    aggregate INLINE, the mins side of the join is
    Sort(HashAggregate(ShuffleStage)) and OptimizeSkewedJoin's
    pattern — both children a bare Sort over a shuffle stage — never
    matches, silently disabling skew handling on exactly the
    mega-hub rounds the kernel was designed around. The kernel's
    skew_safe form (lazily checkpointed mins, enabled by the CC loop
    above _SKEW_SAFE_EDGES current edges) restores the two bare
    shuffle stages; this test keeps that property stuck."""
    from apache_spark_irs_form_990_spark.operators.components import (
        _large_star,
    )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16k",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        n = 200_000
        members = F.abs(F.xxhash64(F.col("id"))) + 1  # > 0 = the hub id
        e = spark.range(1, n + 1).select(
            members.alias("u"), F.lit(0).alias("v")
        )
        out = _large_star(e, skew_safe=True)
        rows = out.collect()
        # correctness of the round: a star is already a fixpoint of
        # large-star — every member re-links to the hub (modulo the
        # rare xxhash64 collision collapsing two members)
        assert len(rows) >= n - 2
        assert all(r["v"] == 0 for r in rows)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, (
            "OptimizeSkewedJoin did not split the contraction hub "
            "on the real kernel round:\n" + plan[:2000]
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_probe_broadcasts_and_statically_prunes(spark):
    """The persisted daily merge's posting-index probe (r9): the REAL
    code path (`_batch_hot_vocab` -> `_probe_standing_postings`, the
    exact frames apply_batch materializes) must plan the probe as ONE
    BroadcastHashJoin — a materialized hot frame loses a
    pre-checkpoint broadcast hint, so a regression here silently
    becomes a full sort-merge join over the whole index — and the
    partitioned index scan must carry the batch vocabulary's sbuckets
    as a STATIC isin PartitionFilter (DPP does not fire on this
    shape: no selective predicate on the build side)."""
    import os

    from apache_spark_irs_form_990_spark.operators import incremental as inc

    base, batch = inc.fixture_base_batch(spark, SF_DIR)
    sdir = inc.scratch_state_dir("plantest")
    inc.write_standing_state(spark, base, sdir)
    postings = spark.read.parquet(os.path.join(sdir, "postings"))
    df_tbl = spark.read.parquet(os.path.join(sdir, "shingle_df"))
    hot = inc._batch_hot_vocab(inc._postings(batch).localCheckpoint(), df_tbl)
    probe = inc._probe_standing_postings(postings, hot)
    plan = physical_plan(probe)
    assert "BroadcastHashJoin" in plan, f"probe not broadcast:\n{plan}"
    assert "SortMergeJoin" not in plan, (
        f"probe shuffles the standing index:\n{plan}"
    )
    part_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert part_lines and any(
        "sbucket" in ln and ("INSET" in ln or " IN (" in ln)
        for ln in part_lines
    ), f"no static sbucket isin partition filter on the index scan:\n{plan}"
