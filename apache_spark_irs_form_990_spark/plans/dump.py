"""Generate PLANS.md — a physical-plan snapshot for the headline
operators, so plan quality is reviewable as an artifact rather than
only assertable in tests. Run: ``python -m
apache_spark_irs_form_990_spark.plans.dump``.
"""

from __future__ import annotations

import os

from apache_spark_irs_form_990_spark.plans.inspect import explain_formatted

SHOWCASE = {
    "agg_count_by_key": (
        "Flagship filter+normalize+count. Partial HashAggregate before the "
        "exchange (the map-side combine the reference hand-rolled), final "
        "after; scan reads only event_type."
    ),
    "join_star_revenue": (
        "5-table star join. customer/nation/region are BroadcastHashJoins — "
        "only lineitem⋈orders shuffles; the plan shape is invariant to fact "
        "scale."
    ),
    "join_topk_unshipped": (
        "TPC-H Q3 analog. Date predicates pushed to both fact scans, "
        "filtered customer broadcast, top-10 via TakeOrderedAndProject "
        "(no global sort)."
    ),
    "win_rank_topn_per_group": (
        "Top-N per group. WindowGroupLimit pushes the rank filter into the "
        "sort: each partition keeps N rows, the full window output never "
        "materializes."
    ),
    "sink_bucketed_join": (
        "Join over bucketed tables: SortMergeJoin with NO Exchange on "
        "either input — the shuffle was paid once at write time."
    ),
    "pipeline_corpus_prep": (
        "dedup→quality→stats as one plan: the window dedup's single "
        "exchange is the only shuffle before the final aggregate; filters "
        "and stats fuse into the surrounding codegen stages."
    ),
    "win_sessionize_batch": (
        "Sessionization: lag window, running-sum window, and the final "
        "per-session aggregate all run on the SAME user_id partitioning — "
        "one exchange serves all three."
    ),
    "pipeline_denormalize_wide": (
        "Feature denormalization: six dimension joins, ONE fact-sized "
        "shuffle (lineitem\u22c8orders) \u2014 every other join is a "
        "BroadcastHashJoin, so row width grows without new exchanges."
    ),
    "sim_cosine_rp_lsh_md5": (
        "Random-projection LSH: the (vector \u00d7 bit) projection "
        "aggregate and signature bucket self-join; candidates cost "
        "\u03a3 bucket\u00b2, re-rank happens on candidate pairs only."
    ),
    "sim_kmeans_lloyd_round": (
        "k-means Lloyd round: broadcast-k assignment over the scan, one "
        "(cluster, dim)-keyed aggregate of longs for the recompute \u2014 "
        "no vector ever shuffles."
    ),
    "sql_join_hints": (
        "SHUFFLE_HASH hint in effect: ShuffledHashJoin where the planner "
        "default for two fact tables is sort-merge \u2014 explicit "
        "strategy control surface."
    ),
    "join_range_bucketed": (
        "Banded interval join as equi-join: bucket explode on the probe "
        "side (constant 3x), hash join on (user, bucket), exact range as "
        "residual filter — no nested-loop join anywhere."
    ),
    "join_q21_waiting_supplier": (
        "TPC-H Q21 analog: EXISTS + NOT EXISTS de-correlated into per-order "
        "window counts — ONE lineitem scan (the naive quantifier translation "
        "reads it three times), aggregation and windows share the l_orderkey "
        "exchange."
    ),
    "sim_cosine_ann_ivf": (
        "IVF approximate nearest neighbor (r12 Arrow kernel): the probe "
        "cells are decided on the driver from the bounded 8-row codebook "
        "and 1-row query collects; ONE MapInPandas pass over the corpus "
        "scan, with both in the task closure, assigns each vector's cell "
        "and scores it against the query. The only shuffle is the "
        "map-side-combined max_by that pools duplicate vec_ids (4 scalars "
        "per row, no vector payload) — no crossjoin, window or probe "
        "join. Probe filter, then top-10 via TakeOrderedAndProject."
    ),
    "dedup_near_embedding": (
        "Banded-LSH embedding dedup (r3 rewire): Arrow-batched bucket "
        "projection, posexplode to (band, bucket), pair self-join keyed on "
        "the bucket columns — candidates cost Σ bucket², and the "
        "exact cosine confirm joins candidates back by vec_id. No "
        "unbucketed self-join anywhere."
    ),
    "beh_dau_wau": (
        "Rolling 7-day active users: user-day dedup, constant 7x endpoint "
        "explode, then two distinct-count aggregates — no day-range "
        "self-join, so cost scales with active user-days, not days²."
    ),
    "profile_table_stats": (
        "Column profiler: 24 metrics (null/distinct/min/max x 6 columns) in "
        "ONE scan via a single multi-distinct aggregate (Expand), unpivoted "
        "to long form by stack()."
    ),
    "dedup_minhash_banding_md5": (
        "MinHash banding: the signature build is a codegen'd explode + "
        "groupBy(doc_id) min-aggregate (measured ~2.5x faster than the "
        "interpreted in-row higher-order form — SCALE.md §9), checkpointed "
        "once; the pair self-join is keyed on (band, band_min), pair work "
        "Σ bucket²."
    ),
    "sim_cosine_ann_lsh": (
        "Flat-LSH ANN (r5 capped): Arrow matmul signature projection, "
        "stored side sampled to 64 members/bucket (WindowGroupLimit "
        "pre-trims per task — no task holds a full hot bucket), bucket "
        "join probe-side-full, exact milli-cosine window top-3. "
        "Candidates <= n*C: linear."
    ),
    "sim_ann_batch_query": (
        "Asymmetric batch-probes-index ANN: ~1% query batch explodes 9 "
        "probes map-side against the capped stored index — cost "
        "|batch|*9*C, independent of corpus size on the probe axis; the "
        "100 TB serving shape."
    ),
    "sim_ann_lsh_multiprobe": (
        "Multiprobe LSH: ONE stored signature table (checkpointed), capped "
        "at 64 md5-sampled members per bucket via WindowGroupLimit (r5 — "
        "candidate volume <= 9*n*C, linear); probe side explodes 9 buckets "
        "per query map-side, candidate join keyed on probe=bucket, exact "
        "milli-cosine re-rank on candidates only — recall grows without "
        "touching index size."
    ),
    "mm_phash_hamming_dedup": (
        "Perceptual-hash media dedup: Arrow kernel fingerprints payload "
        "bytes inside the scan task, 4 quarter-ints per item shuffle on "
        "(band, key), popcount confirm on candidates — payload bytes never "
        "leave the scan."
    ),
    "sim_ann_index_persist_probe": (
        "Persisted-index ANN serving (r6): the capped index round-trips "
        "through a bucket-partitioned parquet sink; the probe batch "
        "BROADCASTS (BuildLeft) and DYNAMIC PARTITION PRUNING "
        "(SubqueryAdaptiveBroadcast) restricts the index scan to probed "
        "bucket directories — a probe of B buckets reads B directories."
    ),
    "dedup_fuzzy_star_rescore": (
        "Megacluster-safe fuzzy dedup (r6): band signatures -> hub join "
        "(one row per bucket on the build side) -> thresholded banded-DP "
        "levenshtein on member-hub edges only -> left-join survivorship "
        "election. DP work bounded by bands*n, independent of "
        "duplicate-cluster size."
    ),
    "pipeline_epoch_shuffle": (
        "Distributed global rank (r4 rewire): RangePartitioning on the md5 "
        "epoch key, per-partition row_number keyed on the captured "
        "partition id, broadcast offset join — the former unpartitioned "
        "Window (one task holding the corpus) is gone; the audit top-20 is "
        "TakeOrderedAndProject."
    ),
    "profile_histogram_equidepth": (
        "Exact distributed NTILE (r4 rewire): global row_number via "
        "range-partition + broadcast offsets, ANSI NTILE arithmetic from "
        "the rank and a broadcast total — hash-identical to single-task "
        "ntile(10), with no unpartitioned WindowExec in the plan."
    ),
    "pipeline_dedup_cascade": (
        "Staged dedup funnel: exact sha-256 window keeper first (one "
        "32-byte-key exchange), band signatures computed on the "
        "checkpointed survivors only, counts assembled from 1-row "
        "aggregates — no corpus re-scan per stage."
    ),
    "dedup_substring_coverage": (
        "Exact-substring duplication coverage (r6, Lee et al. 2107.06499): "
        "overlapping 20-token gram md5s minted map-side -> ONE "
        "count-over-window on the gram digest ('occurs elsewhere') -> "
        "per-doc interval-union sweep (running-max break flag + island "
        "sum) -> left join against per-doc sizes. The plan's only join is "
        "the final broadcast left join; there is no pair join anywhere, so "
        "cost is linear in corpus tokens."
    ),
    "dedup_semantic_ivf_cells": (
        "SemDeDup IVF-cell semantic dedup (r6, 2303.09540; r12 Arrow "
        "kernels): the Arrow argmax kernel assigns each vector its cell "
        "(no codebook crossjoin, no per-vector window), one window ranks "
        "each cell by priority, and the ranked frame is checkpointed. ONE "
        "MapInPandas pass then compares each vector with the top-64 "
        "priority members of its cell, held in the task closure as a "
        "bounded K x 64 index - |corpus| x C work and no self-join. The "
        "only exchanges left are the per-cell report aggregate and its "
        "sort."
    ),
}


def main() -> None:
    from apache_spark_irs_form_990_spark import registry
    from apache_spark_irs_form_990_spark.session import get_session

    spark = get_session(app_name="dump_plans")
    qs = registry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    lines = [
        "# PLANS — physical-plan snapshots (generated by "
        "`python -m apache_spark_irs_form_990_spark.plans.dump`)",
        "",
        f"Scale factor dir: `{sf_dir}`. These are the plans the engine "
        "ships; tests/test_plans.py asserts their load-bearing properties "
        "(pushdown, broadcasts, group limits, exchange counts) on every "
        "run.",
        "",
    ]
    for name, blurb in SHOWCASE.items():
        plan = explain_formatted(qs[name](spark, sf_dir))
        # keep the physical-plan tree + scan details; drop codegen ids noise
        lines += [f"## {name}", "", blurb, "", "```", plan.strip(), "```", ""]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
