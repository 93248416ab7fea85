"""Bucket-join lint (SURVEY.md §4.2, r5): NO registered query may plan
a join keyed on an LSH bucket-like attribute (``bucket`` / ``band_min``
/ ``probe``) without an OCCUPANCY GUARD in the join subtree — a Filter
on ``_occ`` (hot-bucket cap / star split, `banded_lsh_pairs`) or
``_bucket_seq`` (capped per-bucket index sample, `_flat_index`).

Why: a self-join on a SMALL FIXED bucket space costs Sum over buckets
of occ_a*occ_b ~ n^2/|buckets| — the quadratic the r4 scale-step
measured on the flat 2^8-bucket index (multiprobe: 14.9x runtime for
10x vectors, SCALE_STEP_r04.json) and the r4/r5 caps fixed. This test
is the structural guard that keeps the fix stuck, the same role
tests/test_plan_lint.py plays for unpartitioned windows: a NEW LSH op
joining on an uncapped bucket fails CI here, in both directions (a new
violation fails; a stale whitelist entry fails).

Whitelist policy: a guardless bucket-keyed join is acceptable ONLY
when bucket occupancy is bounded by something other than an explicit
cap — a VALUE-KEYED bucket space (md5-chunk band minima / minhash
band hashes: the key space is 16^8+ per band, so occupancy tracks
true duplicate-CLUSTER size, adjudicated acceptable in SCALE.md §11
finding 2 because pair output is the declared result and
`dedup_minhash_star_links` is the registered megacluster path), or a
STAR topology (one hub row per bucket on the build side, so join
output is O(occ), never occ^2). Fixed small bucket spaces (2^planes
hyperplane signatures) are NOT bounded and never belong here.
"""

from __future__ import annotations

import pytest

from apache_spark_irs_form_990_spark import registry
from apache_spark_irs_form_990_spark.plans.inspect import (
    unguarded_bucket_joins,
)

# query id -> why its guardless bucket-keyed join is bounded anyway
WHITELIST = {
    # --- value-keyed md5-chunk band minima: key space 16^8 per band;
    # occupancy == true near-dup cluster size; pairwise output is the
    # declared result (SCALE.md §11 finding 2); megacluster path is
    # dedup_minhash_star_links ---
    # (dedup_minhash_banding_md5 left the whitelist in r9: its
    # pairwise join now carries the _occ occupancy guard directly —
    # VERDICT r8 task 3 — and the lint detects it)
    "dedup_fuzzy_cascade": "value-keyed (band, band_min); banded-DP rescore",
    "dedup_star_vs_pairwise_audit": "audit: value-keyed (band, band_min); sample at scale",
    "dedup_lsh_recall_audit": "value-keyed (band, band_min) on bounded slice",
    "dedup_minhash_jaccard_audit": "value-keyed (band, band_min), bounded slice",
    "pipeline_dedup_cascade": "value-keyed (band, band_min) on exact-dedup survivors",
    # --- asymmetric batch-probes-index: probe side is the (tiny)
    # incremental batch, so join output is |batch| * occ, not occ^2 ---
    "dedup_incremental_minhash": "asymmetric batch-probes-index join",
    # --- star topology: build side is one hub row per bucket ---
    "dedup_minhash_star_links": "hub join: one row per bucket on build side",
    "dedup_fuzzy_star_rescore": "hub join: one row per bucket on build side",
    # (dedup_fuzzy_star_components needs no entry: it returns the
    # CC loop's localCheckpoint'ed labels, whose truncated lineage
    # carries no bucket join — the hub-join guard is exercised inside
    # the edge derivation, covered by dedup_fuzzy_star_rescore's plan)
    # --- persisted capped index: the _bucket_seq cap ran in the BUILD
    # job before the parquet write, so the probe join's plan cannot
    # show the guard Filter; probe side is the tiny ~1% batch ---
    "sim_ann_index_persist_probe": "probes persisted capped index; asymmetric batch probe",
    # --- value-keyed minhash band hash (R concatenated minhashes):
    # keyspace is the full hash range, occupancy tracks cluster size ---
    "dedup_near_minhash": "value-keyed band-hash bucket, full hash-range keyspace",
    # --- time-bucketed range join (r7: the L-suffix lint widening made
    # long-typed bucket attrs visible): the equi-key is the COMPOSITE
    # (user_id, hour-bucket), so occupancy is per-user-per-hour event
    # volume — data-bounded, not an LSH collision space — and probe
    # amplification is a constant 3x (bucket ± 1) ---
    "join_range_bucketed": "composite (user_id, time-bucket) key; occupancy data-bounded per user-hour",
}


def test_whitelist_entries_exist():
    names = set(registry.queries())
    stale = sorted(set(WHITELIST) - names)
    assert not stale, f"whitelist names not in registry: {stale}"


def test_no_unguarded_bucket_join(smoke_frames):
    """Walk every registered query's optimized plan; fail on any
    bucket-keyed join lacking an occupancy guard outside the
    documented whitelist — and on whitelist entries whose queries no
    longer plan such a join."""
    violations = {}
    unused_whitelist = set(WHITELIST)
    for name, df in smoke_frames.items():
        try:
            if isinstance(df, Exception):
                raise df
            hits = unguarded_bucket_joins(df)
        except Exception as e:  # noqa: BLE001 — build errors are other tests' job
            pytest.fail(f"{name}: query build failed in lint: {e}")
        if not hits:
            continue
        if name in WHITELIST:
            unused_whitelist.discard(name)
            continue
        violations[name] = [h[:160] for h in hits]
    assert not violations, (
        "bucket-keyed join without occupancy guard (cap the bucket via "
        "the _occ / _bucket_seq patterns in operators/similarity.py, or "
        f"whitelist with a bounded-occupancy reason): {violations}"
    )
    assert not unused_whitelist, (
        "whitelist entries whose queries no longer plan a guardless "
        f"bucket join — remove them: {sorted(unused_whitelist)}"
    )


def test_lint_flags_truly_unguarded_join(spark):
    """Negative control for the r7 equality-propagation strengthening:
    (1) a raw bucket self-join with no guard anywhere is flagged;
    (2) a guard on an UNRELATED capped frame joined into the same
    input — different exprIds, no bucket-key equality linking it to
    the pair join's key — no longer vouches (the r6 lint's documented
    false-negative); (3) the real capped-kernel shape (guard on the
    occupancy frame, equated to the probe stream via the restriction
    join) still passes."""
    import pyspark.sql.functions as F

    # localCheckpoint pins `bucket` as a concrete attribute — without
    # it Catalyst inlines the alias into the join condition as
    # (id % 8) = (id % 8) and the name-based lint pattern sees nothing
    base = (
        spark.range(100)
        .select(
            F.col("id").alias("vec_id"), (F.col("id") % 8).alias("bucket")
        )
        .localCheckpoint()
    )

    # (1) raw unguarded bucket self-join
    a, b = base.alias("a"), base.alias("b")
    raw = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    assert unguarded_bucket_joins(raw), "raw unguarded join not flagged"

    # (2) unrelated guarded frame in the same input subtree: its
    # _occ Filter guards a DIFFERENT bucket attribute, never equated
    # to the pair join's key
    unrelated = (
        spark.range(50)
        .select((F.col("id") % 4).alias("ubucket"))
        .groupBy("ubucket")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") <= 64)
        .select(F.col("ubucket").alias("join_key"))
    )
    smuggled = (
        a.join(unrelated, F.col("a.vec_id") % 4 == F.col("join_key"), "left")
        .join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
    )
    assert unguarded_bucket_joins(smuggled), (
        "unrelated guard vouched for an unguarded bucket join "
        "(the r6 false-negative regressed)"
    )

    # (3) the capped-kernel shape: occupancy frame guarded, then
    # restriction-joined back on the bucket key (equality links the
    # guard's bucket exprId to the probe stream's)
    occ = (
        base.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") <= 64)
        .select("bucket")
        .alias("cold")
    )
    guarded_stream = base.alias("s").join(
        occ, F.col("s.bucket") == F.col("cold.bucket")
    ).select(F.col("s.vec_id").alias("vec_id"), F.col("s.bucket").alias("bucket"))
    ga, gb = guarded_stream.alias("ga"), guarded_stream.alias("gb")
    kernel = ga.join(
        gb,
        (F.col("ga.bucket") == F.col("gb.bucket"))
        & (F.col("ga.vec_id") < F.col("gb.vec_id")),
    )
    assert not unguarded_bucket_joins(kernel), (
        "capped-kernel shape falsely flagged: "
        f"{unguarded_bucket_joins(kernel)}"
    )
