"""Similarity search over `embeddings` (SURVEY.md §2 B10 north star).

Three tiers, matching how a real 100 TB vector pipeline is built:

- `sim_cosine_topk` — brute-force top-k for one query vector: one scan,
  per-partition heaps via TakeOrderedAndProject, exact. The baseline
  every ANN variant is validated against.
- `sim_cosine_topk_per_label` — batched exact top-k (k neighbors per
  group) as a window over blocked pairs.
- `sim_cosine_ann_lsh` — random-hyperplane LSH: candidates meet only
  inside a bucket, turning all-pairs O(n^2) into O(n * bucket). This is
  the plan shape that survives a billion vectors; exactness is traded
  for the bucket-recall knob (n_planes).

All dot products run in integer milli-units (see dedup.py rationale):
float32 sum order differs between engines; integer sums cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_spark_irs_form_990_spark.functions.vectors import (
    SQL_NONZERO_V,
    nonzero_milli,
    SQL_COS_AB,
    dot,
    milli_vec,
    pair_dot_udf,
    sq_norm,
)
from apache_spark_irs_form_990_spark.registry import register
from apache_spark_irs_form_990_spark.tables import load

_QUERY_VEC_ID = 0  # deterministic fixed query: vec_id 0's embedding

# per-invocation persisted-index dirs — shared pid-liveness lifecycle
# (tag-agnostic dead-dir sweep at entry + own-dir rmtree at exit),
# factored into functions/scratch.py (r9 self-review finding)
from apache_spark_irs_form_990_spark.functions.scratch import ScratchDirs

_INDEX_DIRS = ScratchDirs("spark990_ann_index")


@register(
    "sim_cosine_topk",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    q AS (SELECT v AS qv FROM m WHERE vec_id = {_QUERY_VEC_ID})
    SELECT vec_id,
           CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
             AS cosine
    FROM m, q
    WHERE vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for a fixed query vector.

    The query vector broadcasts (1-row cross join); the scan stays
    embarrassingly parallel and orderBy+limit plans as
    TakeOrderedAndProject — no global sort, no shuffle of the corpus.
    """
    # norm computed ONCE per row and reused for both the zero-norm
    # convention filter and the cosine denominator (a separate
    # nonzero_milli pass would double the per-row O(dims) arithmetic
    # of this scan-dominated query)
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            milli_vec(F.col("embedding")).alias("v"),
        )
        .withColumn("n", sq_norm(F.col("v")))
        .filter(F.col("n") > 0)
    )
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("n").alias("qn")
    )
    cosine = dot(F.col("v"), F.col("qv")).cast("double") / (
        F.sqrt(F.col("n").cast("double"))
        * F.sqrt(F.col("qn").cast("double"))
    )
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "sim_cosine_topk_per_label",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, label, v FROM (
        SELECT vec_id, label,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    q AS (SELECT v AS qv FROM m WHERE vec_id = {_QUERY_VEC_ID})
    SELECT * FROM (
      SELECT vec_id, label,
             CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
               AS cosine,
             row_number() OVER (
               PARTITION BY label
               ORDER BY CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
               DESC, vec_id
             ) AS rn
      FROM m, q
      WHERE vec_id <> {_QUERY_VEC_ID}
    ) WHERE rn <= 3
    """,
)
def sim_cosine_topk_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped exact top-3 neighbors per label — the batched form
    (window top-N over the scored scan; WindowGroupLimit keeps 3 per
    label pre-shuffle)."""
    # single-pass norm: computed once, reused by the zero-norm filter
    # and the cosine denominator (the sim_cosine_topk treatment)
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", milli_vec(F.col("embedding")).alias("v")
        )
        .withColumn("n", sq_norm(F.col("v")))
        .filter(F.col("n") > 0)
    )
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("n").alias("qn")
    )
    cosine = dot(F.col("v"), F.col("qv")).cast("double") / (
        F.sqrt(F.col("n").cast("double"))
        * F.sqrt(F.col("qn").cast("double"))
    )
    w = Window.partitionBy("label").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "label", cosine.alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


def _lsh_planes(n_planes: int = 8, dims: int = 64) -> list[list[int]]:
    """Deterministic pseudo-random ternary hyperplanes: plane_j[d] =
    (first md5 nibble of "j-d") mod 3 - 1 in {-1, 0, 1}. Computed once
    at import with hashlib (pure constants — no engine hash function),
    so the identical planes embed as literals in both the Spark plan
    and the DuckDB oracle."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{j}-{d}".encode()).hexdigest()[0], 16) % 3 - 1
            for d in range(dims)
        ]
        for j in range(n_planes)
    ]


_PLANES = _lsh_planes()

# Banded random-hyperplane LSH (the shared candidate generator for
# every pairwise embedding operator): B independent bands of R planes
# each. A pair is a candidate iff it matches on ALL R sign bits of at
# least one band — P(candidate) = 1 - (1 - p^R)^B with p = 1 - theta/pi,
# the classic OR-of-ANDs amplification. With R=8, B=8 a cosine-0.95
# pair survives with ~99% probability while a random pair (~cos 0)
# falls to ~3%, so pair work is Sum(bucket^2) per band, never n^2.
# At larger corpus scale, grow R with log2(n) to hold bucket sizes flat.
_N_BANDS, _BAND_PLANES = 8, 8
# Hot-bucket occupancy cap for banded LSH candidate generation — see
# banded_lsh_pairs. 8x headroom over the ~8 avg occupancy at sf0.1;
# binds only on crowded buckets at larger corpora, bounding candidate
# volume at bands * n * C instead of ~n^2/2^planes.
_MAX_BUCKET_OCCUPANCY = 64
# Per-bucket index cap for the SINGLE-TABLE (flat, 2^8-bucket) LSH
# consumers (sim_cosine_ann_lsh / sim_ann_lsh_multiprobe): the stored
# side of the bucket join keeps at most this many members per bucket
# (a deterministic md5-ordered sample), so candidate volume is
# <= probes * n * C — linear — instead of Sum(occ^2) ~ n^2/256.
_MAX_INDEX_PER_BUCKET = 64


def _banded_planes() -> list[list[list[int]]]:
    """[band][plane][dim] ternary hyperplanes, md5-derived like
    `_lsh_planes` but seeded per band so bands are independent."""
    import hashlib

    return [
        [
            [
                int(hashlib.md5(f"{b}:{j}-{d}".encode()).hexdigest()[0], 16) % 3 - 1
                for d in range(64)
            ]
            for j in range(_BAND_PLANES)
        ]
        for b in range(_N_BANDS)
    ]


_BANDED = _banded_planes()


def _bucket_udf(planes: list | None = None):
    """Arrow-batched signature kernel: all plane dots as ONE int64
    matmul per batch (numpy), returning per-vector bucket ids —
    an array of per-band buckets for the banded planes (default), or
    a single-element array for a flat plane list (``planes`` given as
    [plane][dim], treated as one band).

    Why a pandas UDF and not Catalyst expressions: 64 higher-order
    `aggregate(zip_with(...))` dots per row run interpreted (~7 s at
    sf0.1), and unrolling them into flat +/- term sums blows janino's
    64 KB codegen method limit, falling back to something slower.
    A batched integer matmul is the textbook vectorized-UDF case —
    exact int64 arithmetic, so the md5-derived plane semantics (and
    the DuckDB twin) are unchanged; only the evaluation strategy is."""
    if planes is None:
        B, R = _N_BANDS, _BAND_PLANES
        P = np.asarray(_BANDED, dtype=np.int64).reshape(B * R, -1)
    else:
        B, R = 1, len(planes)
        P = np.asarray(planes, dtype=np.int64)  # (R, D)
    W = 1 << np.arange(R, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(v.to_numpy()).astype(np.int64)  # (n, D)
        bits = (V @ P.T > 0).reshape(len(v), B, R)
        out = (bits * W).sum(axis=2).astype(np.int32)  # (n, B)
        return pd.Series(list(out))

    return buckets


def banded_signature_table(emb: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) banded-LSH signature rows for a
    (vec_id, v: array<long>) frame — one Arrow-batched int64 matmul
    per batch (`_bucket_udf`), posexplode to B rows per vector,
    `localCheckpoint`ed so every consumer reads the materialized
    3-small-int rows (the in-query analogue of a persisted signature
    index). Shared by `banded_lsh_pairs` and the occupancy histogram
    (`sim_lsh_bucket_histogram`)."""
    return (
        emb.select("vec_id", _bucket_udf()(F.col("v")).alias("bks"))
        .select("vec_id", F.posexplode("bks").alias("band", "bucket"))
        .localCheckpoint()
    )


def banded_lsh_pairs(emb: DataFrame) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from banded hyperplane
    LSH over a DataFrame with columns (vec_id, v: array<long>).

    Plan shape: one Arrow-batched projection computes all B bucket ids
    (`_bucket_udf`, a single int64 matmul per batch), posexplode to
    (vec_id, band, bucket) — B rows per vector, map-side — then ONE
    shuffle keyed on (band, bucket) for the self-join. Candidate
    volume is bounded by Sum over buckets of bucket^2; no unbucketed
    self-join exists in the plan, which tests/test_plans.py asserts.

    The signature table is `localCheckpoint`ed before the self-join
    (the heavy-once pattern, SCALE.md §8): both join sides and every
    downstream consumer read the materialized (vec_id, band, bucket)
    rows — 3 small ints per row — instead of re-running the scan +
    matmul per reference. This is the in-query analogue of the
    persisted signature index a production corpus keeps.

    HOT-BUCKET CAP + STAR FALLBACK (r4/r5): with 8 bands x 8 planes
    the bucket space per band is only 2^8 = 256, so at n vectors the
    average occupancy is n/256 and candidate volume Sum(occ^2) grows
    as ~n^2/64 — the r4 scale-step measured exactly that (7.3M pairs
    at 20k vectors, SCALE_STEP_r04.json). Buckets holding more than
    `_MAX_BUCKET_OCCUPANCY` members therefore skip the all-pairs
    self-join; r4 dropped them outright, which zeroed recall on a
    genuine MEGACLUSTER (thousands of near-identical vectors overflow
    the bucket in EVERY band at once, so "true near-dups survive in
    another band" fails exactly when dedup matters most). r5 instead
    STAR-LINKS hot buckets — each member pairs only with the bucket's
    minimum vec_id (the hub), the `dedup_minhash_star_links` topology:
    a k-member hot bucket emits k-1 edges instead of k(k-1)/2, spans
    the same connected component (so survivorship and clustering are
    unchanged), and total candidate volume stays <= bands * n *
    max(C, 1): LINEAR in corpus size. Cold buckets keep the exact
    pairwise output. The (band, bucket) occupancy frame is at most
    bands * 256 = 2048 rows, so both the cold-key and hub joins
    BROADCAST — the only shuffle of the signature table is the
    self-join's. At the test SFs occupancy (~2-8) never reaches the
    cap, so results are unchanged there; the identical occupancy
    split is mirrored in the DuckDB twin either way."""
    banded = banded_signature_table(emb)
    occ = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("_occ"), F.min("vec_id").alias("_hub")
    )
    cold_keys = occ.filter(F.col("_occ") <= _MAX_BUCKET_OCCUPANCY).select(
        "band", "bucket"
    )
    hot_hubs = occ.filter(F.col("_occ") > _MAX_BUCKET_OCCUPANCY).select(
        "band", "bucket", "_hub"
    )
    cold = banded.join(F.broadcast(cold_keys), ["band", "bucket"])
    a, b = cold.alias("a"), cold.alias("b")
    pairwise = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
    # hub = min(vec_id) in the bucket, so id_a < id_b holds by
    # construction and star edges dedupe with pairwise edges cleanly
    star = (
        banded.join(F.broadcast(hot_hubs), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col("vec_id").alias("id_b"))
    )
    return pairwise.unionByName(star).distinct()


def banded_signature_sql(src: str) -> str:
    """DuckDB twin of `banded_signature_table`: CTE text defining
    `planes` and `banded(vec_id, band, bucket)` over an existing CTE
    ``src(vec_id, v)``. The same md5-derived plane literals embed in
    both engines, so signatures are bit-identical."""
    plane_cols = ", ".join(
        "[" + ",".join(str(x) for x in _BANDED[b][j]) + f"] AS p{b}_{j}"
        for b in range(_N_BANDS)
        for j in range(_BAND_PLANES)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, CAST("
        + " + ".join(
            f"(CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> v[i] * p{b}_{j}[i])) > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(_BAND_PLANES)
        )
        + f" AS INT) AS bucket FROM {src}, planes"
        for b in range(_N_BANDS)
    )
    # MATERIALIZED: `banded` costs 64 list_sums per vector to build
    # and every consumer references it 2-3x; DuckDB's default CTE
    # inlining re-evaluates the whole projection per reference (the
    # graph_kcore_peel lesson, SCALE.md §13) — the hint makes the
    # oracle half of the differential measure queries, not re-inlining
    return f"""planes AS (SELECT {plane_cols}),
    banded AS MATERIALIZED (
      {band_selects}
    )"""


def banded_lsh_pairs_sql(src: str) -> str:
    """DuckDB twin of `banded_lsh_pairs`: CTE text defining `planes`,
    `banded`, `occ`, `cold` (hot-bucket cap applied), and `cand`
    (pairwise cold edges + star edges for hot buckets) over an
    existing CTE ``src(vec_id, v)`` — so the candidate set, and
    everything downstream, is bit-identical across engines."""
    return f"""{banded_signature_sql(src)},
    occ AS (
      SELECT band, bucket, count(*) AS _occ, min(vec_id) AS _hub
      FROM banded GROUP BY band, bucket
    ),
    cold AS (
      SELECT banded.* FROM banded
      JOIN (SELECT band, bucket FROM occ
            WHERE _occ <= {_MAX_BUCKET_OCCUPANCY}) k
      USING (band, bucket)
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cold a JOIN cold b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
        UNION ALL
        SELECT h._hub AS id_a, banded.vec_id AS id_b
        FROM banded
        JOIN (SELECT band, bucket, _hub FROM occ
              WHERE _occ > {_MAX_BUCKET_OCCUPANCY}) h
        USING (band, bucket)
        WHERE banded.vec_id <> h._hub
      )
    )"""


def emb_milli_corpus(
    spark: SparkSession,
    sf_dir: str,
    keeps: tuple[int, ...] = (),
    cap: int | None = None,
) -> DataFrame:
    """embeddings as (vec_id, v: milli-int array), plus one synthesized
    near-duplicate generation per entry in ``keeps``: generation k
    re-embeds every 5th vector under vec_id + (k+1)*1e6 with all dims
    >= keeps[k] zeroed (cosine to the original = sqrt(E_keep/E_total),
    ~0.97 at keep=60 — the deterministic analogue of dedup.py's
    truncated-text duplicates, identically mirrored in SQL by
    `emb_milli_corpus_sql`). ``cap`` bounds the base slice
    (vec_id < cap, pushed to the scan) for the exact audit twins.

    Zero-norm convention (r7): the whole UNION is filtered to
    quantized norm > 0 — the base can contain zero/underflow
    embeddings and tail-zeroing can turn a nonzero base vector into a
    zero generation; either would divide a downstream cosine by zero
    (tests/test_edge_embeddings.py)."""
    emb = load(spark, sf_dir, "embeddings")
    if cap is not None:
        emb = emb.filter(F.col("vec_id") < cap)
    emb = emb.select("vec_id", milli_vec(F.col("embedding")).alias("v"))
    def zero_tail(keep: int):
        return lambda x, i: F.when(i < keep, x).otherwise(F.lit(0).cast("long"))

    out = emb
    for k, keep in enumerate(keeps):
        gen = emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + (k + 1) * 1000000).alias("vec_id"),
            F.transform(F.col("v"), zero_tail(keep)).alias("v"),
        )
        out = out.unionByName(gen)
    return nonzero_milli(out)


def emb_milli_corpus_sql(keeps: tuple[int, ...] = ()) -> str:
    """CTE body text for the DuckDB twin of `emb_milli_corpus`
    (selects from a CTE `m(vec_id, v)` that callers must define;
    the union is wrapped with the zero-norm convention filter)."""
    parts = ["SELECT vec_id, v FROM m"]
    for k, keep in enumerate(keeps):
        parts.append(
            f"SELECT vec_id + {(k + 1) * 1000000} AS vec_id,\n"
            f"             list_transform(range(1, 65),\n"
            f"               i -> CASE WHEN i <= {keep} THEN v[i]"
            f" ELSE CAST(0 AS BIGINT) END) AS v\n"
            f"      FROM m WHERE vec_id % 5 = 0"
        )
    union = "\n      UNION ALL ".join(parts)
    return (
        "SELECT vec_id, v FROM (\n      "
        + union
        + f"\n      ) WHERE {SQL_NONZERO_V}"
    )


_SQL_MILLI = """m AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    )"""

def _flat_bucketed(emb: DataFrame) -> DataFrame:
    """(vec_id, v, bucket, n) under the flat 8-plane signature — the
    shared single-table index frame of `sim_cosine_ann_lsh`,
    `sim_ann_lsh_multiprobe`, and `sim_multiprobe_recall_audit`,
    `localCheckpoint`ed so the capped index sample and the probe side
    read ONE materialization (the in-query analogue of the persisted
    ANN index)."""
    return (
        emb.withColumn("bucket", _bucket_udf(_PLANES)(F.col("v")).getItem(0))
        .withColumn("n", sq_norm(F.col("v")))
        .localCheckpoint()
    )


def _flat_index(bucketed: DataFrame) -> DataFrame:
    """Capped stored side of the flat-LSH bucket join: at most
    `_MAX_INDEX_PER_BUCKET` members per bucket, a DETERMINISTIC
    md5-ordered per-bucket sample (uniform and engine-portable — the
    same draw `sim_label_contrast` uses). With only 2^8 = 256 buckets,
    the uncapped self-join's candidate volume is Sum(occ^2) ~ n^2/256
    — the quadratic the r4 scale-step measured (multiprobe 14.9x
    runtime for 10x vectors, SCALE_STEP_r04.json); capping the stored
    side bounds it at probes * n * C, LINEAR, while queries in a hot
    bucket still rank against a C-member sample instead of losing all
    neighbors (graceful recall decay, audited by
    `sim_multiprobe_recall_audit`). The rank<=C filter plans as
    WindowGroupLimit, so each task pre-trims to C rows per bucket
    before the per-bucket exchange — no task ever holds a full hot
    bucket."""
    wseq = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        bucketed.withColumn("_bucket_seq", F.row_number().over(wseq))
        .filter(F.col("_bucket_seq") <= _MAX_INDEX_PER_BUCKET)
        .drop("_bucket_seq")
    )


def _flat_lsh_sql(src: str) -> str:
    """DuckDB twin of `_flat_bucketed` + `_flat_index`: CTE text
    defining `planes`, `bucketed(vec_id, v, bucket, n)` over an
    existing CTE ``src(vec_id, v)``, and `idx` — the capped
    md5-sampled stored side — with the identical plane literals and
    tie order, so both engines index the same members."""
    plane_lits = ", ".join(
        "[" + ",".join(str(x) for x in p) + "] AS p" + str(j)
        for j, p in enumerate(_PLANES)
    )
    bucket = " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, 65),"
        f" i -> v[i] * p{j}[i])) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(len(_PLANES))
    )
    return f"""planes AS (SELECT {plane_lits}),
    bucketed AS (
      SELECT vec_id, v,
             CAST({bucket} AS INT) AS bucket,
             CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS n
      FROM {src}, planes
    ),
    idx AS (
      SELECT vec_id, v, bucket, n FROM (
        SELECT *, row_number() OVER (PARTITION BY bucket
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                  AS _bucket_seq
        FROM bucketed
      ) WHERE _bucket_seq <= {_MAX_INDEX_PER_BUCKET}
    )"""


def _ann_lsh_oracle() -> str:
    """DuckDB twin of sim_cosine_ann_lsh: same literal planes, same
    sign-bit bucket, same capped md5-sampled index side, same
    integer-milli cosine re-rank."""
    return f"""
    WITH {_SQL_MILLI},
    {_flat_lsh_sql("m")},
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> a.v[i] * b.v[i])) AS DOUBLE)
             / (sqrt(CAST(a.n AS DOUBLE)) * sqrt(CAST(b.n AS DOUBLE)))
               AS cosine
      FROM bucketed a
      JOIN idx b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT qid, nid, cosine FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid) AS rn
      FROM pairs
    ) WHERE rn <= 3
    """


@register("sim_cosine_ann_lsh", oracle=_ann_lsh_oracle())
def sim_cosine_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH.

    Signature bit i = sign(dot(v, plane_i)) with ternary planes derived
    deterministically from md5("plane-dim") at import time — pure
    constants, no model state, identical in the DuckDB twin, which is
    what upgraded this from the former rows-only check to an exact
    cross-engine oracle. Vectors sharing a signature bucket are
    candidates; exact integer-milli cosine re-ranks within the bucket,
    window top-3 per query vector.

    Scale shape: one narrow projection per vector (one Arrow int64
    matmul per batch computes all 8 sign bits — same kernel as
    banded_lsh_pairs, single-band plane set), one shuffle on the
    8-bit bucket. The STORED side of the bucket join is capped at
    `_MAX_INDEX_PER_BUCKET` md5-sampled members per bucket
    (`_flat_index` — r5, closing the r4 verdict's open quadratic:
    with 256 buckets the uncapped self-join costs Sum(occ^2) ~
    n^2/256), so pair work is <= n * C, linear in corpus size; every
    vector still probes, so queries in hot buckets rank against the
    sample instead of disappearing. Raising n_planes shrinks buckets
    (recall down, cost down); the cap never binds at test SFs but the
    DuckDB twin mirrors it exactly either way.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    bucketed = _flat_bucketed(emb)
    a = bucketed.alias("a")
    b = _flat_index(bucketed).alias("b")
    cosine = dot(F.col("a.v"), F.col("b.v")).cast("double") / (
        F.sqrt(F.col("a.n").cast("double")) * F.sqrt(F.col("b.n").cast("double"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("qid"),
            F.col("b.vec_id").alias("nid"),
            cosine.alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def _scored_sym_pairs(emb_n: DataFrame, cand: DataFrame) -> DataFrame:
    """Score each UNORDERED candidate pair once (cosine is symmetric),
    then explode both directions map-side: (qid, nid, cosine).
    ``emb_n`` must carry (vec_id, v, n=squared norm); both joins are
    equi-joins on vec_id. Symmetrizing by union-of-two-selects would
    reference — and re-execute — the whole candidate subtree twice;
    the explode costs one row duplication after the expensive work."""
    a = emb_n.select(
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = emb_n.select(
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cosine = pair_dot_udf()(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = cand.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", cosine.alias("cosine")
    )
    return scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("qid"),
                    F.col("id_b").alias("nid"),
                    F.col("cosine"),
                ),
                F.struct(
                    F.col("id_b").alias("qid"),
                    F.col("id_a").alias("nid"),
                    F.col("cosine"),
                ),
            )
        ).alias("p")
    ).select("p.qid", "p.nid", "p.cosine")


def _nn_lsh_oracle() -> str:
    return f"""
    WITH {_SQL_MILLI},
    {banded_lsh_pairs_sql("m")},
    sym AS (
      SELECT id_a AS qid, id_b AS nid FROM cand
      UNION ALL
      SELECT id_b AS qid, id_a AS nid FROM cand
    ),
    scored AS (
      SELECT s.qid, s.nid, {SQL_COS_AB} AS cosine
      FROM sym s JOIN m a ON a.vec_id = s.qid JOIN m b ON b.vec_id = s.nid
    )
    SELECT qid AS vec_id, nid AS nn_id, cosine FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid ASC) AS rn
      FROM scored
    ) WHERE rn = 1
    """


@register("sim_nearest_neighbor", oracle=_nn_lsh_oracle())
def sim_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate global 1-NN over the FULL corpus: every vector's
    most similar neighbor among its banded-LSH candidates (8 bands x
    8 hyperplanes, `banded_lsh_pairs`) — the dedup/linking primitive
    'which existing record is this closest to', in its 100 TB form.

    Round 2 registered the exact all-pairs argmax on a capped slice;
    that form survives as `sim_nearest_neighbor_exact`, and
    `sim_nn_recall_audit` measures this query's agreement with it.
    Vectors whose every bucket is a singleton have no candidates and
    drop out (honest ANN semantics; the oracle mirrors). Plan: bucket
    self-join keyed on (band, bucket), then two equi-joins on vec_id
    to score — no unbucketed self-join anywhere."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    emb_n = emb.withColumn("n", sq_norm(F.col("v")))
    scored = _scored_sym_pairs(emb_n, banded_lsh_pairs(emb))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"), F.col("nid").alias("nn_id"), "cosine"
        )
    )


@register(
    "sim_nearest_neighbor_exact",
    oracle="""
    WITH q AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings WHERE vec_id < 300
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> a.v[i] * b.v[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM q a JOIN q b ON a.vec_id != b.vec_id
    )
    SELECT id_a AS vec_id, id_b AS nn_id, cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY id_a
                                   ORDER BY cosine DESC, id_b ASC) AS rn
      FROM pairs
    ) WHERE rn = 1
    """,
)
def sim_nearest_neighbor_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-NN ground truth on a BOUNDED slice (vec_id < 300, the
    filter pushed to the scan): the all-pairs argmax the LSH default is
    audited against (`sim_nn_recall_audit`). The cap is the point — at
    100 TB you run exact truth on a sample to justify LSH parameters,
    never on the corpus; the registered default `sim_nearest_neighbor`
    is the bucketed one."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    emb = emb.withColumn("n", sq_norm(F.col("v")))
    a, b = emb.alias("a"), emb.alias("b")
    cosine = dot(F.col("a.v"), F.col("b.v")).cast("double") / (
        F.sqrt(F.col("a.n").cast("double")) * F.sqrt(F.col("b.n").cast("double"))
    )
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nn_id"),
        cosine.alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("nn_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "cosine")
    )


def _nn_recall_oracle() -> str:
    return f"""
    WITH m0 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    m AS (SELECT * FROM m0 WHERE vec_id < 300),
    {banded_lsh_pairs_sql("m")},
    sym AS (
      SELECT id_a AS qid, id_b AS nid FROM cand
      UNION ALL
      SELECT id_b AS qid, id_a AS nid FROM cand
    ),
    lsh_scored AS (
      SELECT s.qid, s.nid, {SQL_COS_AB} AS cosine
      FROM sym s JOIN m a ON a.vec_id = s.qid JOIN m b ON b.vec_id = s.nid
    ),
    lsh_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid ASC) AS rn
        FROM lsh_scored
      ) WHERE rn = 1
    ),
    exact_scored AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM m a JOIN m b ON a.vec_id != b.vec_id
    ),
    exact_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid ASC) AS rn
        FROM exact_scored
      ) WHERE rn = 1
    )
    SELECT count(*) AS n_vecs,
           count(l.nid) AS n_with_candidates,
           CAST(sum(CASE WHEN l.nid = e.nid THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nn_match,
           CAST(sum(CASE WHEN l.nid = e.nid THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS match_rate
    FROM exact_nn e LEFT JOIN lsh_nn l ON e.qid = l.qid
    """


@register("sim_nn_recall_audit", oracle=_nn_recall_oracle())
def sim_nn_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the LSH 1-NN default against exact ground truth on the
    bounded vec_id < 300 slice: for what fraction of vectors does the
    banded-LSH argmax agree with the true argmax? Single-row output
    (n_vecs, n_with_candidates, n_nn_match, match_rate). This is the
    `dedup_lsh_recall_audit` pattern applied to the embedding family —
    at 100 TB it runs on a hash-sampled slice to tune (bands, planes)
    before trusting the bucketed pass on the corpus."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    emb_n = emb.withColumn("n", sq_norm(F.col("v")))

    def rank1(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("qid").orderBy(
            F.col("cosine").desc(), F.col("nid").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("qid", "nid")
        )

    lsh_nn = rank1(_scored_sym_pairs(emb_n, banded_lsh_pairs(emb)))
    a, b = emb_n.alias("a"), emb_n.alias("b")
    cosine = dot(F.col("a.v"), F.col("b.v")).cast("double") / (
        F.sqrt(F.col("a.n").cast("double")) * F.sqrt(F.col("b.n").cast("double"))
    )
    exact_scored = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("qid"),
        F.col("b.vec_id").alias("nid"),
        cosine.alias("cosine"),
    )
    exact_nn = rank1(exact_scored)
    e = exact_nn.select(F.col("qid"), F.col("nid").alias("nid_exact"))
    l = lsh_nn.select(F.col("qid"), F.col("nid").alias("nid_lsh"))
    match = F.when(F.col("nid_lsh") == F.col("nid_exact"), 1).otherwise(0)
    return e.join(l, "qid", "left").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count("nid_lsh").alias("n_with_candidates"),
        F.sum(match).alias("n_nn_match"),
        (F.sum(match).cast("double") / F.count(F.lit(1))).alias("match_rate"),
    )


@register(
    "sim_cosine_ann_ivf",
    oracle="""
    WITH m AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM m WHERE vec_id < 8),
    q AS (SELECT v AS qv FROM m WHERE vec_id = 0),
    assign_pairs AS (
      SELECT m.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, 65), i -> v[i] * cv[i]))
                  AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)))
               AS cos_c
      FROM m, cents c
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, cid) AS rn
        FROM assign_pairs
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT cid AS cell FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 CAST(list_sum(list_transform(range(1, 65), i -> cv[i] * qv[i]))
                      AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
                 DESC, c.cid) AS rn
        FROM cents c, q
      ) WHERE rn <= 2
    )
    SELECT m.vec_id, cells.cell,
           CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))
                AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
             AS cosine
    FROM m
    JOIN cells ON m.vec_id = cells.vec_id
    JOIN probe ON cells.cell = probe.cell, q
    WHERE m.vec_id <> 0
    ORDER BY cosine DESC, m.vec_id
    LIMIT 10
    """,
)
def sim_cosine_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate nearest neighbor: a deterministic coarse
    codebook (the 8 lowest-vec_id vectors), every vector assigned to
    its most-similar centroid cell, and the query searched exactly
    within its nprobe=2 closest cells — the inverted-file scale path
    the brute-force `sim_cosine_topk` baseline validates against.

    Everything is exact-arithmetic (milli-int dots, one double
    division) and fully tie-broken, so unlike the random-projection
    LSH variant (`sim_cosine_ann_lsh`, rows-only check) this ANN
    operator hash-matches a DuckDB oracle end-to-end.

    Scale shape: assignment is an embarrassingly-parallel scan with
    the codebook riding in the task closure (one cos per vector per
    centroid — at 100 TB with k=65536 centroids this is the standard
    IVF build); the probe reads only the 2/8 cells' members. Recall
    vs the exact top-10 is a fixture property (the cells partition
    the corpus); the operator reports each hit's cell so recall is
    auditable.

    r12 OPTIMIZED (guide §2.3, §4.2 — the `_cent_assign_rows`
    pattern, fused): the probe cells are decided on the driver from
    the bounded centroid + query collects (8 + 1 rows), and ONE Arrow
    map pass assigns each physical row's cell and scores it against
    the query; a map-side-combinable max_by then pools duplicate
    vec_ids to the window form's one winner (the shuffle carries 4
    scalars per row — no vector payload, where the old plan shuffled
    |corpus| x 8 crossjoin rows each dragging the full vector through
    two window sorts plus a probe join). Probe filter and top-10
    follow the reduction, as the old probe join did. Arithmetic
    bit-identical (exact int64 dots; one double division in the same
    IEEE op order; first-max argmax == the (cos DESC, cid) tie-break
    over cid-sorted centroids; duplicate-id pooling == the old
    window, pinned by tests/test_edge_embeddings.py)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    cids, C, cnorm = _cent_arrays(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    )
    qrows = _bounded_rows(
        emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select("v"),
        4,
        "sim_cosine_ann_ivf query",
    )
    out_schema = "vec_id long, cell bigint, cosine double"
    if len(cids) == 0 or not qrows:
        # no centroids or no (nonzero-norm) query vector: the old
        # probe/crossjoin form produced zero rows — preserve that
        return spark.createDataFrame([], out_schema)
    qv = np.array(list(qrows[0]["v"]), dtype=np.int64)
    qn = np.sqrt(float((qv * qv).sum()))
    probe_cos = (C @ qv).astype(np.float64) / (cnorm * qn)
    # stable argsort of -cos over cid-ascending rows == row_number
    # over (cos DESC, cid); nprobe = 2
    probe_cells = cids[np.argsort(-probe_cos, kind="stable")[:2]]

    def hits(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            vn = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            assert vn.all(), "zero-norm corpus vector (NaN cosine)"
            cos_c = (V @ C.T).astype(np.float64) / (
                vn[:, None] * cnorm[None, :]
            )
            j = cos_c.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cids[j],
                    "cent_cos": cos_c[np.arange(len(pdf)), j],
                    "cosine": (V @ qv).astype(np.float64) / (vn * qn),
                }
            )

    scored = emb.mapInPandas(
        hits, "vec_id long, cell bigint, cent_cos double, cosine double"
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(F.struct("cell", "cosine"), _argmax_ord()).alias("_w")
        )
        .select("vec_id", "_w.cell", "_w.cosine")
        .filter(
            F.col("cell").isin([int(c) for c in probe_cells])
            & (F.col("vec_id") != _QUERY_VEC_ID)
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "sim_ivf_recall_audit",
    oracle="""
    WITH m AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    cents AS (SELECT vec_id AS cid, v AS cv FROM m WHERE vec_id < 8),
    q AS (SELECT v AS qv FROM m WHERE vec_id = 0),
    assign_pairs AS (
      SELECT m.vec_id, c.cid,
             CAST(list_sum(list_transform(range(1, 65), i -> v[i] * cv[i]))
                  AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE)))
               AS cos_c
      FROM m, cents c
    ),
    cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, cid) AS rn
        FROM assign_pairs
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT cid AS cell FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 CAST(list_sum(list_transform(range(1, 65), i -> cv[i] * qv[i]))
                      AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
                 DESC, c.cid) AS rn
        FROM cents c, q
      ) WHERE rn <= 2
    ),
    ivf10 AS (
      SELECT m.vec_id FROM m
      JOIN cells ON m.vec_id = cells.vec_id
      JOIN probe ON cells.cell = probe.cell, q
      WHERE m.vec_id <> 0
      ORDER BY CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))
                    AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
               DESC, m.vec_id
      LIMIT 10
    ),
    exact10 AS (
      SELECT vec_id FROM m, q
      WHERE vec_id <> 0
      ORDER BY CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i]))
                    AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
               DESC, vec_id
      LIMIT 10
    )
    SELECT (SELECT count(*) FROM exact10) AS n_exact,
           (SELECT count(*) FROM ivf10) AS n_ivf,
           (SELECT count(*) FROM (SELECT * FROM ivf10
                                  INTERSECT SELECT * FROM exact10)) AS n_overlap,
           CAST((SELECT count(*) FROM (SELECT * FROM ivf10
                                       INTERSECT SELECT * FROM exact10)) AS DOUBLE)
             / (SELECT count(*) FROM exact10) AS recall_at_10
    """,
)
def sim_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF ANN path against the exact brute-force
    top-10 for the fixed query vector — the audit that justifies the
    (k, nprobe) parameters, completing the audit family
    (`sim_nn_recall_audit` for hyperplane LSH,
    `dedup_lsh_recall_audit` for MinHash banding,
    `dedup_embedding_recall_audit` for embedding LSH). Recall lost
    here means the true neighbor lives in an unprobed cell; raise
    nprobe or k. Single-row output, one IEEE division."""
    ivf = sim_cosine_ann_ivf(spark, sf_dir).select("vec_id")
    exact = sim_cosine_topk(spark, sf_dir).select("vec_id")
    overlap = exact.intersect(ivf)
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_ivf = ivf.agg(F.count(F.lit(1)).alias("n_ivf"))
    n_overlap = overlap.agg(F.count(F.lit(1)).alias("n_overlap"))
    return (
        n_exact.crossJoin(n_ivf)
        .crossJoin(n_overlap)
        .select(
            "n_exact",
            "n_ivf",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_exact")).alias(
                "recall_at_10"
            ),
        )
    )


@register(
    "sim_label_centroids",
    oracle="""
    SELECT label, CAST(i AS BIGINT) AS pos,
           CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT))
                AS DOUBLE) / 1000.0 / count(*) AS mean_milli
    FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
    GROUP BY label, pos
    """,
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean embedding) in long form
    (label, dimension, mean) — the codebook-training primitive behind
    IVF/k-means. posexplode turns the array into (pos, value) rows so
    the mean is an ordinary hash aggregate on (label, pos): fully
    parallel, no array reassembly, 64x row amplification map-side
    only. Milli-int sums keep the mean exact under any merge order."""
    e = load(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode(milli_vec(F.col("embedding"))).alias("pos0", "mv")
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(
            (F.sum("mv").cast("double") / 1000.0 / F.count(F.lit(1))).alias(
                "mean_milli"
            )
        )
    )


@register(
    "sim_label_contrast",
    oracle="""
    WITH m0 AS (
      SELECT vec_id, label, v FROM (
        SELECT vec_id, label,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    m AS (
      SELECT vec_id, label, v FROM m0
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1024
    ),
    pairs AS (
      SELECT a.label = b.label AS same_label,
             CAST(round(
               CAST(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
                    AS DOUBLE)
               / (sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE))
                  * sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) AS DOUBLE)))
               * 1000000) AS BIGINT) AS cos_micro
      FROM m a JOIN m b ON a.vec_id < b.vec_id
    )
    SELECT same_label,
           count(*) AS n_pairs,
           CAST(sum(cos_micro) AS DOUBLE) / 1000000.0 / count(*) AS avg_cosine
    FROM pairs
    GROUP BY same_label
    """,
)
def sim_label_contrast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality metric: average cosine within labels vs
    across labels (a healthy embedding separates the two). Each pair's
    cosine snaps to integer MICRO-COSINE before summing so the two
    group averages are exact under any aggregation order — the same
    integerize-before-sum rule as revenue cents, applied to a derived
    double.

    Pair cost is BOUNDED by a deterministic fixed-size sample: the
    1024 vectors lowest in md5(vec_id) order (a uniform, engine-
    portable draw; TakeOrderedAndProject — no global sort). All-pairs
    on the sample is a constant <=0.5M cosines regardless of corpus
    size, which is how a statistic like this is estimated at 100 TB —
    round 2 registered the unbounded all-pairs form instead."""
    emb0 = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    emb = (
        emb0.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(1024)
        .withColumn("n", sq_norm(F.col("v")))
        # NOT checkpointed: the TakeOrderedAndProject sampling shape
        # must stay visible in the plan (tests/test_plans.py); the
        # duplicate 1024-row sample scan costs ~1s, the Arrow dots
        # and hoisted norms are where the r6 win came from
    )
    a = emb.select(
        F.col("vec_id").alias("ida"), F.col("label").alias("la"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"), F.col("label").alias("lb"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    # norms are computed once per VECTOR above, and the 0.5M pair dots
    # run through the Arrow einsum kernel instead of an interpreted
    # per-pair Catalyst aggregate (r6 perf split: 13 s -> sub-second
    # engine half; same exact integers, oracle unchanged)
    cos = pair_dot_udf()(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        (F.col("la") == F.col("lb")).alias("same_label"),
        F.round(cos * 1_000_000).cast("long").alias("cos_micro"),
    )
    return pairs.groupBy("same_label").agg(
        F.count("*").alias("n_pairs"),
        (F.sum("cos_micro").cast("double") / 1e6 / F.count(F.lit(1))).alias(
            "avg_cosine"
        ),
    )


def _multiprobe_oracle() -> str:
    """DuckDB twin of `sim_ann_lsh_multiprobe`: identical plane
    literals, identical sign-bit bucket, identical capped md5-sampled
    index side, probes = exact bucket plus each 1-bit flip, exact
    milli-cosine re-rank."""
    return f"""
    WITH {_SQL_MILLI},
    {_flat_lsh_sql("m")},
    probes AS (
      SELECT vec_id,
             CASE WHEN j = 0 THEN bucket
                  ELSE xor(bucket, CAST(1 << (j - 1) AS INT)) END AS probe
      FROM bucketed,
           LATERAL (SELECT unnest(generate_series(0, {len(_PLANES)})) AS j)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
      FROM probes a JOIN idx b
        ON a.probe = b.bucket AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT c.qid, c.nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> a.v[i] * b.v[i])) AS DOUBLE)
             / (sqrt(CAST(a.n AS DOUBLE)) * sqrt(CAST(b.n AS DOUBLE)))
               AS cosine
      FROM cand c
      JOIN bucketed a ON a.vec_id = c.qid
      JOIN bucketed b ON b.vec_id = c.nid
    )
    SELECT qid, nid, cosine FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid) AS rn
      FROM scored
    ) WHERE rn <= 3
    """


@register("sim_ann_lsh_multiprobe", oracle=_multiprobe_oracle())
def sim_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe hyperplane LSH: each vector probes its own sign-bit
    bucket PLUS the 8 buckets one bit-flip away — the standard recall
    lever that trades probe fan-out (9x on the query side only) for
    hash-table count, instead of doubling planes/tables and doubling
    the stored index. A vector pair whose true cosine puts them one
    marginal hyperplane apart lands in adjacent buckets; single-probe
    LSH misses it, multiprobe recovers it.

    Plan shape: the stored side is ONE signature table (built by the
    same Arrow matmul kernel as `sim_cosine_ann_lsh`, checkpointed
    once) CAPPED at `_MAX_INDEX_PER_BUCKET` md5-sampled members per
    bucket (`_flat_index` — r5: this query's registered form probes
    with the FULL corpus, so the r4 docstring's "probe fan-out
    multiplies only the tiny query batch" defense did not apply, and
    the uncapped 256-bucket join cost 9 * Sum(occ^2) ~ 9n^2/256 —
    measured 14.9x runtime for 10x vectors in SCALE_STEP_r04.json).
    The probe side explodes 9 rows per vector map-side before the one
    shuffle keyed on the bucket; against the capped index, candidate
    volume is <= 9 * n * C — linear. Candidates dedupe on (qid, nid)
    before the exact milli-cosine re-rank, window top-3 per query.
    `sim_multiprobe_recall_audit` measures what the 9x probe fan-out
    buys: multiprobe 1-NN agreement with exact truth vs single-probe,
    at equal (capped) index size. At 100 TB with a small query batch,
    swap the probe side for the batch — the asymmetric
    `dedup_incremental_minhash` shape — and the stored index is
    unchanged."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    bucketed = _flat_bucketed(emb)
    index = _flat_index(bucketed)
    probes = bucketed.select(
        "vec_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(len(_PLANES))
                ],
            )
        ).alias("probe"),
    )
    cand = (
        probes.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
        .distinct()
    )
    qa = bucketed.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    qb = bucketed.select(
        F.col("vec_id").alias("nid"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cosine = pair_dot_udf()(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = cand.join(qa, "qid").join(qb, "nid").select(
        "qid", "nid", cosine.alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def _batch_query_oracle() -> str:
    return f"""
    WITH {_SQL_MILLI},
    {_flat_lsh_sql("m")},
    batch AS (SELECT * FROM bucketed WHERE vec_id % 97 = 0),
    probes AS (
      SELECT vec_id,
             CASE WHEN j = 0 THEN bucket
                  ELSE xor(bucket, CAST(1 << (j - 1) AS INT)) END AS probe
      FROM batch,
           LATERAL (SELECT unnest(generate_series(0, {len(_PLANES)})) AS j)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
      FROM probes a JOIN idx b
        ON a.probe = b.bucket AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT c.qid, c.nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> a.v[i] * b.v[i])) AS DOUBLE)
             / (sqrt(CAST(a.n AS DOUBLE)) * sqrt(CAST(b.n AS DOUBLE)))
               AS cosine
      FROM cand c
      JOIN bucketed a ON a.vec_id = c.qid
      JOIN bucketed b ON b.vec_id = c.nid
    )
    SELECT qid, nid, cosine FROM (
      SELECT qid, nid, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, nid) AS rn
      FROM scored
    ) WHERE rn <= 3
    """


@register("sim_ann_batch_query", oracle=_batch_query_oracle())
def sim_ann_batch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC batch-probes-index ANN — the serving shape
    `sim_ann_lsh_multiprobe`'s docstring describes and the 100 TB
    deployment actually runs: a SMALL query batch (here the
    deterministic vec_id % 97 == 0 slice, ~1% of the corpus — in
    production, the incoming request batch) multiprobes the persisted
    capped index (`_flat_index`, same md5-sampled <=C-per-bucket
    stored side as the symmetric ops). Join cost is
    |batch| * 9 probes * C — independent of corpus size on the probe
    axis and linear on the index axis; this is the
    `dedup_incremental_minhash` asymmetry applied to the embedding
    family. Exact milli-cosine re-rank, top-3 per query, exact DuckDB
    twin via the shared `_flat_lsh_sql` CTE."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    bucketed = _flat_bucketed(emb)
    index = _flat_index(bucketed)
    batch = bucketed.filter(F.col("vec_id") % 97 == 0)
    probes = batch.select(
        "vec_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(len(_PLANES))
                ],
            )
        ).alias("probe"),
    )
    cand = (
        probes.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
        .distinct()
    )
    qa = bucketed.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    qb = bucketed.select(
        F.col("vec_id").alias("nid"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cosine = pair_dot_udf()(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = cand.join(qa, "qid").join(qb, "nid").select(
        "qid", "nid", cosine.alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def _multiprobe_recall_oracle() -> str:
    return f"""
    WITH m0 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    mm AS (SELECT * FROM m0 WHERE vec_id < 300),
    {_flat_lsh_sql("mm")},
    probes AS (
      SELECT vec_id,
             CASE WHEN j = 0 THEN bucket
                  ELSE xor(bucket, CAST(1 << (j - 1) AS INT)) END AS probe
      FROM bucketed,
           LATERAL (SELECT unnest(generate_series(0, {len(_PLANES)})) AS j)
    ),
    cand_single AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid
      FROM bucketed a JOIN idx b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    cand_multi AS (
      SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
      FROM probes a JOIN idx b
        ON a.probe = b.bucket AND a.vec_id <> b.vec_id
    ),
    sc_s AS (
      SELECT c.qid, c.nid, {SQL_COS_AB} AS cosine
      FROM cand_single c
      JOIN mm a ON a.vec_id = c.qid JOIN mm b ON b.vec_id = c.nid
    ),
    sc_m AS (
      SELECT c.qid, c.nid, {SQL_COS_AB} AS cosine
      FROM cand_multi c
      JOIN mm a ON a.vec_id = c.qid JOIN mm b ON b.vec_id = c.nid
    ),
    nn_s AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid ASC) AS rn
        FROM sc_s
      ) WHERE rn = 1
    ),
    nn_m AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid ASC) AS rn
        FROM sc_m
      ) WHERE rn = 1
    ),
    exact_scored AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM mm a JOIN mm b ON a.vec_id <> b.vec_id
    ),
    exact_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid ASC) AS rn
        FROM exact_scored
      ) WHERE rn = 1
    )
    SELECT count(*) AS n_vecs,
           CAST(sum(CASE WHEN s.nid = e.nid THEN 1 ELSE 0 END) AS BIGINT)
             AS single_nn_match,
           CAST(sum(CASE WHEN mu.nid = e.nid THEN 1 ELSE 0 END) AS BIGINT)
             AS multi_nn_match,
           CAST(sum(CASE WHEN s.nid = e.nid THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS single_match_rate,
           CAST(sum(CASE WHEN mu.nid = e.nid THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS multi_match_rate
    FROM exact_nn e
    LEFT JOIN nn_s s ON e.qid = s.qid
    LEFT JOIN nn_m mu ON e.qid = mu.qid
    """


@register("sim_multiprobe_recall_audit", oracle=_multiprobe_recall_oracle())
def sim_multiprobe_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What does multiprobe's 9x probe fan-out BUY? On the bounded
    vec_id < 300 slice (the `sim_nn_recall_audit` sampling pattern),
    compare 1-NN agreement with exact all-pairs truth for single-probe
    flat LSH vs multiprobe, both over the SAME capped md5-sampled
    index (`_flat_index`) — so the only difference is the probe set,
    isolating exactly the knob `sim_ann_lsh_multiprobe` turns. Single
    row: (n_vecs, single_nn_match, multi_nn_match, single_match_rate,
    multi_match_rate); multiprobe must dominate single-probe at equal
    index size or the fan-out is wasted (tests/test_components.py pins
    the inequality). At 100 TB this runs on a hash-sampled slice to
    justify probe count before the corpus-wide pass, completing the
    audit family (nn / ivf / lsh / embedding recall audits)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300).select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    bucketed = _flat_bucketed(emb)
    index = _flat_index(bucketed)
    cand_single = (
        bucketed.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
    )
    probes = bucketed.select(
        "vec_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(len(_PLANES))
                ],
            )
        ).alias("probe"),
    )
    cand_multi = (
        probes.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
        .distinct()
    )
    qa = bucketed.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    qb = bucketed.select(
        F.col("vec_id").alias("nid"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cosine = pair_dot_udf()(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )

    def rank1(cand: DataFrame) -> DataFrame:
        scored = cand.join(qa, "qid").join(qb, "nid").select(
            "qid", "nid", cosine.alias("cosine")
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("cosine").desc(), F.col("nid").asc()
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("qid", "nid")
        )

    ab = bucketed.alias("a"), bucketed.alias("b")
    exact_cos = dot(F.col("a.v"), F.col("b.v")).cast("double") / (
        F.sqrt(F.col("a.n").cast("double")) * F.sqrt(F.col("b.n").cast("double"))
    )
    exact_scored = ab[0].join(
        ab[1], F.col("a.vec_id") != F.col("b.vec_id")
    ).select(
        F.col("a.vec_id").alias("qid"),
        F.col("b.vec_id").alias("nid"),
        exact_cos.alias("cosine"),
    )
    w1 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid").asc())
    exact_nn = (
        exact_scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("nid").alias("nid_exact"))
    )
    s = rank1(cand_single).select("qid", F.col("nid").alias("nid_s"))
    m = rank1(cand_multi).select("qid", F.col("nid").alias("nid_m"))
    hit_s = F.when(F.col("nid_s") == F.col("nid_exact"), 1).otherwise(0)
    hit_m = F.when(F.col("nid_m") == F.col("nid_exact"), 1).otherwise(0)
    return (
        exact_nn.join(s, "qid", "left")
        .join(m, "qid", "left")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(hit_s).alias("single_nn_match"),
            F.sum(hit_m).alias("multi_nn_match"),
            (F.sum(hit_s).cast("double") / F.count(F.lit(1))).alias(
                "single_match_rate"
            ),
            (F.sum(hit_m).cast("double") / F.count(F.lit(1))).alias(
                "multi_match_rate"
            ),
        )
    )


@register(
    "sim_topk_label_diversified",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, label, v FROM (
        SELECT vec_id, label,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    q AS (SELECT v AS qv FROM m WHERE vec_id = {_QUERY_VEC_ID}),
    scored AS (
      SELECT vec_id, label,
             CAST(list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM m, q
      WHERE vec_id <> {_QUERY_VEC_ID}
    ),
    capped AS (
      SELECT * FROM (
        SELECT vec_id, label, cosine,
               row_number() OVER (PARTITION BY label
                                  ORDER BY cosine DESC, vec_id) AS label_rank
        FROM scored
      ) WHERE label_rank <= 2
    )
    SELECT vec_id, label, cosine, CAST(label_rank AS INT) AS label_rank
    FROM capped
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)
def sim_topk_label_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k: global cosine top-10 for the fixed query
    under a PER-LABEL CAP of 2 — the standard result-diversification
    contract (search, retrieval-augmented sampling, dedup-aware
    curation) that plain top-k violates when one cluster dominates.
    The cap is a rank window, so unlike greedy MMR this diversifier is
    one-pass, deterministic, and order-independent.

    Plan shape: broadcast 1-row query, embarrassingly-parallel scoring
    scan, WindowGroupLimit keeps 2 rows per label BEFORE the exchange,
    and the global top-10 is TakeOrderedAndProject over the capped
    (tiny) survivor set — no global sort of the corpus anywhere."""
    # single-pass norm: computed once, reused by the zero-norm filter
    # and the cosine denominator (the sim_cosine_topk treatment)
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", milli_vec(F.col("embedding")).alias("v")
        )
        .withColumn("n", sq_norm(F.col("v")))
        .filter(F.col("n") > 0)
    )
    q = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("n").alias("qn")
    )
    cosine = dot(F.col("v"), F.col("qv")).cast("double") / (
        F.sqrt(F.col("n").cast("double"))
        * F.sqrt(F.col("qn").cast("double"))
    )
    w = Window.partitionBy("label").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select("vec_id", "label", cosine.alias("cosine"))
        .withColumn("label_rank", F.row_number().over(w))
        .filter(F.col("label_rank") <= 2)
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )


@register(
    "sim_flat_bucket_histogram",
    oracle=f"""
    WITH {_SQL_MILLI},
    {_flat_lsh_sql("m")},
    occs AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS occ
      FROM bucketed GROUP BY bucket
    )
    SELECT occ,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(*) * occ * (occ - 1) AS BIGINT) AS uncapped_pairs,
           CAST(count(*) * (occ - 1) * least(occ, {_MAX_INDEX_PER_BUCKET})
                AS BIGINT) AS capped_pairs,
           occ > {_MAX_INDEX_PER_BUCKET} AS over_cap
    FROM occs GROUP BY occ
    """,
)
def sim_flat_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy histogram of the FLAT 2^8-bucket index — the
    `sim_lsh_bucket_histogram` measurement applied to the single-table
    family the r5 cap targets (`sim_cosine_ann_lsh` /
    `sim_ann_lsh_multiprobe` / `sim_ann_batch_query`): per occupancy
    level, how many buckets, the ORDERED candidate pairs the uncapped
    self-join would emit (occ*(occ-1) per bucket), and what the capped
    md5-sampled index actually emits — exactly (occ-1)*min(occ, C)
    per bucket: each of occ probes meets min(occ, C) stored members,
    and the min(occ, C) sampled members each skip themselves. Run it
    before a corpus-wide ANN pass: the over_cap rows are where the cap
    binds, and uncapped vs capped pair mass is what it saves (SCALE.md
    §12). One tiny aggregate over the checkpointed signature frame."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    occs = _flat_bucketed(emb).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("occ")
    )
    capped = F.least(F.col("occ"), F.lit(_MAX_INDEX_PER_BUCKET))
    return occs.groupBy("occ").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (F.count(F.lit(1)) * F.col("occ") * (F.col("occ") - 1))
        .cast("long")
        .alias("uncapped_pairs"),
        (F.count(F.lit(1)) * (F.col("occ") - 1) * capped)
        .cast("long")
        .alias("capped_pairs"),
        (F.col("occ") > _MAX_INDEX_PER_BUCKET).alias("over_cap"),
    )


@register(
    "sim_lsh_bucket_histogram",
    oracle=f"""
    WITH {_SQL_MILLI},
    {banded_signature_sql("m")},
    occs AS (
      SELECT band, bucket, CAST(count(*) AS BIGINT) AS occ
      FROM banded GROUP BY band, bucket
    )
    SELECT occ,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(*) * occ * (occ - 1) / 2 AS BIGINT) AS cand_pairs,
           occ > {_MAX_BUCKET_OCCUPANCY} AS over_cap
    FROM occs GROUP BY occ
    """,
)
def sim_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-occupancy histogram: for each occupancy level, how
    many (band, bucket) cells hold that many vectors, the candidate
    pairs those cells would emit (n_buckets * occ*(occ-1)/2), and
    whether the hot-bucket cap diverts them to star-link edges
    (`banded_lsh_pairs`' r5 hot-bucket fallback) — the operational
    measurement behind `banded_lsh_pairs`' cap (SCALE.md §11): run it
    BEFORE a corpus-wide near-dup pass to see where the candidate mass
    sits and whether signature width or the cap needs retuning. One
    tiny aggregate over the shared signature table (3 small ints per
    row); the pair arithmetic is exact integers (occ*(occ-1) is even,
    so the halving division is exact in both engines)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    occs = (
        banded_signature_table(emb)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return occs.groupBy("occ").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (F.count(F.lit(1)) * F.col("occ") * (F.col("occ") - 1) / 2)
        .cast("long")
        .alias("cand_pairs"),
        (F.col("occ") > _MAX_BUCKET_OCCUPANCY).alias("over_cap"),
    )


@register("sim_ann_index_persist_probe", oracle=_batch_query_oracle())
def sim_ann_index_persist_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD-ONCE / PROBE-MANY ANN serving, proven end-to-end (r6,
    VERDICT r5 task 3): the capped `_flat_index` is WRITTEN to a
    parquet sink partitioned by bucket, READ BACK as an independent
    scan, and probed with the same deterministic ~1% query batch as
    [[sim_ann_batch_query]] — same oracle, so the round-tripped index
    is hash-checked identical to the in-query (`localCheckpoint`)
    form. This turns the batch query's docstring claim ("the persisted
    capped index") into tested behavior: at 100 TB the index is built
    nightly by one job and probed all day by others, and this query IS
    that shape at test scale.

    Layout choice: `partitionBy("bucket")` gives one directory per
    8-bit signature bucket, so a probe of B distinct buckets reads
    only those directories — partition pruning does for the bucket
    key what no row-group statistic could (bucket values are
    uniformly interleaved within any un-partitioned file). The probe
    side is |batch| * 9 exploded rows — broadcast by size — and join
    cost is |batch| * 9 * C, independent of corpus size on the probe
    axis, linear on the index axis."""
    import hashlib

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", milli_vec(F.col("embedding")).alias("v")
    ).transform(nonzero_milli)
    bucketed = _flat_bucketed(emb)
    # per-invocation nonce (pid + counter) in the index path: with a
    # path keyed only by sf_dir, a later overwrite could yank files
    # out from under an earlier invocation's still-lazy result
    # DataFrame (stale-file reads). Each invocation gets its own
    # directory, BOUNDED two ways (ADVICE r7 — repeated bench/
    # differential runs otherwise accumulate dirs without limit):
    # this process's dirs are rmtree'd at exit (atexit, by which time
    # no lazy result can still need them), and dirs whose embedded
    # creator pid is dead are swept at entry (never touches a LIVE
    # concurrent process's dirs).
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    index_dir = _INDEX_DIRS.new_dir(tag)
    # build phase: the nightly index job
    _flat_index(bucketed).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(index_dir)
    # probe phase: an independent scan of the persisted index
    index = spark.read.parquet(index_dir)
    batch = bucketed.filter(F.col("vec_id") % 97 == 0)
    probes = batch.select(
        "vec_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(len(_PLANES))
                ],
            )
        ).alias("probe"),
    )
    cand = (
        F.broadcast(probes.alias("a"))
        .join(
            index.alias("b"),
            (F.col("a.probe") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("qid"), F.col("b.vec_id").alias("nid"))
        .distinct()
    )
    qa = bucketed.select(
        F.col("vec_id").alias("qid"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    qb = bucketed.select(
        F.col("vec_id").alias("nid"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cosine = pair_dot_udf()(F.col("va"), F.col("vb")).cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    scored = cand.join(qa, "qid").join(qb, "nid").select(
        "qid", "nid", cosine.alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


_PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE = 8, 8, 16, 300


def _pq_adc_oracle() -> str:
    S, D, K, CAP = _PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE
    return f"""
    WITH m0 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    mm AS MATERIALIZED (SELECT * FROM m0 WHERE vec_id < {CAP}),
    anchors AS (
      SELECT vec_id, v, row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
      FROM mm QUALIFY cid <= {K}
    ),
    codebook AS MATERIALIZED (
      SELECT s.s, a.cid, list_slice(a.v, s.s * {D} + 1, s.s * {D} + {D}) AS c
      FROM anchors a,
           LATERAL (SELECT unnest(generate_series(0, {S - 1})) AS s) s
    ),
    dists AS (
      SELECT m.vec_id, cb.s, cb.cid,
             list_sum(list_transform(range(1, {D + 1}),
               d -> (m.v[cb.s * {D} + d] - cb.c[d])
                    * (m.v[cb.s * {D} + d] - cb.c[d]))) AS sse
      FROM mm m, codebook cb
    ),
    codes AS (
      SELECT vec_id, s, cid, sse FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY sse, cid) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    recon AS MATERIALIZED (
      SELECT co.vec_id,
             flatten(list(cb.c ORDER BY co.s)) AS r,
             sum(co.sse) AS vec_sse
      FROM codes co
      JOIN codebook cb ON cb.s = co.s AND cb.cid = co.cid
      GROUP BY co.vec_id
    ),
    adc AS (
      SELECT q.vec_id AS qid, r.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> q.v[i] * r.r[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(q.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(r.r, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM mm q JOIN recon r ON q.vec_id <> r.vec_id
    ),
    pq_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM adc
      ) WHERE rn = 1
    ),
    exact AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM mm a JOIN mm b ON a.vec_id <> b.vec_id
    ),
    exact_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM exact
      ) WHERE rn = 1
    )
    SELECT (SELECT count(*) FROM mm) AS n_vecs,
           (SELECT CAST(sum(vec_sse) AS BIGINT) FROM recon) AS total_sse,
           CAST(sum(CASE WHEN p.nid = e.nid THEN 1 ELSE 0 END) AS BIGINT)
             AS pq_nn_match,
           CAST(sum(CASE WHEN p.nid = e.nid THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS match_rate
    FROM exact_nn e
    LEFT JOIN pq_nn p ON p.qid = e.qid
    """


@register("sim_pq_adc_recall_audit", oracle=_pq_adc_oracle())
def sim_pq_adc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION with asymmetric-distance scoring (ADC) —
    the MEMORY tier of the ANN ladder, audited like every other
    approximation in the registry. LSH/IVF bound who you COMPARE
    against; PQ bounds what you STORE: each vector is replaced by
    8 sub-space codes (8 dims each, 16 centroids -> 4 bits/sub-space,
    = 8 bytes/vector vs 512 for raw milli int64s, a 64x compression),
    and queries score candidates against RECONSTRUCTED vectors while
    staying exact on the query side (the classic ADC asymmetry:
    quantize the corpus once, never the query). At 100 TB the codes +
    one 128-row codebook fit where raw vectors cannot, and this audit
    is the standing price tag: top-1 agreement with exact cosine and
    the total integer quantization error, on the same bounded slice
    as the other exact audits.

    Determinism without k-means: centroids are the sub-vectors of the
    16 md5-ordered anchor vectors (the same deterministic-draw device
    as `_flat_index` / `sim_label_contrast`) — engine-portable, no
    iterative training state, and exactly mirrored in the DuckDB twin
    (row_number over the identical md5 order). The anchor fetch is a
    TakeOrdered(16) + driver-side collect of 16 rows (bounded by
    construction — the documented small-collect class), which avoids
    the unpartitioned-window anti-pattern a distributed global
    row_number would plan; the 128-row codebook then BROADCASTS into
    the assignment join. All distances and reconstructions are exact
    int64 (SSE argmin with (sse, cid) tie-break; flatten of chosen
    centroids); the one double appears in the final cosine division,
    identical in both engines.

    Measured at sf0.1: top-1 agreement 12.3% (37/300) with total SSE
    221.3M milli-units^2 — an UNTRAINED anchor codebook on
    near-isotropic vectors compresses poorly, and the audit says so
    instead of hiding it. The "train before trusting" follow-up is now
    registered: [[sim_pq_train_loop_audit]] runs the bounded k-means
    sweep (exactly oracled per round) and [[sim_pq_trained_adc_audit]]
    re-runs THIS protocol on the trained codebook (17.0% / SSE -30% at
    sf0.1); this untrained form stays registered as the baseline side
    of that pair."""
    S, D, K, CAP = _PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE
    mm = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < CAP)
        .select("vec_id", milli_vec(F.col("embedding")).alias("v"))
        .transform(nonzero_milli)
        .localCheckpoint()
    )
    anchor_rows = (
        mm.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(K)
        .collect()
    )
    codebook = spark.createDataFrame(
        [
            (s, cid, [int(x) for x in row.v[s * D : s * D + D]])
            for cid, row in enumerate(anchor_rows, start=1)
            for s in range(S)
        ],
        schema="s int, cid int, c array<bigint>",
    )
    # r11: same zero-exchange Arrow kernels as the trained audit —
    # one `_pq_encode` pass (assign + reconstruct + per-vector SSE)
    # and two matmul top-1 compares; arithmetic unchanged
    recon = _pq_encode(mm, codebook).localCheckpoint()
    queries = mm.select(F.col("vec_id").alias("qid"), F.col("v").alias("vq"))
    pq_nn = _cosine_topk_pairs(
        queries,
        recon.select(F.col("vec_id").alias("nid"), F.col("r").alias("vr")),
        1,
    ).select("qid", F.col("nid").alias("pq_nid"))
    exact_nn = _cosine_topk_pairs(
        queries,
        mm.select(F.col("vec_id").alias("nid"), F.col("v").alias("vr")),
        1,
    ).select("qid", F.col("nid").alias("exact_nid"))
    stats = recon.agg(
        F.sum("vec_sse").cast("long").alias("total_sse"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    return (
        exact_nn.join(pq_nn, "qid", "left")
        .agg(
            F.sum(
                (F.col("pq_nid") == F.col("exact_nid")).cast("long")
            ).alias("pq_nn_match"),
            F.count(F.lit(1)).alias("n_q"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "n_vecs",
            "total_sse",
            "pq_nn_match",
            (
                F.col("pq_nn_match").cast("double") / F.col("n_q")
            ).alias("match_rate"),
        )
    )


def _pq_lloyd_oracle() -> str:
    S, D, K, CAP = _PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE
    return f"""
    WITH m0 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    mm AS MATERIALIZED (SELECT * FROM m0 WHERE vec_id < {CAP}),
    anchors AS (
      SELECT vec_id, v, row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
      FROM mm QUALIFY cid <= {K}
    ),
    cb0 AS MATERIALIZED (
      SELECT s.s, a.cid, list_slice(a.v, s.s * {D} + 1, s.s * {D} + {D}) AS c
      FROM anchors a,
           LATERAL (SELECT unnest(generate_series(0, {S - 1})) AS s) s
    ),
    d0 AS (
      SELECT m.vec_id, cb.s, cb.cid,
             list_sum(list_transform(range(1, {D + 1}),
               d -> (m.v[cb.s * {D} + d] - cb.c[d])
                    * (m.v[cb.s * {D} + d] - cb.c[d]))) AS sse
      FROM mm m, cb0 cb
    ),
    codes0 AS MATERIALIZED (
      SELECT vec_id, s, cid, sse FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY sse, cid) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    -- Lloyd update: per (s, cid, dim) exact integer sums over the
    -- assigned sub-vectors, TRUNC-division (both engines' % is the
    -- C-style trunc remainder, so (sum - sum % n) / n is exact and
    -- portable even for negative sums)
    dimsums AS (
      SELECT c0.s, c0.cid, dd.d,
             sum(m.v[c0.s * {D} + dd.d]) AS sm,
             count(*) AS n
      FROM codes0 c0
      JOIN mm m ON m.vec_id = c0.vec_id,
           LATERAL (SELECT unnest(generate_series(1, {D})) AS d) dd
      GROUP BY c0.s, c0.cid, dd.d
    ),
    cb1 AS MATERIALIZED (
      SELECT cb0.s, cb0.cid,
             coalesce(u.c, cb0.c) AS c
      FROM cb0
      LEFT JOIN (
        SELECT s, cid,
               list((sm - sm % n) // n ORDER BY d) AS c
        FROM dimsums GROUP BY s, cid
      ) u ON u.s = cb0.s AND u.cid = cb0.cid
    ),
    d1 AS (
      SELECT m.vec_id, cb.s, cb.cid,
             list_sum(list_transform(range(1, {D + 1}),
               d -> (m.v[cb.s * {D} + d] - cb.c[d])
                    * (m.v[cb.s * {D} + d] - cb.c[d]))) AS sse
      FROM mm m, cb1 cb
    ),
    codes1 AS (
      SELECT vec_id, s, sse FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY sse, cid) AS rn
        FROM d1
      ) WHERE rn = 1
    )
    SELECT (SELECT count(*) FROM mm) AS n_vecs,
           (SELECT CAST(sum(sse) AS BIGINT) FROM codes0) AS sse_anchor,
           (SELECT CAST(sum(sse) AS BIGINT) FROM codes1) AS sse_lloyd1,
           CAST((SELECT sum(sse) FROM codes1) AS DOUBLE)
             / (SELECT sum(sse) FROM codes0) AS sse_ratio
    """


@register("sim_pq_lloyd_step_audit", oracle=_pq_lloyd_oracle())
def sim_pq_lloyd_step_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE DETERMINISTIC LLOYD STEP for the PQ codebook — what
    [[sim_pq_adc_recall_audit]]'s "train before trusting" note looks
    like as an executable, exactly-oracled iteration: assign every
    sub-vector to its nearest anchor centroid (the same exact-integer
    argmin), recompute each centroid as the TRUNC-AVERAGE of its
    assigned sub-vectors (exact and engine-portable:
    (sum - sum % n) / n — both engines' % is the C-style trunc
    remainder, so no float ever enters the update), re-assign, and
    report total SSE before/after. k-means' monotone-improvement
    property makes the contract self-checking: sse_lloyd1 <
    sse_anchor on any non-degenerate input, and the ratio is the
    measured value of one training sweep (empty cells keep their old
    centroid, the standard Lloyd convention). The full training loop
    is this step iterated — at scale each sweep is one zero-exchange
    Arrow argmin pass + one groupBy, embarrassingly parallel over
    vectors —
    now registered as [[sim_pq_train_loop_audit]] (_PQ_ROUNDS sweeps,
    per-round SSE as data) with [[sim_pq_trained_adc_audit]] re-running
    the ADC recall protocol on the trained codebook."""
    S, D, K, CAP = _PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE
    mm = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < CAP)
        .select("vec_id", milli_vec(F.col("embedding")).alias("v"))
        .transform(nonzero_milli)
        .localCheckpoint()
    )
    anchor_rows = (
        mm.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(K)
        .collect()
    )
    cb0 = spark.createDataFrame(
        [
            (s, cid, [int(x) for x in row.v[s * D : s * D + D]])
            for cid, row in enumerate(anchor_rows, start=1)
            for s in range(S)
        ],
        schema="s int, cid int, c array<bigint>",
    )
    sub = F.slice(F.col("v"), F.col("s") * D + 1, D)
    # r11: assignment via the shared zero-exchange Arrow argmin kernel
    # (`_pq_assign`) instead of the broadcast crossjoin + window form
    assign = lambda codebook: _pq_assign(mm, codebook)  # noqa: E731

    codes0 = assign(cb0).localCheckpoint()
    dimsums = (
        codes0.join(mm, "vec_id")
        .select("s", "cid", F.posexplode(sub).alias("dm1", "val"))
        .groupBy("s", "cid", "dm1")
        .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("n"))
    )
    trunc_avg = ((F.col("sm") - F.col("sm") % F.col("n")) / F.col("n")).cast(
        "long"
    )
    updated = (
        dimsums.select("s", "cid", "dm1", trunc_avg.alias("cv"))
        .groupBy("s", "cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dm1"), F.col("cv")))
                ),
                lambda x: x.getField("cv"),
            ).alias("c_new")
        )
    )
    cb1 = (
        cb0.join(updated, ["s", "cid"], "left")
        .select("s", "cid", F.coalesce("c_new", "c").alias("c"))
        .localCheckpoint()
    )
    codes1 = assign(cb1)
    t0 = codes0.agg(
        F.sum("sse").cast("long").alias("sse_anchor"),
    )
    t1 = codes1.agg(F.sum("sse").cast("long").alias("sse_lloyd1"))
    nv = mm.agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        nv.crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            "n_vecs",
            "sse_anchor",
            "sse_lloyd1",
            (
                F.col("sse_lloyd1").cast("double") / F.col("sse_anchor")
            ).alias("sse_ratio"),
        )
    )


def _ivfpq_oracle() -> str:
    S, D, K, CAP = _PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE
    return f"""
    WITH m0 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    mm AS MATERIALIZED (SELECT * FROM m0 WHERE vec_id < {CAP}),
    cents AS (SELECT vec_id AS ccid, v AS cv FROM mm WHERE vec_id < 8),
    q AS (SELECT v AS qv FROM mm WHERE vec_id = 0),
    assign_pairs AS (
      SELECT m.vec_id, c.ccid, m.v, c.cv,
             CAST(list_sum(list_transform(range(1, 65), i -> m.v[i] * c.cv[i]))
                  AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(m.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(c.cv, x -> x * x)) AS DOUBLE)))
               AS cos_c
      FROM mm m, cents c
    ),
    resid AS MATERIALIZED (
      SELECT vec_id, ccid AS cell, v, cv,
             list_transform(range(1, 65), i -> v[i] - cv[i]) AS r
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY cos_c DESC, ccid) AS rn
        FROM assign_pairs
      ) WHERE rn = 1
    ),
    anchors AS (
      SELECT vec_id, r, row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
      FROM resid QUALIFY cid <= {K}
    ),
    codebook AS MATERIALIZED (
      SELECT s.s, a.cid, list_slice(a.r, s.s * {D} + 1, s.s * {D} + {D}) AS c
      FROM anchors a,
           LATERAL (SELECT unnest(generate_series(0, {S - 1})) AS s) s
    ),
    dists AS (
      SELECT m.vec_id, cb.s, cb.cid,
             list_sum(list_transform(range(1, {D + 1}),
               d -> (m.r[cb.s * {D} + d] - cb.c[d])
                    * (m.r[cb.s * {D} + d] - cb.c[d]))) AS sse
      FROM resid m, codebook cb
    ),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY sse, cid) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    recon AS MATERIALIZED (
      SELECT co.vec_id, flatten(list(cb.c ORDER BY co.s)) AS rr
      FROM codes co
      JOIN codebook cb ON cb.s = co.s AND cb.cid = co.cid
      GROUP BY co.vec_id
    ),
    recon_v AS (
      SELECT re.vec_id, re.cell, re.v,
             list_transform(range(1, 65), i -> re.cv[i] + r.rr[i]) AS rv
      FROM recon r JOIN resid re ON r.vec_id = re.vec_id
    ),
    probe AS (
      SELECT ccid AS cell FROM (
        SELECT c.ccid,
               row_number() OVER (ORDER BY
                 CAST(list_sum(list_transform(range(1, 65), i -> cv[i] * qv[i]))
                      AS DOUBLE)
                 / (sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))
                    * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
                 DESC, c.ccid) AS rn
        FROM cents c, q
      ) WHERE rn <= 2
    )
    SELECT rv0.vec_id, rv0.cell,
           CAST(list_sum(list_transform(range(1, 65), i -> rv[i] * qv[i]))
                AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(rv, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
             AS adc_cosine,
           CAST(list_sum(list_transform(range(1, 65), i -> rv0.v[i] * qv[i]))
                AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(rv0.v, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)))
             AS exact_cosine
    FROM recon_v rv0
    JOIN probe ON rv0.cell = probe.cell, q
    WHERE rv0.vec_id <> 0
    ORDER BY adc_cosine DESC, rv0.vec_id
    LIMIT 10
    """


@register("sim_cosine_ann_ivfpq", oracle=_ivfpq_oracle())
def sim_cosine_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the composed serving shape that
    ties the ANN ladder together: the inverted file bounds who you
    COMPARE against ([[sim_cosine_ann_ivf]]'s cells, nprobe=2), and
    product quantization bounds what you STORE
    ([[sim_pq_adc_recall_audit]]'s 8x8 sub-space codes) — but coding
    the RESIDUAL v - centroid(cell) instead of the raw vector, the
    classic IVFADC refinement: residuals concentrate near zero once
    the coarse quantizer explains cell-level structure, so the same
    16-entry codebook spends its codes on a tighter distribution.
    Candidates are scored asymmetrically (exact query vs reconstructed
    centroid + decoded residual), and each hit reports BOTH the ADC
    cosine and the true cosine, so the re-rank gap the code
    approximation costs is visible inline rather than only in a
    separate audit.

    All quantization arithmetic is exact int64 (residual subtraction,
    SSE argmin with (sse, cid) tie-break, centroid re-addition); the
    doubles appear only in the final cosine divisions, identical in
    the DuckDB twin. The codebook is the 16 md5-ordered anchor
    RESIDUALS (deterministic-draw device shared with the PQ audits;
    train with [[sim_pq_lloyd_step_audit]]'s sweep before trusting at
    scale). Scale shape: assignment and encoding are one Arrow map
    pass each with the bounded codebooks in the task closure
    (embarrassingly parallel over vectors, the IVF-PQ build everyone
    ships — r12: the two broadcast crossjoins + window argmins are
    replaced by `_cent_assign_topn`'s residual variant and
    `_pq_encode`, the r11 PQ kernels; the probe cells are decided on
    the driver from the 8-row centroid + 1-row query collects); the
    probe touches only nprobe/k of the corpus and scores against
    8-byte codes, not raw vectors. Bounded slice (vec_id < 300) keeps
    the all-pairs oracle cheap, matching the other PQ audits."""
    S, D, K, CAP = _PQ_SUBS, _PQ_DIMS, _PQ_K, _PQ_SLICE
    mm = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < CAP)
        .select("vec_id", milli_vec(F.col("embedding")).alias("v"))
        .transform(nonzero_milli)
        .localCheckpoint()
    )
    cids, Cm, cnorm = _cent_arrays(
        mm.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv")
        )
    )
    qrows = _bounded_rows(
        mm.filter(F.col("vec_id") == _QUERY_VEC_ID).select("v"),
        4,
        "sim_cosine_ann_ivfpq query",
    )
    out_schema = (
        "vec_id long, cell bigint, adc_cosine double, exact_cosine double"
    )
    if len(cids) == 0 or not qrows:
        return spark.createDataFrame([], out_schema)
    qv = np.array(list(qrows[0]["v"]), dtype=np.int64)
    qn = np.sqrt(float((qv * qv).sum()))
    probe_cos = (Cm @ qv).astype(np.float64) / (cnorm * qn)
    probe_cells = [int(c) for c in cids[np.argsort(-probe_cos, kind="stable")[:2]]]

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            vn = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            assert vn.all(), "zero-norm corpus vector (NaN cosine)"
            cos_c = (V @ Cm.T).astype(np.float64) / (
                vn[:, None] * cnorm[None, :]
            )
            j = cos_c.argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": cids[j],
                    "cent_cos": cos_c[np.arange(len(pdf)), j],
                    "v": pdf["v"].to_numpy(),
                    "r": list(V - Cm[j]),
                }
            )

    # per-vec_id max_by pools duplicated ids to the old window's one
    # winner (same reduction as `_cent_assign_argmax`)
    resid = (
        mm.mapInPandas(
            assign,
            "vec_id long, cell bigint, cent_cos double, "
            "v array<bigint>, r array<bigint>",
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(F.struct("cell", "v", "r"), _argmax_ord()).alias("_w")
        )
        .select("vec_id", "_w.cell", "_w.v", "_w.r")
        .localCheckpoint()
    )
    anchor_rows = (
        resid.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(K)
        .collect()
    )
    codebook = spark.createDataFrame(
        [
            (s, cid, [int(x) for x in row.r[s * D : s * D + D]])
            for cid, row in enumerate(anchor_rows, start=1)
            for s in range(S)
        ],
        schema="s int, cid int, c array<bigint>",
    )
    recon = _pq_encode(
        resid.select("vec_id", F.col("r").alias("v")), codebook
    ).select("vec_id", F.col("r").alias("rr"))
    # rv = cv + rr with cv = v - r (exact ints), so cv need not ride
    # through the kernels: rv = (v - r) + rr
    recon_v = recon.join(resid.select("vec_id", "cell", "v", "r"), "vec_id").select(
        "vec_id",
        "cell",
        "v",
        F.zip_with(
            F.zip_with(F.col("v"), F.col("r"), lambda x, y: x - y),
            F.col("rr"),
            lambda x, y: x + y,
        ).alias("rv"),
    )
    q = mm.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )

    def _cos(a, b):
        return dot(a, b).cast("double") / (
            F.sqrt(sq_norm(a).cast("double")) * F.sqrt(sq_norm(b).cast("double"))
        )

    return (
        recon_v.filter(F.col("cell").isin(probe_cells))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .select(
            "vec_id",
            "cell",
            _cos(F.col("rv"), F.col("qv")).alias("adc_cosine"),
            _cos(F.col("v"), F.col("qv")).alias("exact_cosine"),
        )
        .orderBy(F.col("adc_cosine").desc(), "vec_id")
        .limit(10)
    )


_PQ_ROUNDS = 6  # trained-codebook Lloyd sweeps (ratio flattens by ~6)


def _pq_round_sql(i: int) -> str:
    """One Lloyd round as CTE text: assign to ``cb{i}``, recompute
    centroids as exact trunc-averages, emit ``cb{i+1}`` — the same
    per-round SQL `_pq_lloyd_oracle` proves for a single step, chained
    by index so `_pq_trained_*` oracles can iterate it."""
    S, D = _PQ_SUBS, _PQ_DIMS
    return f"""
    d{i} AS (
      SELECT m.vec_id, cb.s, cb.cid,
             list_sum(list_transform(range(1, {D + 1}),
               d -> (m.v[cb.s * {D} + d] - cb.c[d])
                    * (m.v[cb.s * {D} + d] - cb.c[d]))) AS sse
      FROM mm m, cb{i} cb
    ),
    codes{i} AS MATERIALIZED (
      SELECT vec_id, s, cid, sse FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY sse, cid) AS rn
        FROM d{i}
      ) WHERE rn = 1
    ),
    dimsums{i} AS (
      SELECT c0.s, c0.cid, dd.d,
             sum(m.v[c0.s * {D} + dd.d]) AS sm,
             count(*) AS n
      FROM codes{i} c0
      JOIN mm m ON m.vec_id = c0.vec_id,
           LATERAL (SELECT unnest(generate_series(1, {D})) AS d) dd
      GROUP BY c0.s, c0.cid, dd.d
    ),
    cb{i + 1} AS MATERIALIZED (
      SELECT cb.s, cb.cid, coalesce(u.c, cb.c) AS c
      FROM cb{i} cb
      LEFT JOIN (
        SELECT s, cid,
               list((sm - sm % n) // n ORDER BY d) AS c
        FROM dimsums{i} GROUP BY s, cid
      ) u ON u.s = cb.s AND u.cid = cb.cid
    )"""


def _pq_chain_prefix_sql(
    rounds: int, k: int | None = None, cap: int | None = None
) -> str:
    """CTE text from raw embeddings through ``cb{rounds}`` and the
    final assignment ``codes{rounds}``: the md5-anchor cb0 plus
    `rounds` chained Lloyd updates. ``k``/``cap`` override the toy
    codebook size / training-slice bound (the code-budget audit runs
    the same chain at K=64 — r9, VERDICT r8 task 2)."""
    S, D = _PQ_SUBS, _PQ_DIMS
    K = _PQ_K if k is None else k
    CAP = _PQ_SLICE if cap is None else cap
    head = f"""
    WITH m0 AS (
      SELECT vec_id, v FROM (
        SELECT vec_id,
                    list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings
      ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    mm AS MATERIALIZED (SELECT * FROM m0 WHERE vec_id < {CAP}),
    anchors AS (
      SELECT vec_id, v, row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
      FROM mm QUALIFY cid <= {K}
    ),
    cb0 AS MATERIALIZED (
      SELECT s.s, a.cid, list_slice(a.v, s.s * {D} + 1, s.s * {D} + {D}) AS c
      FROM anchors a,
           LATERAL (SELECT unnest(generate_series(0, {S - 1})) AS s) s
    ),"""
    body = ",".join(_pq_round_sql(i) for i in range(rounds))
    tail = f""",
    dF AS (
      SELECT m.vec_id, cb.s, cb.cid,
             list_sum(list_transform(range(1, {D + 1}),
               d -> (m.v[cb.s * {D} + d] - cb.c[d])
                    * (m.v[cb.s * {D} + d] - cb.c[d]))) AS sse
      FROM mm m, cb{rounds} cb
    ),
    codes{rounds} AS MATERIALIZED (
      SELECT vec_id, s, cid, sse FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s
                    ORDER BY sse, cid) AS rn
        FROM dF
      ) WHERE rn = 1
    )"""
    return head + body + tail


def _pq_train_loop_oracle() -> str:
    R = _PQ_ROUNDS
    rows = "\n    UNION ALL ".join(
        f"SELECT {i} AS round, CAST(sum(sse) AS BIGINT) AS sse FROM codes{i}"
        for i in range(R + 1)
    )
    return _pq_chain_prefix_sql(R) + "\n    " + rows


def _pq_trained_adc_oracle() -> str:
    R = _PQ_ROUNDS
    return (
        _pq_chain_prefix_sql(R)
        + f""",
    recon AS MATERIALIZED (
      SELECT co.vec_id,
             flatten(list(cb.c ORDER BY co.s)) AS r,
             sum(co.sse) AS vec_sse
      FROM codes{R} co
      JOIN cb{R} cb ON cb.s = co.s AND cb.cid = co.cid
      GROUP BY co.vec_id
    ),
    adc AS (
      SELECT q.vec_id AS qid, r.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> q.v[i] * r.r[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(q.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(r.r, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM mm q JOIN recon r ON q.vec_id <> r.vec_id
    ),
    pq_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM adc
      ) WHERE rn = 1
    ),
    exact AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM mm a JOIN mm b ON a.vec_id <> b.vec_id
    ),
    exact_nn AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM exact
      ) WHERE rn = 1
    )
    SELECT (SELECT count(*) FROM mm) AS n_vecs,
           (SELECT CAST(sum(vec_sse) AS BIGINT) FROM recon) AS total_sse,
           CAST(sum(CASE WHEN p.nid = e.nid THEN 1 ELSE 0 END) AS BIGINT)
             AS pq_nn_match,
           CAST(sum(CASE WHEN p.nid = e.nid THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS match_rate
    FROM exact_nn e
    LEFT JOIN pq_nn p ON p.qid = e.qid
    """
    )


def _pq_mm(
    spark: SparkSession, sf_dir: str, cap: int | None = None
) -> DataFrame:
    """The PQ audits' shared bounded slice: milli-int vectors with
    vec_id < _PQ_SLICE (or ``cap``), checkpointed (it anchors every
    training round and both sides of the recall compare)."""
    return (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < (_PQ_SLICE if cap is None else cap))
        .select("vec_id", milli_vec(F.col("embedding")).alias("v"))
        .transform(nonzero_milli)
        .localCheckpoint()
    )


def _pq_anchor_codebook(
    spark: SparkSession, mm: DataFrame, k: int | None = None
) -> DataFrame:
    """cb0: sub-vectors of the K md5-ordered anchors (default the toy
    _PQ_K=16; the code-budget audit passes 64). TakeOrdered(K) +
    bounded driver collect (the documented small-collect class)."""
    S, D = _PQ_SUBS, _PQ_DIMS
    K = _PQ_K if k is None else k
    anchor_rows = (
        mm.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(K)
        .collect()
    )
    return spark.createDataFrame(
        [
            (s, cid, [int(x) for x in row.v[s * D : s * D + D]])
            for cid, row in enumerate(anchor_rows, start=1)
            for s in range(S)
        ],
        schema="s int, cid int, c array<bigint>",
    )


def _bounded_rows(df: DataFrame, bound: int, what: str) -> list:
    """Guarded driver-side collect for the kernel constants (the
    documented small-collect class): fetches at most ``bound + 1``
    rows and raises instead of silently pulling an unbounded frame
    onto the driver (r12, VERDICT r11 task 2 — every caller is
    bounded by construction today; this makes a future unbounded
    caller fail loudly rather than OOM the driver, guide §5)."""
    rows = df.limit(bound + 1).collect()
    if len(rows) > bound:
        raise ValueError(
            f"{what}: more than {bound} rows — this helper collects "
            f"its input to the driver and is only safe for frames "
            f"bounded by construction (guide §5); pre-slice the input"
        )
    return rows


# collect bounds for the kernel constants: the codebook is K x S rows
# (<= 64 x 8 at the production code budget), the stored/centroid sides
# are capped by _PQ_BUDGET_CAP / the IVF K at every call site.
_CODEBOOK_COLLECT_BOUND = 512
_STORED_COLLECT_BOUND = 1000


def _codebook_arrays(codebook: DataFrame) -> dict:
    """Driver-side {s: (cids, C)} numpy view of a codebook frame —
    bounded by K x _PQ_SUBS rows (<= 512 at the production code
    budget; the documented small-collect class, same bound as
    `_pq_anchor_codebook`'s collect, now ENFORCED via `_bounded_rows`).
    Centroid rows are sorted by cid ascending so numpy argmin's
    first-match IS the (sse, cid) tie-break the window form used."""
    by_s: dict = {}
    for r in _bounded_rows(
        codebook, _CODEBOOK_COLLECT_BOUND, "_codebook_arrays"
    ):
        by_s.setdefault(r["s"], []).append((r["cid"], list(r["c"])))
    out = {}
    for s, lst in by_s.items():
        lst.sort()
        out[s] = (
            np.array([cid for cid, _ in lst], dtype=np.int64),
            np.array([c for _, c in lst], dtype=np.int64),
        )
    return out


def _pq_assign(mm: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, s, cid, sse): nearest centroid per sub-space, exact
    integer argmin with (sse, cid) tie-break.

    r11 OPTIMIZED (guide §2.4, §4.2): one Arrow `mapInPandas` pass
    with the codebook as a task-local numpy constant replaces the
    broadcast crossjoin + window argmin — the old plan materialized
    |mm| x K x _PQ_SUBS rows and shuffled them into a per-(vec, s)
    window sort; the new plan is a single map stage with ZERO
    exchanges (the argmin runs as one einsum per batch inside the
    scan task). Arithmetic unchanged: exact int64 SSE, ties to the
    lowest cid (codebook rows sorted by cid; numpy argmin returns the
    first minimum). Still embarrassingly parallel over vectors — at
    100 TB the corpus streams through map tasks and the K x 8
    codebook (<= 512 rows) rides in the task closure."""
    S, D = _PQ_SUBS, _PQ_DIMS
    cb = _codebook_arrays(codebook)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            vid = pdf["vec_id"].to_numpy()
            rows = np.arange(len(vid))
            outs = []
            for s in range(S):
                cids, C = cb[s]
                d = V[:, s * D : (s + 1) * D][:, None, :] - C[None, :, :]
                sse = np.einsum("bkd,bkd->bk", d, d)
                j = sse.argmin(axis=1)
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_id": vid,
                            "s": np.full(len(vid), s, dtype=np.int32),
                            "cid": cids[j].astype(np.int32),
                            "sse": sse[rows, j],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return mm.select("vec_id", "v").mapInPandas(
        assign, "vec_id long, s int, cid int, sse long"
    )


def _pq_encode(mm: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, r, vec_sse): every corpus vector reconstructed from
    its nearest sub-space centroids + its total quantization SSE, in
    ONE Arrow map pass (r11: replaces assign -> broadcast join-back ->
    collect_list/groupBy shuffle — same exact arithmetic as
    `_pq_assign`, zero exchanges)."""
    S, D = _PQ_SUBS, _PQ_DIMS
    cb = _codebook_arrays(codebook)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            B = len(pdf)
            rows = np.arange(B)
            rec = np.empty((B, S * D), dtype=np.int64)
            tot = np.zeros(B, dtype=np.int64)
            for s in range(S):
                _, C = cb[s]
                d = V[:, s * D : (s + 1) * D][:, None, :] - C[None, :, :]
                sse = np.einsum("bkd,bkd->bk", d, d)
                j = sse.argmin(axis=1)
                rec[:, s * D : (s + 1) * D] = C[j]
                tot += sse[rows, j]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "r": list(rec),
                    "vec_sse": tot,
                }
            )

    return mm.select("vec_id", "v").mapInPandas(
        encode, "vec_id long, r array<bigint>, vec_sse long"
    )


def _pq_lloyd_update(
    mm: DataFrame, codes: DataFrame, codebook: DataFrame
) -> DataFrame:
    """New codebook: each centroid re-set to the exact trunc-average
    of its assigned sub-vectors ((sum - sum % n) / n — no float enters
    the update); empty cells keep their old centroid (standard Lloyd
    convention, mirrored in the oracle's LEFT JOIN coalesce)."""
    D = _PQ_DIMS
    sub = F.slice(F.col("v"), F.col("s") * D + 1, D)
    dimsums = (
        codes.join(mm, "vec_id")
        .select("s", "cid", F.posexplode(sub).alias("dm1", "val"))
        .groupBy("s", "cid", "dm1")
        .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("n"))
    )
    trunc_avg = ((F.col("sm") - F.col("sm") % F.col("n")) / F.col("n")).cast(
        "long"
    )
    updated = (
        dimsums.select("s", "cid", "dm1", trunc_avg.alias("cv"))
        .groupBy("s", "cid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dm1"), F.col("cv")))
                ),
                lambda x: x.getField("cv"),
            ).alias("c_new")
        )
    )
    return codebook.join(updated, ["s", "cid"], "left").select(
        "s", "cid", F.coalesce("c_new", "c").alias("c")
    )


def _pq_train(
    spark: SparkSession,
    mm: DataFrame,
    rounds: int,
    sse_log: list | None = None,
    k: int | None = None,
) -> DataFrame:
    """Iterate the proven Lloyd step `rounds` times from the anchor
    cb0, `localCheckpoint` per round (the CC-loop pattern: the next
    round re-reads the codebook, so without the checkpoint round N
    would replay rounds 0..N-1's whole lineage). When `sse_log` is a
    list it receives the total assignment SSE per round (one bounded
    1-row agg collect per round — the convergence-read class)."""
    cb = _pq_anchor_codebook(spark, mm, k=k).localCheckpoint()
    for _ in range(rounds):
        codes = _pq_assign(mm, cb).localCheckpoint()
        if sse_log is not None:
            sse_log.append(
                int(codes.agg(F.sum("sse")).collect()[0][0])
            )
        cb = _pq_lloyd_update(mm, codes, cb).localCheckpoint()
    return cb


@register("sim_pq_train_loop_audit", oracle=_pq_train_loop_oracle())
def sim_pq_train_loop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL PQ TRAINING LOOP (r7, VERDICT r6 task 3) — the bounded
    k-means sweep [[sim_pq_lloyd_step_audit]] proves one step of, run
    for _PQ_ROUNDS deterministic rounds with the monotone-SSE contract
    visible as DATA: one row per round with the total assignment SSE
    under that round's codebook, non-increasing by Lloyd's theorem
    (assignment and update each only lower SSE; the trunc-average's
    -1 bias per dim is bounded by the integer grid and measured, not
    assumed — the oracle replays every round exactly, so any
    divergence in update arithmetic hash-fails).

    Scale shape: training state is the 128-row codebook (driver-side
    between rounds, a task-closure constant within them); per round
    one zero-exchange Arrow argmin pass + one groupBy update —
    embarrassingly parallel over vectors, `localCheckpoint` per round
    so round N never replays rounds 0..N-1 (the CC-loop rule,
    SCALE.md §8). At
    100 TB you train on exactly this kind of bounded sample (the
    codebook generalizes; the corpus-wide pass is encode-only) — the
    CAP slice isn't a test shortcut, it IS the production shape."""
    R = _PQ_ROUNDS
    mm = _pq_mm(spark, sf_dir)
    sse_log: list[int] = []
    cb = _pq_train(spark, mm, R, sse_log=sse_log)
    final_sse = int(
        _pq_assign(mm, cb).agg(F.sum("sse")).collect()[0][0]
    )
    sse_log.append(final_sse)
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(sse_log)], schema="round int, sse long"
    )


@register("sim_pq_trained_adc_audit", oracle=_pq_trained_adc_oracle())
def sim_pq_trained_adc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[sim_pq_adc_recall_audit]] RE-RUN ON THE TRAINED CODEBOOK —
    the closing move of the PQ story (r7): train _PQ_ROUNDS Lloyd
    sweeps ([[sim_pq_train_loop_audit]]), then measure top-1 agreement
    with exact cosine and total quantization error using the SAME
    protocol as the untrained audit, so the two results are directly
    comparable numbers. Measured at sf0.1: training cuts total SSE
    221.3M -> 155.3M (-30%) and lifts top-1 agreement 12.3% -> 17.0%
    (37 -> 51 of 300; sf0.01: 10.0% -> 14.3%). The residual gap is the
    data, not the trainer: 8-byte codes on near-isotropic SYNTHETIC
    vectors are close to the information-theoretic floor — real
    embedding corpora are clustered, which is exactly what PQ codes
    exploit, so this is the pessimistic bound. Same bounded slice,
    same exact-int64 SSE/reconstruction arithmetic, same one-double
    final cosine — the oracle chains all six rounds and the full
    ADC-vs-exact compare, so the whole train+encode+serve pipeline is
    exactly oracled end to end."""
    R = _PQ_ROUNDS
    mm = _pq_mm(spark, sf_dir)
    cb = _pq_train(spark, mm, R)
    # r11: assign+recon+per-vector SSE fused into one Arrow map pass;
    # both top-1 compares route through the zero-exchange matmul
    # kernel (`_cosine_topk_pairs`) instead of two |mm|^2 pair joins
    # + window argmins — results bit-identical (same int64/double op
    # order, same (cosine desc, nid) tie-break)
    recon = _pq_encode(mm, cb).localCheckpoint()
    queries = mm.select(F.col("vec_id").alias("qid"), F.col("v").alias("vq"))
    pq_nn = _cosine_topk_pairs(
        queries,
        recon.select(F.col("vec_id").alias("nid"), F.col("r").alias("vr")),
        1,
    ).select("qid", F.col("nid").alias("pq_nid"))
    exact_nn = _cosine_topk_pairs(
        queries,
        mm.select(F.col("vec_id").alias("nid"), F.col("v").alias("vr")),
        1,
    ).select("qid", F.col("nid").alias("exact_nid"))
    stats = recon.agg(
        F.sum("vec_sse").cast("long").alias("total_sse"),
        F.count(F.lit(1)).alias("n_vecs"),
    )
    return (
        exact_nn.join(pq_nn, "qid", "left")
        .agg(
            F.sum(
                (F.col("pq_nid") == F.col("exact_nid")).cast("long")
            ).alias("pq_nn_match"),
            F.count(F.lit(1)).alias("n_q"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "n_vecs",
            "total_sse",
            "pq_nn_match",
            (
                F.col("pq_nn_match").cast("double") / F.col("n_q")
            ).alias("match_rate"),
        )
    )

_PQ_RECALL_K = 10


def _pq_recall_at_k_oracle() -> str:
    R, TOPK = _PQ_ROUNDS, _PQ_RECALL_K

    def adc_block(tag: str, codes: str, cb: str) -> str:
        return f"""
    recon_{tag} AS MATERIALIZED (
      SELECT co.vec_id, flatten(list(cb.c ORDER BY co.s)) AS r
      FROM {codes} co JOIN {cb} cb ON cb.s = co.s AND cb.cid = co.cid
      GROUP BY co.vec_id
    ),
    adc_{tag} AS (
      SELECT q.vec_id AS qid, r.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> q.v[i] * r.r[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(q.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(r.r, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM mm q JOIN recon_{tag} r ON q.vec_id <> r.vec_id
    ),
    top_{tag} AS MATERIALIZED (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM adc_{tag}
      ) WHERE rn <= {TOPK}
    )"""

    return (
        _pq_chain_prefix_sql(R)
        + ","
        + adc_block("anchor", "codes0", "cb0")
        + ","
        + adc_block("trained", f"codes{R}", f"cb{R}")
        + f""",
    exact AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM mm a JOIN mm b ON a.vec_id <> b.vec_id
    ),
    exact_top AS MATERIALIZED (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM exact
      ) WHERE rn <= {TOPK}
    ),
    pq_top AS (
      SELECT 'anchor' AS codebook, qid, nid, rn FROM top_anchor
      UNION ALL
      SELECT 'trained' AS codebook, qid, nid, rn FROM top_trained
    ),
    hits AS (
      SELECT p.codebook, ks.k, count(*) AS h
      FROM exact_top e
      JOIN pq_top p ON p.qid = e.qid AND p.nid = e.nid
      JOIN (SELECT unnest([1, {TOPK}]) AS k) ks
        ON e.rn <= ks.k AND p.rn <= ks.k
      GROUP BY p.codebook, ks.k
    ),
    nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_q FROM exact_top)
    SELECT g.codebook, CAST(g.k AS INT) AS k, nq.n_q,
           CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
           round(CAST(coalesce(h.h, 0) AS DOUBLE) / (nq.n_q * g.k), 6)
             AS recall
    FROM (SELECT c.codebook, kk.k
          FROM (VALUES ('anchor'), ('trained')) c(codebook),
               (VALUES (1), ({TOPK})) kk(k)) g
    LEFT JOIN hits h ON h.codebook = g.codebook AND h.k = g.k, nq
    """
    )


def _pq_recon_vectors(mm: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, r): every corpus vector reconstructed from its nearest
    sub-space centroids under codebook ``cb`` — the stored form an ADC
    serving tier scores against. r11: one `_pq_encode` map pass (the
    old assign -> join -> groupBy chain planned 3 exchanges)."""
    return _pq_encode(mm, cb).select("vec_id", "r").localCheckpoint()


def _cosine_topk_pairs(
    queries: DataFrame,
    stored: DataFrame,
    k: int,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(qid, nid, rn): per-query top-k of stored vectors by cosine
    (desc, nid tie-break). `queries` must expose (qid, vq); `stored`
    (nid, vr). With `pairs` None, every (query, stored) pair except
    self-pairs is scored; with a (qid, nid) frame, ONLY those pairs
    are — the shortlist-re-rank shape, where cost is |pairs|, not
    |queries| x |stored|.

    r11 OPTIMIZED (guide §8, §2.3, §4.2): the stored side — bounded
    by construction in every caller (<= _PQ_BUDGET_CAP vectors: the
    PQ audits' training slice, the documented small-collect class) —
    is collected ONCE into a task-local int64 matrix sorted by nid;
    queries stream through one Arrow `mapInPandas` pass that scores a
    whole batch against the matrix via exact int64 matmul and emits
    ONLY each query's top-k rows. The old plan joined |q| x |stored|
    pair rows (each dragging both 64-long vectors through an
    ArrowEvalPython dot), then shuffled the ~|q|x|stored| skinny rows
    into a per-qid window sort: 2 Exchanges and a million-row Python
    boundary for a 1000-vector slice. The new plan has ZERO exchanges
    in full-pairs mode; shortlist mode replaces the two pair-side
    joins with one broadcast of the per-qid candidate lists.

    Arithmetic is bit-identical: exact int64 dot, cast to double,
    divided by the PRODUCT of the two sqrt'd double norms (same IEEE
    op order as the expression form); ranking (cosine desc, nid asc)
    via numpy stable lexsort == row_number over that ordering.

    Contracts (r12): the stored side is COLLECTED EAGERLY at call
    time and must hold <= _STORED_COLLECT_BOUND rows (enforced —
    an over-cap caller raises instead of OOMing the driver), and
    every vector must have nonzero quantized norm (the corpus-wide
    zero-norm convention; a zero norm would make the cosine NaN,
    which numpy's lexsort ranks LAST while Spark's ORDER BY DESC
    ranks it FIRST — asserted here so a contract violation fails
    loudly instead of silently re-ranking)."""
    srows = _bounded_rows(
        stored.select("nid", "vr"), _STORED_COLLECT_BOUND, "_cosine_topk_pairs"
    )
    srows.sort(key=lambda r: r["nid"])
    nids = np.array([r["nid"] for r in srows], dtype=np.int64)
    smat = np.array([list(r["vr"]) for r in srows], dtype=np.int64)
    snorm = np.sqrt((smat * smat).sum(axis=1).astype(np.float64))
    if len(snorm) and not snorm.all():
        raise ValueError(
            "_cosine_topk_pairs: zero-norm stored vector — callers "
            "must apply the nonzero_milli convention"
        )

    def _topk_rows(qid, c, n, out):
        """Append (qid, nid, rn) rows for ONE query: 1-D cosine array
        ``c`` over candidate nids ``n``, ranked (cos desc, nid asc)."""
        order = np.lexsort((n, -c))[:k]
        m = len(order)
        if m:
            out.append(
                pd.DataFrame(
                    {
                        "qid": np.full(m, qid, dtype=np.int64),
                        "nid": n[order],
                        "rn": np.arange(1, m + 1, dtype=np.int32),
                    }
                )
            )

    if pairs is None:

        def topk(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.vstack(pdf["vq"].to_numpy()).astype(np.int64)
                qid = pdf["qid"].to_numpy()
                nq = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
                assert nq.all(), "zero-norm query vector (NaN cosine)"
                cos = (Q @ smat.T).astype(np.float64) / (
                    nq[:, None] * snorm[None, :]
                )
                out: list = []
                for i in range(len(qid)):
                    valid = nids != qid[i]
                    _topk_rows(qid[i], cos[i, valid], nids[valid], out)
                if out:
                    yield pd.concat(out, ignore_index=True)

        src = queries.select("qid", "vq")
    else:
        cand = pairs.select("qid", "nid").groupBy("qid").agg(
            F.collect_list("nid").alias("_cand")
        )
        src = queries.select("qid", "vq").join(F.broadcast(cand), "qid")

        def topk(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out: list = []
                for qid, vq, cl in zip(
                    pdf["qid"].to_numpy(),
                    pdf["vq"].to_numpy(),
                    pdf["_cand"].to_numpy(),
                ):
                    q = np.asarray(vq, dtype=np.int64)
                    c = np.asarray(cl, dtype=np.int64)
                    # inner-join semantics of the old pairs->stored
                    # join: candidates absent from `stored` drop out
                    pos = np.clip(np.searchsorted(nids, c), 0, len(nids) - 1)
                    idx = pos[nids[pos] == c]
                    if len(idx) == 0:
                        continue
                    nq = np.sqrt(float((q * q).sum()))
                    assert nq, "zero-norm query vector (NaN cosine)"
                    cos = (smat[idx] @ q).astype(np.float64) / (
                        nq * snorm[idx]
                    )
                    _topk_rows(qid, cos, nids[idx], out)
                if out:
                    yield pd.concat(out, ignore_index=True)

    return src.mapInPandas(topk, "qid long, nid long, rn int")


def _cent_arrays(cents: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver-side (cids, C, cnorm) numpy view of a bounded coarse
    centroid frame (cid, cv) — the IVF analogue of `_codebook_arrays`
    (<= K rows by construction at every call site: the K lowest-vec_id
    corpus vectors; bound enforced). Rows sorted by cid ascending so
    numpy's first-max argmax IS the (cos DESC, cid) window tie-break.
    Zero-norm centroids are rejected (corpus frames apply the
    nonzero_milli convention, so this only fires on a contract
    violation — a NaN cosine would silently re-rank, guide §4)."""
    rows = _bounded_rows(
        cents.select("cid", "cv"), _CODEBOOK_COLLECT_BOUND, "_cent_arrays"
    )
    rows.sort(key=lambda r: r["cid"])
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([list(r["cv"]) for r in rows], dtype=np.int64)
    cnorm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    if len(cnorm) and not cnorm.all():
        raise ValueError(
            "_cent_arrays: zero-norm centroid — callers must apply "
            "the nonzero_milli convention"
        )
    return cids, C, cnorm


def _cent_assign_rows(
    corpus: DataFrame, cents: DataFrame, topn: int = 1
) -> DataFrame:
    """LONG-FORM per-PHYSICAL-ROW assignment: each corpus row's topn
    most-similar coarse centroids by exact milli-int cosine, ties to
    the lowest cid — (vec_id, v, cell, cent_cos), topn rows per input
    row (fewer when |cents| < topn). NO per-vec_id pooling: a
    duplicated vec_id emits one group per physical row; callers that
    need the window form's one-winner-per-vec_id semantics reduce via
    `_cent_assign_argmax` or a per-vec_id window over this output.

    r12 OPTIMIZED (guide §2.3, §4.2 — the r11 `_pq_assign` pattern
    applied to the coarse quantizer): one Arrow `mapInPandas` pass
    with the <= K-row centroid matrix as a task-closure numpy
    constant replaces the broadcast crossjoin that materialized
    |corpus| x K rows (each dragging the full vector) into the
    per-vec_id window exchange — downstream shuffles now carry topn
    rows per vector instead of K. Arithmetic bit-identical: exact
    int64 dots, cast to double, divided by the product of the two
    sqrt'd double norms (same IEEE op order as the expression form);
    per-row ranking via numpy STABLE argsort of -cos over
    cid-ascending centroid rows == row_number over (cent_cos DESC,
    cid). Still embarrassingly parallel — at 100 TB the corpus
    streams through map tasks and the centroids ride in the task
    closure."""
    cids, C, cnorm = _cent_arrays(cents)
    n = min(topn, len(cids))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or n == 0:
                continue
            V = np.vstack(pdf["v"].to_numpy()).astype(np.int64)
            vn = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            assert vn.all(), "zero-norm corpus vector (NaN cosine)"
            cos = (V @ C.T).astype(np.float64) / (
                vn[:, None] * cnorm[None, :]
            )
            rows = np.arange(len(pdf))
            if n == 1:
                top = cos.argmax(axis=1)[:, None]  # first max == low cid
            else:
                top = np.argsort(-cos, axis=1, kind="stable")[:, :n]
            outs = []
            for i in range(n):
                j = top[:, i]
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "v": pdf["v"].to_numpy(),
                            "cell": cids[j],
                            "cent_cos": cos[rows, j],
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    return corpus.select("vec_id", "v").mapInPandas(
        assign, "vec_id long, v array<bigint>, cell bigint, cent_cos double"
    )


# pooled-winner ordering for duplicated vec_ids: max of (cent_cos,
# -cell) == the old window's (cent_cos DESC, cid ASC) over the pooled
# pair rows (exact ties between rows with differing payloads were
# non-deterministic under the window too).
def _argmax_ord():
    return F.struct(
        F.col("cent_cos").alias("_c"), (-F.col("cell")).alias("_nc")
    )


def _cent_assign_argmax(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cell, cent_cos): ONE winner per vec_id — the
    kernel's per-row argmax pooled across duplicate-vec_id physical
    rows by a map-side-combinable max_by (guide §2.3: the shuffle
    carries one copy of each row, where the old crossjoin+window form
    shuffled K copies). Row-identical to the old per-vec_id window on
    every fixture (incl. the duplicated-vec_id edge fixture, pinned
    by tests/test_edge_embeddings.py)."""
    return (
        _cent_assign_rows(corpus, cents, topn=1)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct("v", "cell", "cent_cos"), _argmax_ord()
            ).alias("_w")
        )
        .select("vec_id", "_w.v", "_w.cell", "_w.cent_cos")
    )


def _recall_vs_exact_table(
    spark: SparkSession,
    exact_top: DataFrame,
    approx_top: DataFrame,
    ks: tuple[int, ...],
    variant_col: str | None = None,
    variant_values: tuple[str, ...] = (),
) -> DataFrame:
    """recall@k table shared by the PQ serving audits: for each k in
    ``ks`` (and each value of ``variant_col`` when the approx side
    carries one), |top-k(approx) ∩ top-k(exact)| / (n_q · k). Both
    inputs are (qid, nid, rn) rank frames with rn <= max(ks); the
    k-grid join is a broadcast of len(ks) rows; absent combinations
    surface as hits=0 rows via the left-joined literal grid."""
    ks_df = spark.createDataFrame([(k,) for k in ks], "k int")
    e, p = exact_top.alias("e"), approx_top.alias("p")
    group = ([variant_col] if variant_col else []) + ["k"]
    hits = (
        e.join(
            p,
            (F.col("e.qid") == F.col("p.qid"))
            & (F.col("e.nid") == F.col("p.nid")),
        )
        .join(
            F.broadcast(ks_df),
            (F.col("e.rn") <= F.col("k")) & (F.col("p.rn") <= F.col("k")),
        )
        .groupBy(*group)
        .agg(F.count(F.lit(1)).alias("h"))
    )
    if variant_col:
        grid = spark.createDataFrame(
            [(v, k) for v in variant_values for k in ks],
            f"{variant_col} string, k int",
        )
    else:
        grid = ks_df
    nq = exact_top.agg(F.countDistinct("qid").alias("n_q"))
    return (
        grid.join(hits, group, "left")
        .crossJoin(F.broadcast(nq))
        .select(
            *([variant_col] if variant_col else []),
            "k",
            "n_q",
            F.coalesce("h", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("h", F.lit(0)).cast("double")
                / (F.col("n_q") * F.col("k")),
                6,
            ).alias("recall"),
        )
    )


@register("sim_pq_recall_at_k", oracle=_pq_recall_at_k_oracle())
def sim_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PQ SERVING CONTRACT (r8, VERDICT r7 task 2): recall@k of the
    ADC memory tier against exact cosine, at k=1 and k={K}, for BOTH
    the untrained md5-anchor codebook and the {R}-sweep trained one —
    the `sim_ivf_recall_audit` shape applied to PQ, so a user can read
    off what 8-byte codes actually buy at serving time instead of
    inferring it from top-1 agreement alone.

    Measured at sf0.1 (n_q=300): anchor recall@1 12.3% / recall@10
    28.5%; trained recall@1 17.0% / recall@10 34.6%. The k=1 rows tie
    this table to [[sim_pq_adc_recall_audit]] / 
    [[sim_pq_trained_adc_audit]] (same protocol, same numbers); the
    k={K} rows are the serving contract proper.

    CEILING, NAMED (the SemDeDup-τ discipline): these numbers are
    fixture-bound, not method-bound. The corpus is near-isotropic
    synthetic noise — pairwise exact cosines are tightly bunched, so
    the true top-10 is separated by margins far below the K={CBK}
    (4-bit/sub-space) quantization error, which is the
    information-theoretic worst case for PQ. Real embedding corpora
    are clustered (that structure is exactly what trained PQ codes
    exploit — Jégou et al., TPAMI'11 report recall@10 in the 0.6-0.9
    range at comparable code budgets on real SIFT/GIST data), and a
    production deployment would also raise K to 256 (8 bits/sub-space,
    the standard setting; 64 bytes/vector here) and re-rank the ADC
    shortlist with exact scores — [[sim_pq_reranked_recall_audit]]
    DEMONSTRATES that mitigation on this same fixture (re-ranked
    recall@10 77.9% vs this table's 34.6%). This audit prices the
    floor on the hardest input and proves the train->encode->serve
    plumbing end-to-end; it does NOT claim the raw-ADC number is what
    PQ delivers on real embeddings.

    MEASURED on corpus-shaped data (r10, PQ_CLUSTERED_r10.json —
    scripts/clustered_fixture.py, a 64-cluster anisotropic
    mixture-of-Gaussians at sf1 scale): the hypothesis "clustered
    data lifts top-k overlap into the cited band" is REFUTED for this
    metric — K=256 re-ranked recall@10 is 55.0% (vs 54.0% isotropic),
    because ~312 near-equidistant co-cluster members make exact-top-10
    membership a tie-breaking contest. The operational metric tells
    the real story: CLUSTER-PRECISION of the K=256 re-ranked top-10 is
    1.0000 — identical to the exact yardstick's 1.0000 — i.e. the
    served list retrieves exactly the right cluster every time, and
    the overlap shortfall is entirely within-cluster tie shuffling
    (and sim_ivf_recall_audit reads 1.0 on the same corpus). Top-k
    overlap against an exact list is the WRONG ceiling to chase on
    densely clustered corpora; retrieval correctness is the right
    one, and the ladder meets it.

    Scale shape: identical to [[sim_pq_trained_adc_audit]] — bounded
    training slice, broadcast codebooks, one window top-k per compare;
    the (e.rn <= k AND p.rn <= k) grid join is a 2-row broadcast."""
    R, TOPK = _PQ_ROUNDS, _PQ_RECALL_K
    mm = _pq_mm(spark, sf_dir)
    queries = mm.select(F.col("vec_id").alias("qid"), F.col("v").alias("vq"))
    exact_top = _cosine_topk_pairs(
        queries,
        mm.select(F.col("vec_id").alias("nid"), F.col("v").alias("vr")),
        TOPK,
    ).localCheckpoint()
    cb0 = _pq_anchor_codebook(spark, mm).localCheckpoint()
    cbR = _pq_train(spark, mm, R)
    pq_top = None
    for tag, cb in (("anchor", cb0), ("trained", cbR)):
        top = _cosine_topk_pairs(
            queries,
            _pq_recon_vectors(mm, cb).select(
                F.col("vec_id").alias("nid"), F.col("r").alias("vr")
            ),
            TOPK,
        ).withColumn("codebook", F.lit(tag))
        pq_top = top if pq_top is None else pq_top.unionByName(top)
    return _recall_vs_exact_table(
        spark,
        exact_top,
        pq_top,
        ks=(1, TOPK),
        variant_col="codebook",
        variant_values=("anchor", "trained"),
    )


sim_pq_recall_at_k.__doc__ = sim_pq_recall_at_k.__doc__.replace(
    "{K}", str(_PQ_RECALL_K)
).replace("{R}", str(_PQ_ROUNDS)).replace("{CBK}", str(_PQ_K))

# Re-rank shortlist width. 50 through r10; 200 since r11: the
# clustered-corpus study (PQ_CLUSTERED_r11.json, VERDICT r10 task 5)
# measured the width curve at K=256 on the corpus-shaped fixture —
# re-ranked recall@10 = 0.55 @ w=50, 0.76 @ w=100, 0.95 @ w=200,
# 1.00 @ w=400 — the r10 gap was pure shortlist width (ties among
# ~312 near-equidistant co-cluster members), not code budget. Still
# constant work per query (|Q| x 200 exact re-scores); the DuckDB
# oracles interpolate this constant, so both sides move together.
_PQ_RERANK_CAND = 200


def _pq_rerank_oracle() -> str:
    R, TOPK, CAND = _PQ_ROUNDS, _PQ_RECALL_K, _PQ_RERANK_CAND
    return (
        _pq_chain_prefix_sql(R)
        + f""",
    recon AS MATERIALIZED (
      SELECT co.vec_id, flatten(list(cb.c ORDER BY co.s)) AS r
      FROM codes{R} co JOIN cb{R} cb ON cb.s = co.s AND cb.cid = co.cid
      GROUP BY co.vec_id
    ),
    adc AS (
      SELECT q.vec_id AS qid, r.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> q.v[i] * r.r[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(q.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(r.r, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM mm q JOIN recon r ON q.vec_id <> r.vec_id
    ),
    cand AS MATERIALIZED (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM adc
      ) WHERE rn <= {CAND}
    ),
    reranked AS (
      SELECT c.qid, c.nid, {SQL_COS_AB.replace("a.v", "q.v").replace("b.v", "n.v")} AS cosine
      FROM cand c
      JOIN mm q ON q.vec_id = c.qid
      JOIN mm n ON n.vec_id = c.nid
    ),
    rr_top AS (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM reranked
      ) WHERE rn <= {TOPK}
    ),
    exact AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM mm a JOIN mm b ON a.vec_id <> b.vec_id
    ),
    exact_top AS MATERIALIZED (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM exact
      ) WHERE rn <= {TOPK}
    ),
    hits AS (
      SELECT ks.k, count(*) AS h
      FROM exact_top e
      JOIN rr_top p ON p.qid = e.qid AND p.nid = e.nid
      JOIN (SELECT unnest([1, {TOPK}]) AS k) ks
        ON e.rn <= ks.k AND p.rn <= ks.k
      GROUP BY ks.k
    ),
    nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_q FROM exact_top)
    SELECT CAST(g.k AS INT) AS k, nq.n_q,
           CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
           round(CAST(coalesce(h.h, 0) AS DOUBLE) / (nq.n_q * g.k), 6)
             AS recall
    FROM (VALUES (1), ({TOPK})) g(k)
    LEFT JOIN hits h ON h.k = g.k, nq
    """
    )


@register("sim_pq_reranked_recall_audit", oracle=_pq_rerank_oracle())
def sim_pq_reranked_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ AS A CANDIDATE GENERATOR — the production serving pattern
    the [[sim_pq_recall_at_k]] ceiling note names, demonstrated
    instead of narrated (r8): the trained ADC tier proposes its
    top-{CAND} candidates per query (scored against 8-byte codes, the
    cheap pass over the full corpus), exact cosine re-scores ONLY
    those {CAND} (the expensive pass over a constant-size slice), and
    recall@{{1,{K}}} of the re-ranked top-{K} is measured against the
    exact top-{K}.

    Measured at sf0.1 (n_q=300): re-ranked recall@1 91.3% / recall@10
    77.9%, vs the raw trained ADC tier's 17.0% / 34.6% — quantization
    error only has to keep the true neighbors inside the top-{CAND}
    shortlist, not rank them, which is the whole reason real
    deployments pair PQ with a re-rank stage (Jégou et al.'s ADC+R).
    Cost shape at 100 TB: the ADC pass reads codes only
    (64x smaller than raw vectors); the exact pass touches
    |queries| x {CAND} raw vectors — a constant per query, not a scan.

    Same bounded slice, trained codebook, and arithmetic as the other
    PQ audits; the oracle chains train -> encode -> ADC shortlist ->
    exact re-rank -> recall, all exactly."""
    R, TOPK, CAND = _PQ_ROUNDS, _PQ_RECALL_K, _PQ_RERANK_CAND
    mm = _pq_mm(spark, sf_dir)
    queries = mm.select(F.col("vec_id").alias("qid"), F.col("v").alias("vq"))
    stored_exact = mm.select(F.col("vec_id").alias("nid"), F.col("v").alias("vr"))
    exact_top = _cosine_topk_pairs(queries, stored_exact, TOPK).localCheckpoint()
    cb = _pq_train(spark, mm, R)
    cand = _cosine_topk_pairs(
        queries,
        _pq_recon_vectors(mm, cb).select(
            F.col("vec_id").alias("nid"), F.col("r").alias("vr")
        ),
        CAND,
    ).select("qid", "nid")
    # exact re-rank of the shortlist ONLY (cost |q| x CAND, constant
    # per query): the same shared cosine/top-k kernel, restricted to
    # the candidate pairs
    rr_top = _cosine_topk_pairs(queries, stored_exact, TOPK, pairs=cand)
    return _recall_vs_exact_table(spark, exact_top, rr_top, ks=(1, TOPK))


sim_pq_reranked_recall_audit.__doc__ = sim_pq_reranked_recall_audit.__doc__.replace(
    "{CAND}", str(_PQ_RERANK_CAND)
).replace("{K}", str(_PQ_RECALL_K))


_PQ_BUDGET_K, _PQ_BUDGET_CAP = 64, 1000


def _pq_code_budget_oracle() -> str:
    R, TOPK, CAND = _PQ_ROUNDS, _PQ_RECALL_K, _PQ_RERANK_CAND
    K, CAP = _PQ_BUDGET_K, _PQ_BUDGET_CAP
    return (
        _pq_chain_prefix_sql(R, k=K, cap=CAP)
        + f""",
    recon AS MATERIALIZED (
      SELECT co.vec_id, flatten(list(cb.c ORDER BY co.s)) AS r
      FROM codes{R} co JOIN cb{R} cb ON cb.s = co.s AND cb.cid = co.cid
      GROUP BY co.vec_id
    ),
    adc AS (
      SELECT q.vec_id AS qid, r.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, 65),
                           i -> q.v[i] * r.r[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(q.v, x -> x * x)) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(r.r, x -> x * x)) AS DOUBLE)))
               AS cosine
      FROM mm q JOIN recon r ON q.vec_id <> r.vec_id
    ),
    adc_rank AS MATERIALIZED (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM adc
      ) WHERE rn <= {CAND}
    ),
    reranked AS (
      SELECT c.qid, c.nid, {SQL_COS_AB.replace("a.v", "q.v").replace("b.v", "n.v")} AS cosine
      FROM adc_rank c
      JOIN mm q ON q.vec_id = c.qid
      JOIN mm n ON n.vec_id = c.nid
    ),
    rr_top AS (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM reranked
      ) WHERE rn <= {TOPK}
    ),
    exact AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, {SQL_COS_AB} AS cosine
      FROM mm a JOIN mm b ON a.vec_id <> b.vec_id
    ),
    exact_top AS MATERIALIZED (
      SELECT qid, nid, rn FROM (
        SELECT qid, nid, row_number() OVER (PARTITION BY qid
                         ORDER BY cosine DESC, nid) AS rn
        FROM exact
      ) WHERE rn <= {TOPK}
    ),
    pq_top AS (
      SELECT 'adc' AS variant, qid, nid, rn FROM adc_rank WHERE rn <= {TOPK}
      UNION ALL
      SELECT 'reranked' AS variant, qid, nid, rn FROM rr_top
    ),
    hits AS (
      SELECT p.variant, ks.k, count(*) AS h
      FROM exact_top e
      JOIN pq_top p ON p.qid = e.qid AND p.nid = e.nid
      JOIN (SELECT unnest([1, {TOPK}]) AS k) ks
        ON e.rn <= ks.k AND p.rn <= ks.k
      GROUP BY p.variant, ks.k
    ),
    nq AS (SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_q FROM exact_top)
    SELECT g.variant, CAST(g.k AS INT) AS k, nq.n_q,
           CAST(coalesce(h.h, 0) AS BIGINT) AS hits,
           round(CAST(coalesce(h.h, 0) AS DOUBLE) / (nq.n_q * g.k), 6)
             AS recall
    FROM (SELECT v.variant, kk.k
          FROM (VALUES ('adc'), ('reranked')) v(variant),
               (VALUES (1), ({TOPK})) kk(k)) g
    LEFT JOIN hits h ON h.variant = g.variant AND h.k = g.k, nq
    """
    )


@register("sim_pq_code_budget_audit", oracle=_pq_code_budget_oracle())
def sim_pq_code_budget_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ AT A PRODUCTION CODE BUDGET (r9, VERDICT r8 task 2): the
    identical train -> encode -> ADC -> re-rank chain as
    [[sim_pq_recall_at_k]] / [[sim_pq_reranked_recall_audit]], run at
    K={BK} centroids per sub-space (6-bit codes; the committed K=16
    rows are 4-bit) on a {BCAP}-vector slice, reporting recall@{{1,{K}}}
    for the raw trained-ADC tier AND the top-{CAND}+exact-re-rank
    tier in one table — the first-party number the K=16 ceiling note
    could previously only cite from Jégou et al.

    Measured at sf0.1 (n_q=1000, K=64): raw ADC recall@1 20.5% /
    recall@10 35.9%; re-ranked recall@1 90.6% / recall@10 75.1%.
    Read against the K=16 rows (17.0% / 34.6% raw, 91.3% / 77.9%
    re-ranked — but on a 300-vector slice): the honest statement is
    that 4x the centroids PAY FOR 3.3x the corpus — raw recall@1
    RISES 17.0% -> 20.5% despite 3.3x more distractors per query
    (at fixed K, recall falls as the corpus grows), and the served
    (re-ranked) tier holds the 0.75-0.91 band, inside the Jégou-cited
    0.6-0.9 recall@10 range, now as a first-party number on the
    information-theoretic worst-case fixture. Remaining gap to 1.0 is
    the fixture's bunched-margin geometry (see the ceiling note in
    [[sim_pq_recall_at_k]]), not the trainer.

    Scale shape: unchanged from the K=16 audits — the codebook is
    {BK}x8 = 512 rows (a task-closure constant since r11), assignment
    is one zero-exchange Arrow argmin pass per round, and every
    compare is one Arrow matmul-top-k pass; K enters cost only
    through the per-batch einsum width, exactly as production K=256
    would."""
    R, TOPK, CAND = _PQ_ROUNDS, _PQ_RECALL_K, _PQ_RERANK_CAND
    K, CAP = _PQ_BUDGET_K, _PQ_BUDGET_CAP
    mm = _pq_mm(spark, sf_dir, cap=CAP)
    queries = mm.select(F.col("vec_id").alias("qid"), F.col("v").alias("vq"))
    stored_exact = mm.select(
        F.col("vec_id").alias("nid"), F.col("v").alias("vr")
    )
    exact_top = _cosine_topk_pairs(queries, stored_exact, TOPK).localCheckpoint()
    cb = _pq_train(spark, mm, R, k=K)
    adc_rank = _cosine_topk_pairs(
        queries,
        _pq_recon_vectors(mm, cb).select(
            F.col("vec_id").alias("nid"), F.col("r").alias("vr")
        ),
        CAND,
    ).localCheckpoint()
    raw_top = adc_rank.filter(F.col("rn") <= TOPK).withColumn(
        "variant", F.lit("adc")
    )
    rr_top = _cosine_topk_pairs(
        queries, stored_exact, TOPK, pairs=adc_rank.select("qid", "nid")
    ).withColumn("variant", F.lit("reranked"))
    return _recall_vs_exact_table(
        spark,
        exact_top,
        raw_top.unionByName(rr_top),
        ks=(1, TOPK),
        variant_col="variant",
        variant_values=("adc", "reranked"),
    )


sim_pq_code_budget_audit.__doc__ = sim_pq_code_budget_audit.__doc__.replace(
    "{BK}", str(_PQ_BUDGET_K)
).replace("{BCAP}", str(_PQ_BUDGET_CAP)).replace(
    "{CAND}", str(_PQ_RERANK_CAND)
).replace("{K}", str(_PQ_RECALL_K))


def _cdf_maintain_oracle() -> str:
    """DuckDB twin of [[sim_index_cdf_maintain]]: replay the SAME
    deterministic CDC on the milli corpus relationally, then bucket
    the POST state with the identical plane literals — the from-
    scratch rebuild the incremental path must hash-match."""
    return f"""
    WITH {_SQL_MILLI},
    base AS (SELECT vec_id, v FROM m),
    changed AS (
      SELECT vec_id, 'D' AS op, v FROM base WHERE vec_id % 11 = 0
      UNION ALL
      SELECT vec_id, 'U' AS op,
             list_transform(v, x -> -x) AS v
      FROM base WHERE vec_id % 11 = 1
      UNION ALL
      SELECT vec_id + 5000000 AS vec_id, 'I' AS op, v
      FROM base WHERE vec_id % 11 = 2
    ),
    post AS (
      -- the merge_apply twin (full-outer resolve), NOT
      -- "unmatched base + change rows": the two forms agree on
      -- unique keys but diverge on duplicated ones (an updated key
      -- with b base copies and c change copies holds b*c resolved
      -- rows), and the oracle must mirror the OPERATOR's declared
      -- semantics — found by the edge-embeddings differential (r11
      -- optimization round, inherited from the interrupted build)
      SELECT coalesce(b.vec_id, c.vec_id) AS vec_id,
             CASE WHEN c.op IN ('U', 'I') THEN c.v ELSE b.v END AS v
      FROM base b FULL OUTER JOIN changed c ON b.vec_id = c.vec_id
      WHERE c.op IS NULL OR c.op != 'D'
    ),
    {_flat_lsh_sql("post")}
    SELECT vec_id, bucket, n FROM bucketed
    """


@register("sim_index_cdf_maintain", oracle=_cdf_maintain_oracle())
def sim_index_cdf_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX MAINTAINED FROM THE CHANGE FEED (r11 §20.2): the
    similarity side of [[lakehouse_cdf_drives_state]]. The embedding
    corpus lives in a commit-log table (key vec_id); one CDC merge
    deletes every 11th vector, RE-EMBEDS every 11th+1 (negated — all
    8 signature bits flip, so a stale index row is guaranteed to sit
    in the WRONG bucket), and inserts re-keyed copies. The standing
    flat-LSH signature index (vec_id, v, bucket, n — the uncapped
    base `sim_ann_index_persist_probe`'s capped serving view derives
    from) is then updated from `read_changes` ONLY: delete +
    update_preimage ids anti-join out, insert + update_postimage rows
    are signed and appended — the corpus table itself is never
    re-read. Both index generations are real parquet sinks (write →
    independent read-back), and the returned frame is the READ-BACK
    incremental index under the from-scratch rebuild oracle: a missed
    delete, a stale pre-update bucket, or a dropped insert each break
    the hash.

    Cost shape at 100 TB: the nightly index job is O(feed) = O(files
    the merge touched) for signatures plus one anti-join against the
    standing index on a broadcastable id set — never O(corpus). The
    capped per-bucket serving sample only needs re-ranking in buckets
    the feed touched (bucket ids are IN the routed rows).

    Provenance: Delta's CDF → downstream-index pattern; the reference
    has no index maintenance at all (full rebuild per run,
    IRSSpark.py:183-188)."""
    import hashlib as _hl

    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        _TABLE_DIRS,
        create_table,
        merge_into,
        read_changes,
    )

    corpus = emb_milli_corpus(spark, sf_dir)
    tag = _hl.md5(("cdfann|" + sf_dir).encode()).hexdigest()[:8]
    tbl = _TABLE_DIRS.new_dir(tag)
    create_table(spark, tbl, corpus, key="vec_id", n_files=4)

    changes = (
        corpus.filter(F.col("vec_id") % 11 == 0)
        .select("vec_id", F.lit("D").alias("op"), "v")
        .unionByName(
            corpus.filter(F.col("vec_id") % 11 == 1).select(
                "vec_id",
                F.lit("U").alias("op"),
                F.transform(F.col("v"), lambda x: -x).alias("v"),
            )
        )
        .unionByName(
            corpus.filter(F.col("vec_id") % 11 == 2).select(
                (F.col("vec_id") + 5000000).alias("vec_id"),
                F.lit("I").alias("op"),
                "v",
            )
        )
    )
    merge_into(spark, tbl, changes)

    # generation 0: the standing index, persisted (build-once)
    sign = lambda df: df.withColumn(  # noqa: E731 — one shared signer
        "bucket", _bucket_udf(_PLANES)(F.col("v")).getItem(0)
    ).withColumn("n", sq_norm(F.col("v")))
    idx_dir0 = _INDEX_DIRS.new_dir(tag + "g0")
    sign(corpus).write.parquet(idx_dir0)

    # nightly maintenance: routed feed rows ONLY — no corpus re-read
    feed = read_changes(spark, tbl, v_from=1)
    gone = feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("vec_id")
    adds = feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("vec_id", "v")
    idx_dir1 = _INDEX_DIRS.new_dir(tag + "g1")
    (
        spark.read.parquet(idx_dir0)
        .join(gone, "vec_id", "left_anti")
        .unionByName(sign(adds))
        .write.parquet(idx_dir1)
    )
    return spark.read.parquet(idx_dir1).select("vec_id", "bucket", "n")
