"""Engine-native commit-log table — minimal snapshot-isolated ACID
tables over parquet (SURVEY.md §7 M9 made EXECUTABLE, VERDICT r9
task 1; production posture completed r11: typed/composite merge keys,
partitioned layout with manifest pruning, VACUUM/retention, file-level
conflict detection, compaction retry, empty-table reads).

The sandbox ships neither Delta nor Iceberg, but the repo already
owns every ingredient a log-structured table format is made of (the
two-phase-commit Python sink in `sources/python_datasource.py` staged
parts + driver-side manifest commit); this module composes them into
the real thing:

  table_dir/
    _commits/00000000.json ...   the COMMIT LOG: one JSON per version,
                                 {added: {relpath: stats}, removed:
                                 [...], metrics}
    d-<uuid>/part-*.parquet      immutable data subdirs, one per commit

Snapshot isolation falls out of three properties:

  * data files are IMMUTABLE — a commit only adds new subdirs and
    marks old files removed; the live set at version V is the replay
    of commits 0..V (added minus removed), so `read_snapshot(path, V)`
    is time travel for free and a reader holding version V can never
    see a torn write (files it references are never mutated — until a
    VACUUM horizon expires the version, which is recorded in the log
    and turned into a clean `SnapshotExpired` refusal, never a stale
    read).
  * the commit itself is one `os.link(tmp, _commits/{V+1}.json)` —
    link fails with EEXIST if ANY other writer claimed that version,
    which is the whole optimistic-concurrency protocol: detect the
    advanced log, decide whether the intervening commits LOGICALLY
    conflict (Delta-style file-level detection, r11: disjoint commits
    skip straight to the next version without re-planning; an
    overlapping commit forces a re-plan against the new snapshot),
    retry up to the attempt budget (`CommitConflict` surfaces when it
    runs out). No locks, no coordinator — the same protocol Delta
    runs on its _delta_log, expressed in ~60 lines.
  * staged-but-uncommitted subdirs are INVISIBLE: readers list files
    from the log, never from the directory, so an aborted writer
    leaves garbage bytes but no torn table; a CONFLICTED writer now
    rmtree's its own orphaned staging before re-planning (ADVICE r10)
    (tests/test_lakehouse.py pins conflict, abort, and cleanup).

MERGE INTO rewrites ONLY touched files: the create path writes data
`repartitionByRange` on the key columns, the log carries per-file
[min, max] stats FOR EVERY KEY COLUMN in the key's own type (r11 —
previously hardcoded `long`, so string/date/composite keys failed at
merge time; ADVICE r10 asked for the fail-fast which `create_table`
now also has), and the merge probes the change keys against those
ranges (a conjunction of per-column interval tests — the same
conservative zone-map pruning parquet row-group stats run on) to pick
its rewrite set — an untouched file's path is carried forward
verbatim across versions (asserted by test). For a PARTITIONED table
the partition column is the leading key column and the create/compact
paths write one range-partitioned file set per partition value, so
every file's partition stats pin lo == hi == value and a single-
partition merge provably reads only that partition's files
([[lakehouse_partition_prune_merge]] asserts it from the manifest).
At 100 TB this is the difference between a nightly MERGE costing
O(changed partitions) and O(table).

A commit re-reads nothing it just wrote: the per-file stats come from
the parquet footers of the staged files (a second scan runs only for
bloom sidecars, whose bit positions need the data), and its
``metrics`` (rows, bytes and files added, files removed, duration,
attempts) come from the same footers and file sizes. Every read of
the table's own files is pinned to the schema the log records as of
the version read (`_scan`), so no read infers a schema from a footer,
and deletion-vector dirs are read with one constant schema.

Compaction is a commit whose added files hold exactly the removed
files' rows — `compact_table` rewrites the live set to the 128 MB
planner's file count without changing a row, and since r11 retries
through conflicts like `merge_into` (a maintenance job must survive a
concurrent writer; VERDICT r10 task 3). `vacuum_table` (r11, VERDICT
r10 task 2) closes the storage loop: it commits a retention horizon,
then physically deletes every data file unreachable from the retained
version window — which is what makes a takedown (`merge_into` op='D'
+ VACUUM) actually remove bytes from disk, the compliance half of the
r10 delete path.

Provenance: the reference overwrite-rebuilds one managed table per
run (IRSSpark.py:183-188); the commit log is the 100 TB upgrade of
that sink contract (mutate in place, read any point in time, reclaim
what retention allows).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from apache_spark_irs_form_990_spark.functions.scratch import ScratchDirs
from apache_spark_irs_form_990_spark.operators.merge import merge_apply
from apache_spark_irs_form_990_spark.registry import register
from apache_spark_irs_form_990_spark.tables import load

_TABLE_DIRS = ScratchDirs("spark990_lakehouse")

# Key types the per-file zone-map stats support: orderable, exactly
# JSON-roundtrippable (floats are neither a sane merge key nor safe to
# range-compare after a JSON hop; timestamps would need TZ discipline
# the manifest doesn't carry). create_table fails fast on anything
# else (ADVICE r10).
_SUPPORTED_KEY_TYPES = {"tinyint", "smallint", "int", "bigint", "string", "date"}


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer planned for."""


class SnapshotExpired(RuntimeError):
    """The requested version predates the table's VACUUM horizon."""


def _commits_dir(path: str) -> str:
    return os.path.join(path, "_commits")


def _commit_path(path: str, version: int) -> str:
    return os.path.join(_commits_dir(path), f"{version:08d}.json")


def latest_version(path: str) -> int:
    """Highest committed version, or -1 for an empty/absent log."""
    cdir = _commits_dir(path)
    if not os.path.isdir(cdir):
        return -1
    versions = [
        int(f[:8])
        for f in os.listdir(cdir)
        if f.endswith(".json") and f[:8].isdigit()
    ]
    return max(versions, default=-1)


def _read_commit(path: str, version: int) -> dict:
    with open(_commit_path(path, version)) as f:
        return json.load(f)


def table_meta(path: str) -> dict:
    """Commit 0's table metadata: key columns, key types, optional
    partition column, and the table schema (JSON StructType)."""
    c0 = _read_commit(path, 0)
    return {
        "key": _key_cols(c0.get("key")),
        "key_types": c0.get("key_types"),
        "partition_by": c0.get("partition_by"),
        "schema": c0.get("schema"),
        "bloom": c0.get("bloom"),
    }


def vacuum_horizon(path: str) -> int:
    """Earliest version still readable: the max horizon any VACUUM
    commit recorded (0 if never vacuumed). One metadata-sized pass
    over the commit log — the same cost as a snapshot replay."""
    h = 0
    for v in range(latest_version(path) + 1):
        c = _read_commit(path, v)
        if c.get("op") == "vacuum":
            h = max(h, int(c.get("horizon", 0)))
    return h


def snapshot_dv(path: str, version: int | None = None) -> dict:
    """Replay the log through ``version`` → the DELETION-VECTOR state:
    {data relpath: [dv subdir, ...]} for every live file with
    merge-on-read deletes pending. A file's DV list accumulates across
    `delete_keys_mor` commits and is CLEARED the moment any commit
    removes (rewrites) the file — compaction materializes deletes for
    free, a copy-on-write merge can't resurrect them. Metadata-sized
    driver work, same shape as `snapshot_files`."""
    v = latest_version(path) if version is None else version
    dv: dict[str, list[str]] = {}
    for i in range(v + 1):
        c = _read_commit(path, i)
        for r in c.get("removed", []):
            dv.pop(r, None)
        if c.get("dv"):
            for rel in c["dv"]["files"]:
                dv.setdefault(rel, []).append(c["dv"]["dir"])
    return dv


# the one schema every deletion-vector dir is written and read with
_DV_SCHEMA = "rel string, pos long"


def _scan(
    spark: SparkSession, path: str, rels, schema: StructType
) -> DataFrame:
    """The one read path for the table's own data files: a parquet scan
    pinned to ``schema``, the schema the commit log records as of the
    version being read (Spark SQL's user-given data-source schema).
    Nothing is inferred, so the scan launches no footer job; columns
    come back in the logged order whatever order a file stores them
    in, and a column a file predates (an evolved table) reads as typed
    NULL."""
    return spark.read.schema(schema).parquet(
        *[os.path.join(path, rel) for rel in rels]
    )


def _metrics(
    path: str, added: dict, removed, t0: float, attempts: int
) -> dict:
    """What a commit did, from what the writer already holds: the
    manifest rows of its added files, their sizes on disk, the
    removed-file count, the wall time since the call began (``t0``,
    `time.monotonic`) and how many version claims it took. No Spark
    job."""
    return {
        "rows_added": sum(s["rows"] for s in added.values()),
        "bytes_added": sum(
            os.path.getsize(os.path.join(path, rel)) for rel in added
        ),
        "files_added": len(added),
        "files_removed": len(removed),
        "duration_s": round(time.monotonic() - t0, 4),
        "attempts": attempts,
    }


def _rel_expr():
    """`_metadata.file_path` → the manifest's relpath (subdir/file) —
    the join key between scanned rows and DV positions."""
    parts = F.split(F.col("_metadata.file_path"), "/")
    return F.concat_ws("/", F.element_at(parts, -2), F.element_at(parts, -1))


def _apply_dv(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    dv_dirs: set[str],
    keep_tags: bool = False,
) -> DataFrame:
    """Filter out DV'd rows: anti-join the scan (tagged with its file
    relpath + parquet `_metadata.row_index`) against the union of the
    referenced DV parquet dirs on (file, position). Position-based —
    the Delta/Iceberg merge-on-read contract — so it needs no key
    columns and costs one distributed anti-join of O(deleted rows),
    never a rewrite. ``df`` must still expose `_metadata` (i.e. be a
    raw file scan, pre-select). ``keep_tags`` keeps the
    `_dv_rel`/`_dv_pos` tag columns (underscored: never collide with
    table columns) for callers that need the surviving rows'
    positions — `_metadata` itself is unreachable after the select."""
    if not dv_dirs and not keep_tags:
        return df
    tagged = df.select(
        "*",
        _rel_expr().alias("_dv_rel"),
        F.col("_metadata.row_index").alias("_dv_pos"),
    )
    if dv_dirs:
        pos = spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(path, d) for d in sorted(dv_dirs)]
        ).select(
            F.col("rel").alias("_dv_rel"), F.col("pos").alias("_dv_pos")
        )
        tagged = tagged.join(pos, ["_dv_rel", "_dv_pos"], "left_anti")
    return tagged if keep_tags else tagged.drop("_dv_rel", "_dv_pos")


def snapshot_files(path: str, version: int | None = None) -> dict:
    """Replay the log through ``version`` (default: latest) → the live
    file set: {relpath: stats}. Metadata-sized driver work, exactly
    like any table format's manifest resolution. Raises
    ``SnapshotExpired`` below the VACUUM horizon — the files may be
    physically gone, and a clean refusal beats a torn read."""
    v = latest_version(path) if version is None else version
    if v < 0 or not os.path.exists(_commit_path(path, v)):
        raise FileNotFoundError(f"no commit {version} in {path}")
    if v < vacuum_horizon(path):
        raise SnapshotExpired(
            f"version {v} of {path} predates the vacuum horizon "
            f"{vacuum_horizon(path)}; its data files may be deleted"
        )
    live: dict = {}
    for i in range(v + 1):
        c = _read_commit(path, i)
        for r in c.get("removed", []):
            live.pop(r, None)
        live.update(c.get("added", {}))
    return live


def _try_commit(path: str, version: int, payload: dict) -> None:
    """Atomically claim ``version``: write a temp manifest, then
    hard-link it into place — EEXIST from ANY concurrent writer
    becomes CommitConflict, the optimistic-concurrency signal."""
    cdir = _commits_dir(path)
    os.makedirs(cdir, exist_ok=True)
    tmp = os.path.join(cdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump({"version": version, **payload}, f)
    try:
        os.link(tmp, _commit_path(path, version))
    except FileExistsError as exc:
        raise CommitConflict(
            f"version {version} already committed in {path}"
        ) from exc
    finally:
        os.unlink(tmp)


def _key_cols(key) -> list[str]:
    """Normalize a key spec (column name or list of names) to a list."""
    return [key] if isinstance(key, str) else list(key)


def _validated_key_types(df: DataFrame, keys: list[str]) -> list[str]:
    """Spark simple type string per key column; fail FAST on a type
    the manifest stats can't range-compare (ADVICE r10: previously a
    string-keyed create succeeded and the first merge crashed)."""
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    types = []
    for k in keys:
        if k not in by_name:
            raise ValueError(f"key column {k!r} not in schema {sorted(by_name)}")
        if by_name[k] not in _SUPPORTED_KEY_TYPES:
            raise ValueError(
                f"unsupported merge-key type {by_name[k]!r} for column "
                f"{k!r}: supported = {sorted(_SUPPORTED_KEY_TYPES)}"
            )
        types.append(by_name[k])
    return types


def _json_stat(v):
    return v.isoformat() if isinstance(v, datetime.date) else v


def _py_stat(v, key_type: str):
    if key_type == "date" and isinstance(v, str):
        return datetime.date.fromisoformat(v)
    return v


def _bloom_key_expr(keys: list[str]):
    """The hashed key representation both bloom sides share: the key
    columns cast to string, unit-separator-joined. Must be IDENTICAL
    at write (position aggregation) and probe (membership test) —
    both go through this one expression."""
    return F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])


def _pack_bits(positions, m: int) -> bytes:
    """Set bit positions → little-endian uint64-word bitset bytes."""
    words = [0] * (m // 64)
    for p in positions:
        words[p >> 6] |= 1 << (p & 63)
    return struct.pack(f"<{len(words)}Q", *words)


def _footer_stats(full: str, cols: list[str]) -> list | None:
    """Per-file ``(name, rows, lo, hi)`` for every non-empty parquet
    file under ``full``, read from the footers the write just produced:
    ``rows`` is the footer's row count, ``lo``/``hi`` the min and max of
    each column of ``cols`` over the row groups' statistics (the stats
    Shark collects while it loads, instead of in a second scan).
    Returns None when some footer lacks min/max for a needed column
    (an all-NULL row group, or a value past the writer's statistics
    size cut-off) — the caller then falls back to the aggregate."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(full)):
        if not name.endswith(".parquet") or name.startswith((".", "_")):
            continue
        md = pq.read_metadata(os.path.join(full, name))
        if md.num_rows == 0:
            continue
        leaf = {md.schema.column(i).path: i for i in range(md.num_columns)}
        lo, hi = [], []
        for c in cols:
            if c not in leaf:
                return None
            mins, maxs = [], []
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(leaf[c]).statistics
                if st is None or not st.has_min_max:
                    return None
                mins.append(st.min)
                maxs.append(st.max)
            lo.append(min(mins))
            hi.append(max(maxs))
        out.append((name, md.num_rows, lo, hi))
    return out


def _aggregate_stats(
    spark: SparkSession,
    full: str,
    schema: StructType,
    keys: list[str],
    cols: list[str],
    bloom: dict | None = None,
) -> list:
    """The same per-file ``(name, rows, lo, hi)`` as `_footer_stats`
    from one `input_file_name()` aggregate over the written files,
    plus, with ``bloom`` (the table's {"m": bits, "k": hashes}
    config), each file's set of bloom bit positions as a fifth item —
    bounded by m per file regardless of row count (collect_set of
    pmod values), so the driver-side packing is O(m), never O(rows).
    Bit positions need the data, so a bloom table always takes this
    path."""
    aggs = []
    for i, c in enumerate(cols):
        aggs += [F.min(c).alias(f"lo_{i}"), F.max(c).alias(f"hi_{i}")]
    aggs.append(F.count(F.lit(1)).alias("rows"))
    if bloom:
        kc = _bloom_key_expr(keys)
        for s in range(bloom["k"]):
            aggs.append(
                F.collect_set(
                    F.pmod(F.xxhash64(kc, F.lit(s)), F.lit(bloom["m"])).cast(
                        "int"
                    )
                ).alias(f"bp_{s}")
            )
    rows = (
        spark.read.schema(schema)
        .parquet(full)
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    )
    out = []
    for r in rows:
        item = (
            os.path.basename(r["f"]),
            r["rows"],
            [r[f"lo_{i}"] for i in range(len(cols))],
            [r[f"hi_{i}"] for i in range(len(cols))],
        )
        if bloom:
            item += ({p for s in range(bloom["k"]) for p in r[f"bp_{s}"]},)
        out.append(item)
    return out


def _write_data_files(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key,
    bloom: dict | None = None,
    stat_cols: list[str] | None = None,
) -> dict:
    """Stage one immutable data subdir and return {relpath: stats}
    with per-file [min, max] ranges FOR EVERY KEY COLUMN plus row
    counts (the manifest every table format records at write time).
    The stats come from the parquet footers just written
    (`_footer_stats`), so a commit launches no job beyond the write;
    the `_aggregate_stats` read-back runs only for a bloom table or
    when a footer lacks min/max. 0-row files get no manifest entry.
    The subdir is INVISIBLE until a commit names it.

    With ``bloom`` (r11 §20.2) one `<file>.bloom` bitset sidecar is
    written per data file (the Iceberg-puffin shape: the JSON manifest
    stays metadata-sized, membership bits live beside the data). The
    stats row records "bloom": true so the probe knows which files can
    be membership-tested.

    ``stat_cols`` (r11 §20.3) records per-file [min, max] for EXTRA
    columns under a "cols" key — the generalized data-skipping stats
    a z-order compaction needs so predicates on EITHER clustered
    dimension prune files (Delta collects the same for its first N
    columns)."""
    keys = _key_cols(key)
    cols = keys + list(stat_cols or [])
    sub = f"d-{uuid.uuid4().hex[:12]}"
    full = os.path.join(path, sub)
    df.write.parquet(full)
    stats = None if bloom else _footer_stats(full, cols)
    if stats is None:
        stats = _aggregate_stats(spark, full, df.schema, keys, cols, bloom)
    nk = len(keys)
    out = {}
    for name, rows, lo, hi, *bits in stats:
        rel = os.path.join(sub, name)
        out[rel] = {
            "lo": [_json_stat(x) for x in lo[:nk]],
            "hi": [_json_stat(x) for x in hi[:nk]],
            "rows": rows,
        }
        if stat_cols:
            out[rel]["cols"] = {
                c: [_json_stat(lo[nk + j]), _json_stat(hi[nk + j])]
                for j, c in enumerate(stat_cols)
            }
        if bits:
            with open(os.path.join(path, rel + ".bloom"), "wb") as fh:
                fh.write(_pack_bits(bits[0], bloom["m"]))
            out[rel]["bloom"] = True
    return out


def _cleanup_staged(path: str, staged: dict) -> None:
    """Best-effort removal of a conflicted attempt's orphaned staging
    subdirs (ADVICE r10: every re-plan used to leak one d-<uuid>)."""
    for sub in {rel.split(os.sep, 1)[0] for rel in staged}:
        shutil.rmtree(os.path.join(path, sub), ignore_errors=True)


def create_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    key,
    n_files: int = 4,
    partition_by: str | None = None,
    bloom_m_bits: int | None = None,
    bloom_k: int = 4,
) -> int:
    """Commit 0: range-partition ``df`` on the key column(s) into
    ``n_files`` immutable files (disjoint key ranges — what makes
    MERGE's touched-file pruning selective) and write the first
    manifest, which also records the key types and table schema
    (schema persistence is what keeps an emptied table readable and
    re-insertable — ADVICE r10).

    ``partition_by`` declares the LEADING key column as the partition
    column: the write loops once per partition value (a bounded
    partition-domain collect, the same shape as the sbucket prune)
    writing ``n_files`` range-partitioned files per value, so every
    file's partition stats pin lo == hi == value and the merge prunes
    whole partitions before the key-range probe. The partition column
    must be part of the merge key — pruning on a mutable payload
    column would miss a row that changed partitions.

    ``bloom_m_bits`` (r11 §20.2) enables per-file KEY-MEMBERSHIP bloom
    sidecars of that many bits (power of two; ``bloom_k`` hash
    functions): for a hash-distributed key (content digests, UUIDs —
    the dedup corpus's natural identity) every file's [min, max] spans
    the whole domain and range stats prune NOTHING, so a sparse merge
    or takedown would rewrite every file; the bloom probe restores
    O(true touched files). ~10 bits/key at the planner's file target
    is the classic 1% FP point — a false positive only costs one
    needless file read, never a wrong result."""
    t0 = time.monotonic()
    keys = _key_cols(key)
    key_types = _validated_key_types(df, keys)
    if partition_by is not None and (not keys or keys[0] != partition_by):
        raise ValueError(
            f"partition_by={partition_by!r} must be the leading key "
            f"column (got key={keys}): partition values take part in "
            "merge pruning, so they must be row-identity, not payload"
        )
    bloom = None
    if bloom_m_bits is not None:
        if bloom_m_bits < 64 or bloom_m_bits & (bloom_m_bits - 1):
            raise ValueError(
                f"bloom_m_bits must be a power of two >= 64, got {bloom_m_bits}"
            )
        bloom = {"m": int(bloom_m_bits), "k": int(bloom_k)}
    added = _write_partitioned(
        spark, path, df, keys, partition_by, n_files, bloom
    )
    _try_commit(
        path,
        0,
        {
            "op": "create",
            "key": keys,
            "key_types": key_types,
            "partition_by": partition_by,
            "schema": df.schema.json(),
            "bloom": bloom,
            "added": added,
            "metrics": _metrics(path, added, [], t0, 1),
        },
    )
    return 0


def _write_partitioned(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    keys: list[str],
    partition_by: str | None,
    n_files: int,
    bloom: dict | None = None,
) -> dict:
    """The shared create/compact write path: one staged subdir per
    partition value (or one total for an unpartitioned table), each
    range-partitioned on the key columns."""
    if partition_by is None:
        return _write_data_files(
            spark,
            path,
            df.repartitionByRange(max(n_files, 1), *keys),
            keys,
            bloom,
        )
    rest = keys[1:] or keys
    vals = sorted(
        r[0] for r in df.select(partition_by).distinct().collect()
    )
    added: dict = {}
    for v in vals:
        part = df.filter(F.col(partition_by) == F.lit(v))
        added.update(
            _write_data_files(
                spark,
                path,
                part.repartitionByRange(max(n_files, 1), *rest),
                keys,
                bloom,
            )
        )
    return added


def _current_schema(path: str, version: int | None = None) -> StructType:
    """The table schema AS OF ``version`` (default latest): the last
    commit ≤ version that recorded a "schema" wins (commit 0 always
    records one; an evolving merge records the widened one — r11
    schema evolution). Metadata-sized log replay, same cost as
    snapshot resolution."""
    v = latest_version(path) if version is None else version
    schema_json = None
    for i in range(v + 1):
        schema_json = _read_commit(path, i).get("schema") or schema_json
    return StructType.fromJson(json.loads(schema_json))


def read_snapshot(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Time-travel read: the live files of ``version`` (default
    latest), listed from the LOG — staged/aborted subdirs and files
    removed by later commits are invisible by construction. An EMPTY
    live set (e.g. a merge deleted every row) returns an empty frame
    with the schema commit 0 recorded — a valid empty table, not an
    error (ADVICE r10: previously FileNotFoundError, which made an
    emptied table permanently unreadable and un-insertable).

    The scan is pinned to the schema AS OF the requested version (the
    last one any commit ≤ version recorded, `_scan`): no footer is
    read before an action, the columns come back in the recorded
    order, and files written before a schema evolution read the new
    columns as NULL — the same read contract Delta/Iceberg give an
    evolved table.

    Deletion vectors (r11 §20.2): rows MOR-deleted as of the
    requested version are filtered by one position anti-join
    (`_apply_dv`); a DV-free table skips the join entirely."""
    live = snapshot_files(path, version)
    schema = _current_schema(path, version)
    if not live:
        return spark.createDataFrame([], schema)
    dvm = snapshot_dv(path, version)
    return _apply_dv(
        spark,
        path,
        _scan(spark, path, live, schema),
        {d for dirs in dvm.values() for d in dirs},
    )


def read_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    version: int | None = None,
) -> DataFrame:
    """MANIFEST-PRUNED POINT LOOKUP (r11 §20.2): the read-side twin of
    the merge's touched-file probe. `read_snapshot` scans every live
    file and leaves pruning to parquet row groups; for a keyed lookup
    that is O(table) listing/footer work at 100 TB. This path probes
    the requested keys against the manifest zone maps AND bloom
    sidecars first — the same `_touched_files` conjunction the merge
    uses — then scans ONLY the surviving files, applies any deletion
    vectors, and semi-joins the keys (the bloom's false positives and
    the files' non-matching rows fall out here, so pruning can never
    change the answer, only the bytes read). Returns the matching
    rows as of ``version`` (default latest).

    Cost shape: O(distinct keys × file manifest) driver/broadcast
    probe + a scan of O(true files holding the keys) — for a
    bloom-enabled hash-keyed table that is O(batch) files, the same
    bound the write side gets. This is Delta/Iceberg data skipping
    applied to reads, not just merges."""
    meta = table_meta(path)
    keys = meta["key"]
    live = snapshot_files(path, version)
    schema = _current_schema(path, version)
    if not live:
        return spark.createDataFrame([], schema)
    touched = _touched_files(
        spark, live, keys_df, keys, meta["key_types"], path, meta.get("bloom")
    )
    if not touched:
        return spark.createDataFrame([], schema)
    dvm = snapshot_dv(path, version)
    scan = _apply_dv(
        spark,
        path,
        _scan(spark, path, touched, schema),
        {d for rel in touched for d in dvm.get(rel, [])},
    )
    return scan.join(
        F.broadcast(keys_df.select(*keys).distinct()), keys, "leftsemi"
    )


def read_where_range(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """STATS-PRUNED RANGE SCAN (r11 §20.3): read only the files whose
    manifest "cols" stats for ``col`` intersect [lo, hi] (files
    written before the stats existed stay conservatively included),
    apply deletion vectors, and filter exactly — pruning cuts bytes
    read, never the answer. After a `zorder_by` compaction both
    clustered dimensions carry these stats, so range predicates on
    EITHER skip files; under single-key layout only the sort key
    could. Driver work is one metadata-sized manifest pass — the
    file-level skipping a parquet row-group statistic cannot do
    (listing and footer I/O already happened by then)."""
    live = snapshot_files(path, version)
    schema = _current_schema(path, version)
    if not live:
        return spark.createDataFrame([], schema)
    jlo, jhi = _json_stat(lo), _json_stat(hi)
    keep = []
    for rel, s in live.items():
        r = s.get("cols", {}).get(col)
        if r is None or (r[0] <= jhi and r[1] >= jlo):
            keep.append(rel)
    dvm = snapshot_dv(path, version)
    if not keep:
        return spark.createDataFrame([], schema)
    scan = _apply_dv(
        spark,
        path,
        _scan(spark, path, keep, schema),
        {d for rel in keep for d in dvm.get(rel, [])},
    )
    return scan.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))


def read_changes(
    spark: SparkSession,
    path: str,
    v_from: int = 0,
    v_to: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED (r11): the logical row changes each commit in
    [v_from, v_to] made, reconstructed from the commit's OWN files —
    never a full-snapshot diff. Per merge commit the removed files
    (the pre-image of everything the merge read) full-outer-join the
    added files (its post-image) on the merge key:

      * key only in added            → ``insert``
      * key only in removed          → ``delete``
      * key in both, payload differs → ``update_preimage`` +
                                       ``update_postimage``
      * key in both, payload equal   → a CARRIED row (the rewrite
        copied it verbatim) — not a change, emitted nowhere.

    ``create`` commits emit every row as ``insert``; ``compact`` and
    ``vacuum`` commits change no rows and emit nothing. Output schema
    is the table schema (as of each commit) plus ``_change_type
    string`` and ``_commit_version long`` — the Delta CDF contract.

    Cost shape at 100 TB: each commit's feed reads O(files that commit
    touched), not O(table) — a nightly MERGE over 0.1% of partitions
    yields a CDF scan of 0.1% of the table, which is what makes
    downstream incremental consumers (the persisted dedup state, a
    streaming tail) affordable. Driver work is one metadata-sized log
    replay; everything row-shaped stays in Spark.

    Raises ``SnapshotExpired`` when a commit's pre-image predates the
    VACUUM horizon (its removed files may be physically gone)."""
    meta = table_meta(path)
    keys = meta["key"]
    last = latest_version(path) if v_to is None else v_to
    horizon = vacuum_horizon(path)
    frames: list[DataFrame] = []
    for v in range(v_from, last + 1):
        c = _read_commit(path, v)
        op = c.get("op")
        if op in ("vacuum", "compact"):
            continue  # layout/retention commits: zero logical changes
        schema = _current_schema(path, v)
        cols = [f.name for f in schema.fields]
        payload = [x for x in cols if x not in keys]
        added = sorted(c.get("added", {}))
        removed = sorted(c.get("removed", []))
        if v < horizon:
            raise SnapshotExpired(
                f"change feed for version {v} of {path} predates the "
                f"vacuum horizon {horizon}; its files may be deleted"
            )
        if removed and v - 1 < horizon:
            raise SnapshotExpired(
                f"change feed for version {v} of {path} needs its "
                f"pre-image (version {v - 1}), which predates the "
                f"vacuum horizon {horizon}"
            )
        if op == "delete_mor":
            ver = F.lit(v).cast("long").alias("_commit_version")
            # the commit's DV holds exactly its NEWLY deleted
            # positions (the write path excludes already-DV'd rows),
            # so the pre-image is one semi-join of the still-live
            # data files against that one DV dir — O(commit), like
            # every other feed branch
            dvinfo = c["dv"]
            tagged = _scan(spark, path, dvinfo["files"], schema).select(
                "*",
                _rel_expr().alias("_dv_rel"),
                F.col("_metadata.row_index").alias("_dv_pos"),
            )
            pos = spark.read.schema(_DV_SCHEMA).parquet(
                os.path.join(path, dvinfo["dir"])
            ).select(
                F.col("rel").alias("_dv_rel"),
                F.col("pos").alias("_dv_pos"),
            )
            dead = tagged.join(pos, ["_dv_rel", "_dv_pos"], "leftsemi")
            frames.append(
                dead.select(*cols, F.lit("delete").alias("_change_type"), ver)
            )
            continue

        def _read(rels: list[str]) -> DataFrame:
            if not rels:
                return spark.createDataFrame([], schema)
            return _scan(spark, path, rels, schema)

        ver = F.lit(v).cast("long").alias("_commit_version")
        post = _read(added)
        if op in ("create", "append"):  # whole commit = inserts
            frames.append(
                post.select(
                    *cols, F.lit("insert").alias("_change_type"), ver
                )
            )
            continue
        pre = _read(removed)

        # the lit marker makes side-presence detectable even for a
        # key-only table (struct() with zero fields is invalid)
        def _mark(d: DataFrame) -> DataFrame:
            return d.select(
                *[F.col(k) for k in keys],
                F.struct(
                    F.lit(1).alias("_m"), *[F.col(p) for p in payload]
                ).alias("_s"),
            )

        # ONE multiset diff instead of a per-key full-outer join (r11
        # green-up fix + optimization): the key join fanned out
        # |pre-copies| x |post-copies| on duplicate-key tables (the
        # edge-dimension sweep's duplicated nation key emitted 8
        # phantom image pairs) and shuffled every carried row through
        # a join. Instead, count physical rows per (key, payload) on
        # each side in one map-side-combinable aggregation; equal
        # counts cancel (carried rows — the bulk of every rewritten
        # file — drop HERE, before any further shuffle); leftovers
        # classify per key: both sides present -> update pre/post
        # images (one per physical row), pre-only -> delete,
        # post-only -> insert. Identical output to the old key-join
        # classification on unique-key tables; physical-row honest on
        # duplicated keys.
        tagged = (
            _mark(pre)
            .withColumn("_side", F.lit("p"))
            .unionByName(_mark(post).withColumn("_side", F.lit("q")))
        )
        cnt = tagged.groupBy(*keys, "_s").agg(
            F.count(F.when(F.col("_side") == "p", 1)).alias("_pn"),
            F.count(F.when(F.col("_side") == "q", 1)).alias("_qn"),
        )
        lo = cnt.select(
            *keys,
            "_s",
            (F.col("_pn") - F.least("_pn", "_qn")).alias("_lp"),
            (F.col("_qn") - F.least("_pn", "_qn")).alias("_lq"),
        ).filter((F.col("_lp") > 0) | (F.col("_lq") > 0))
        flags = lo.groupBy(*keys).agg(
            F.max(F.col("_lp") > 0).alias("_hasp"),
            F.max(F.col("_lq") > 0).alias("_hasq"),
        )
        pre_t = F.when(F.col("_hasq"), "update_preimage").otherwise("delete")
        post_t = F.when(F.col("_hasp"), "update_postimage").otherwise(
            "insert"
        )
        kinds = F.concat(
            F.array_repeat(
                F.struct(pre_t.alias("t"), F.col("_s").alias("s")),
                F.col("_lp").cast("int"),
            ),
            F.array_repeat(
                F.struct(post_t.alias("t"), F.col("_s").alias("s")),
                F.col("_lq").cast("int"),
            ),
        )
        ex = (
            lo.join(flags, keys)
            .select(*[F.col(k) for k in keys], F.explode(kinds).alias("_e"))
        )
        frames.append(
            ex.select(
                *[F.col(k) for k in keys],
                *[F.col(f"_e.s.{p}").alias(p) for p in payload],
                F.col("_e.t").alias("_change_type"),
                ver,
            ).select(*cols, "_change_type", "_commit_version")
        )
    schema = _current_schema(path, last)
    if not frames:
        empty = spark.createDataFrame([], schema)
        return empty.select(
            "*",
            F.lit("").alias("_change_type"),
            F.lit(0).cast("long").alias("_commit_version"),
        ).limit(0)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    # normalize to the final schema's column order (a mid-range
    # evolution leaves earlier frames narrower; the union backfills)
    return out.select(
        *[f.name for f in schema.fields], "_change_type", "_commit_version"
    )


def _touched_files(
    spark: SparkSession,
    live: dict,
    changes: DataFrame,
    keys: list[str],
    key_types: list[str],
    path: str | None = None,
    bloom: dict | None = None,
) -> list[str]:
    """Files whose per-column [min, max] ranges ALL hold at least one
    change key — the conservative zone-map conjunction (a file can
    contain key k only if every component k_i lies inside that file's
    [lo_i, hi_i]; parquet row-group pruning runs the same test).
    Computed as one broadcast range-join of the (metadata-sized) file
    list against the distinct change keys — never collecting the
    change set. Typed from the manifest's recorded key types (r11 —
    string/date/composite keys; previously hardcoded long).

    With a table ``bloom`` config (r11 §20.2), range survivors that
    carry a bloom sidecar get a second, MEMBERSHIP probe: the
    candidate files' bitsets (loaded driver-side — O(range survivors
    × m/8 bytes), never O(live files)) broadcast-join the distinct
    change keys on the k-fold bit test; a file survives only if some
    key hits all k bits. For hash-distributed keys — where every
    range spans the whole domain and phase 1 prunes nothing — this is
    what keeps a sparse merge O(true touched files). Files without a
    sidecar (pre-bloom history) stay conservatively touched."""
    fields = ["rel string"]
    for i, t in enumerate(key_types):
        fields += [f"lo_{i} {t}", f"hi_{i} {t}"]
    rows = []
    for rel, s in live.items():
        row: list = [rel]
        for i, t in enumerate(key_types):
            row += [_py_stat(s["lo"][i], t), _py_stat(s["hi"][i], t)]
        rows.append(tuple(row))
    stats = spark.createDataFrame(rows, ", ".join(fields))
    cond = None
    for i, k in enumerate(keys):
        c = (F.col(f"k_{i}") >= F.col(f"lo_{i}")) & (
            F.col(f"k_{i}") <= F.col(f"hi_{i}")
        )
        cond = c if cond is None else (cond & c)
    dkeys = changes.select(
        *[F.col(k).alias(f"k_{i}") for i, k in enumerate(keys)]
    ).distinct()
    hit = dkeys.join(F.broadcast(stats), cond).select("rel").distinct().collect()
    candidates = [r["rel"] for r in hit]
    if not bloom or path is None or not candidates:
        return candidates
    testable = [rel for rel in candidates if live[rel].get("bloom")]
    if not testable:
        return candidates
    m, k_hashes = bloom["m"], bloom["k"]
    brows = []
    for rel in testable:
        with open(os.path.join(path, rel + ".bloom"), "rb") as fh:
            raw = fh.read()
        words = struct.unpack(f"<{len(raw) // 8}Q", raw)
        brows.append((rel, [w - (1 << 64) if w >= 1 << 63 else w for w in words]))
    bits = spark.createDataFrame(brows, "rel string, bits array<long>")
    probe = dkeys.select(
        _bloom_key_expr([f"k_{i}" for i in range(len(keys))]).alias("_bk")
    )
    member = None
    for s in range(k_hashes):
        t = F.expr(
            f"(bits[CAST(pmod(xxhash64(_bk, {s}), {m}) / 64 AS INT)] & "
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(xxhash64(_bk, {s}), {m}) % 64 AS INT))) != 0"
        )
        member = t if member is None else (member & t)
    surviving = {
        r["rel"]
        for r in probe.join(F.broadcast(bits), member)
        .select("rel")
        .distinct()
        .collect()
    }
    return [rel for rel in candidates if rel not in set(testable) - surviving]


def _intervening_commits_disjoint(
    spark: SparkSession,
    path: str,
    seen_through: int,
    new_latest: int,
    touched: list[str],
    changes: DataFrame,
    keys: list[str],
    key_types: list[str],
    bloom: dict | None = None,
) -> bool:
    """Delta-style file-level conflict detection (VERDICT r10 task 3):
    a conflicted merge may commit its already-staged result at the new
    head WITHOUT re-planning iff every intervening commit is logically
    disjoint — it removed none of the files this merge read (our
    rewrite is still built on live data) and added no file whose key
    ranges intersect our change keys (no row we should have merged
    against appeared). VACUUM commits touch no data and never
    conflict."""
    ours = set(touched)
    for v in range(seen_through + 1, new_latest + 1):
        c = _read_commit(path, v)
        if set(c.get("removed", [])) & ours:
            return False
        # a merge-on-read delete LOGICALLY modified the file even
        # though it removed nothing — our staged rewrite read the
        # pre-DV rows, so committing it would resurrect them
        if c.get("dv") and set(c["dv"]["files"]) & ours:
            return False
        added = c.get("added", {})
        if added and _touched_files(
            spark, added, changes, keys, key_types, path, bloom
        ):
            return False
    return True


def merge_into(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key=None,
    op_col: str = "op",
    max_retries: int = 3,
    attempt_log: list | None = None,
    evolve_schema: bool = False,
) -> int:
    """MERGE INTO the table: full CDC semantics (op ∈ {'U','I','D'},
    the `merge_apply` contract) rewriting ONLY the files the change
    keys touch; untouched file paths carry forward verbatim. On a
    log-advanced conflict, file-level detection decides the cheap
    path: if every intervening commit is DISJOINT (touched none of
    our read set, added nothing our change keys hit) the staged
    result commits at the new head as-is; otherwise the whole plan
    re-runs against the new snapshot (re-probe ranges, re-merge —
    a blind re-link would commit stale data) after rmtree'ing the
    orphaned staging. 1 attempt + up to ``max_retries`` re-plans
    (ADVICE r10: the old loop silently meant max_retries TOTAL).
    ``attempt_log`` (tests) receives ("planned"|"committed"|
    "skip_ahead"|"replan", version) events.

    Schema evolution (r11): with ``evolve_schema=True`` a change set
    carrying payload columns the table lacks WIDENS the table — the
    base files this merge reads are scanned with the widened schema,
    so the new columns read as NULL before the resolve, and the
    commit records the widened schema, which `read_snapshot` /
    `read_changes` honor per version. Untouched files are still
    carried verbatim (old footers; the pinned scan reads their new
    columns as NULL — rewriting 100 TB to add a column is exactly
    what evolution exists to avoid). Rewritten files are stored in
    the table's column order, so every footer agrees with the log.
    Without the flag an extra column is a loud error, never a silent
    drop. An evolving change set must still carry every EXISTING
    payload column — evolution adds columns, it does not make the
    CDC contract partial."""

    def _log(event: str, v: int) -> None:
        if attempt_log is not None:
            attempt_log.append((event, v))

    t0 = time.monotonic()
    meta = table_meta(path)
    keys = _key_cols(key) if key is not None else meta["key"]
    key_types = meta["key_types"]
    schema = _current_schema(path)
    table_cols = [f.name for f in schema.fields]
    by_name = {f.name: f for f in changes.schema.fields}
    new_cols = [
        c for c in changes.columns
        if c not in table_cols and c != op_col
    ]
    if new_cols and not evolve_schema:
        raise ValueError(
            f"change set carries columns {new_cols} the table lacks; "
            "pass evolve_schema=True to widen the table schema"
        )
    if new_cols:
        schema = StructType(
            list(schema.fields) + [by_name[c] for c in new_cols]
        )
        table_cols += new_cols
    attempts = 0
    for _ in range(max_retries + 1):
        v = latest_version(path)
        live = snapshot_files(path, v)
        touched = _touched_files(
            spark, live, changes, keys, key_types, path, meta.get("bloom")
        )
        if touched:
            # apply any pending deletion vectors on the files this
            # merge rewrites — a copy-on-write rewrite must not
            # resurrect MOR-deleted rows (the rewrite then CLEARS the
            # DV: the file leaves the live set, snapshot_dv drops it)
            dvm = snapshot_dv(path, v)
            base = _apply_dv(
                spark,
                path,
                _scan(spark, path, touched, schema),
                {d for rel in touched for d in dvm.get(rel, [])},
            )
        else:
            # pure insert outside every range: merge against an empty
            # base with the table's (possibly just-widened) schema
            base = spark.createDataFrame([], schema)
        merged = merge_apply(base, changes, key=keys, op_col=op_col)
        staged = _write_data_files(
            spark,
            path,
            merged.select(*table_cols).repartitionByRange(
                max(len(touched), 1), *keys
            ),
            keys,
            meta.get("bloom"),
        )
        _log("planned", v)
        target = v + 1
        seen_through = v
        # each skip-ahead consumes another writer's committed version,
        # so progress is system-wide; the cap only bounds how long ONE
        # writer chases a commit storm before re-planning afresh
        for _skip in range(16):
            attempts += 1
            try:
                _try_commit(
                    path,
                    target,
                    {
                        "op": "merge",
                        "added": staged,
                        "removed": touched,
                        # an evolving merge records the widened schema;
                        # _current_schema replays the latest one
                        **({"schema": schema.json()} if new_cols else {}),
                        "metrics": _metrics(
                            path, staged, touched, t0, attempts
                        ),
                    },
                )
                _log("committed", target)
                return target
            except CommitConflict:
                new_latest = latest_version(path)
                if _intervening_commits_disjoint(
                    spark, path, seen_through, new_latest,
                    touched, changes, keys, key_types,
                    meta.get("bloom"),
                ):
                    _log("skip_ahead", new_latest + 1)
                    seen_through = new_latest
                    target = new_latest + 1
                    continue
                _log("replan", new_latest)
                _cleanup_staged(path, staged)
                break
        else:  # skip-ahead cap hit: re-plan afresh like any conflict
            _cleanup_staged(path, staged)
    raise CommitConflict(
        f"merge_into gave up after {max_retries + 1} attempts"
    )


def last_txn_version(path: str, txn_app: str) -> int:
    """Highest ``txn_version`` any commit recorded for ``txn_app``
    (-1 if none) — one metadata-sized log replay, the lookup behind
    idempotent writer transactions (Delta's txnAppId/txnVersion)."""
    best = -1
    for v in range(latest_version(path) + 1):
        t = _read_commit(path, v).get("txn")
        if t and t.get("app") == txn_app:
            best = max(best, int(t["version"]))
    return best


def append_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    n_files: int = 1,
    max_retries: int = 3,
    txn_app: str | None = None,
    txn_version: int | None = None,
) -> int:
    """BLIND APPEND (r11 §20.2): stage ``df`` as new range-partitioned
    files and commit added-only — no touched-file probe, no rewrite,
    O(batch) regardless of table size. This is the streaming-ingest
    workhorse (and the streaming tail's native commit type: appends
    stream, merges refuse). Keys are NOT deduplicated against the
    standing table — like Delta's INSERT/append, identity is the
    ingest pipeline's contract; use `merge_into` for upserts.

    Each append batch spans its own key range, so after N appends the
    per-file [min, max] zones overlap and range pruning degrades
    toward O(all files) — exactly the shape the per-file bloom
    sidecars (written here too, when the table is bloom-enabled)
    exist to restore to O(true files).

    A blind append never logically conflicts with anything — on a
    version race it re-claims the next head with the SAME staged
    files (no re-plan, no re-write).

    ``txn_app``/``txn_version`` (r11 §20.3) make the append
    IDEMPOTENT — Delta's txnAppId/txnVersion contract: the commit
    records the pair, and a later append with the same app and a
    version ≤ the highest already committed is SKIPPED (returns the
    current table version, stages nothing). That is what a
    foreachBatch streaming sink needs for exactly-once: a crashed
    driver redelivers its last micro-batch with the same epoch id,
    and the replay must land zero rows. The dedup check re-runs
    inside the commit retry loop, so two racing writers of the SAME
    epoch cannot both land it."""
    if (txn_app is None) != (txn_version is None):
        raise ValueError("txn_app and txn_version must be set together")
    t0 = time.monotonic()
    meta = table_meta(path)
    schema = _current_schema(path)
    want = [f.name for f in schema.fields]
    if sorted(df.columns) != sorted(want):
        raise ValueError(
            f"append schema {sorted(df.columns)} != table {sorted(want)}"
        )
    if txn_app is not None and last_txn_version(path, txn_app) >= txn_version:
        return latest_version(path)  # duplicate epoch: exactly-once skip
    staged = _write_data_files(
        spark,
        path,
        df.select(*want).repartitionByRange(max(n_files, 1), *meta["key"]),
        meta["key"],
        meta.get("bloom"),
    )
    payload = {"op": "append", "added": staged}
    if txn_app is not None:
        payload["txn"] = {"app": txn_app, "version": int(txn_version)}
    for attempt in range(1, max_retries + 2):
        v = latest_version(path)
        if (
            txn_app is not None
            and last_txn_version(path, txn_app) >= txn_version
        ):
            # a racing writer of the same epoch beat us to it
            _cleanup_staged(path, staged)
            return v
        payload["metrics"] = _metrics(path, staged, [], t0, attempt)
        try:
            _try_commit(path, v + 1, payload)
            return v + 1
        except CommitConflict:
            continue
    _cleanup_staged(path, staged)
    raise CommitConflict(
        f"append_table gave up after {max_retries + 1} attempts"
    )


def delete_keys_mor(
    spark: SparkSession,
    path: str,
    del_keys: DataFrame,
    max_retries: int = 3,
) -> int:
    """MERGE-ON-READ DELETE (r11 §20.2): remove the keyed rows by
    committing per-file DELETION VECTORS — parquet position lists
    (rel, `_metadata.row_index`) staged under a `dv-<uuid>` subdir —
    instead of rewriting data files. The commit adds NO data files and
    removes NONE; `read_snapshot`/`read_changes`/`merge_into` apply
    the vectors at scan time, `compact_table` materializes them (its
    rewrite drops the rows and clears the DV state), `vacuum_table`
    reclaims DV dirs no retained version references.

    This is the takedown shape the CDF scale probe priced: a sparse
    uniform delete batch under copy-on-write rewrites every file whose
    key range it clips (at 5M rows: 250/250 files, 24.7 s —
    CDF_SCALE_r11.json); under merge-on-read the same batch writes
    O(batch) positions and touches zero data files. Delta's deletion
    vectors and Iceberg's position deletes are the same trade:
    write-cheap deletes, one extra anti-join per read, until
    compaction folds them in.

    Cost shape: one touched-file probe (range + bloom zone maps, the
    same pruning MERGE uses), one scan of the touched files only
    (column-pruned to the key columns + metadata), one semi-join
    against the distinct delete keys. Rows already DV'd are excluded,
    so each commit's vector holds exactly the NEWLY deleted positions
    — which is what lets the change feed emit per-commit deletes
    without a set difference. Returns the committed version, or the
    current version unchanged when no live row matches (no empty
    commit, idempotent re-delete)."""
    t0 = time.monotonic()
    meta = table_meta(path)
    keys, key_types = meta["key"], meta["key_types"]
    for attempt in range(1, max_retries + 2):
        v = latest_version(path)
        live = snapshot_files(path, v)
        touched = _touched_files(
            spark, live, del_keys, keys, key_types, path, meta.get("bloom")
        )
        if not touched:
            return v
        dvm = snapshot_dv(path, v)
        base = _apply_dv(
            spark,
            path,
            _scan(spark, path, touched, _current_schema(path, v)),
            {d for r in touched for d in dvm.get(r, [])},
            keep_tags=True,
        ).select(
            *keys,
            F.col("_dv_rel").alias("rel"),
            F.col("_dv_pos").alias("pos"),
        )
        hits = base.join(
            del_keys.select(*keys).distinct(), keys, "leftsemi"
        ).select("rel", "pos")
        sub = f"dv-{uuid.uuid4().hex[:12]}"
        hits.write.parquet(os.path.join(path, sub))
        per_file = (
            spark.read.schema(_DV_SCHEMA)
            .parquet(os.path.join(path, sub))
            .groupBy("rel")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )  # metadata-sized: one row per touched file
        if not per_file:
            shutil.rmtree(os.path.join(path, sub), ignore_errors=True)
            return v  # keys fell in range/bloom FPs only: nothing died
        try:
            _try_commit(
                path,
                v + 1,
                {
                    "op": "delete_mor",
                    "added": {},
                    "removed": [],
                    "dv": {
                        "dir": sub,
                        "files": sorted(r["rel"] for r in per_file),
                        "rows": int(sum(r["n"] for r in per_file)),
                    },
                    "metrics": _metrics(path, {}, [], t0, attempt),
                },
            )
            return v + 1
        except CommitConflict:
            # positions depend on the live set and prior DVs — a
            # conflicted attempt always re-plans against the new head
            shutil.rmtree(os.path.join(path, sub), ignore_errors=True)
            continue
    raise CommitConflict(
        f"delete_keys_mor gave up after {max_retries + 1} attempts"
    )


def _zorder_col(df: DataFrame, c1: str, c2: str):
    """16-bit Morton z-value of two columns normalized to 8-bit cells
    — the same all-integer interleave `layout_zorder_stats` audits
    (layout.py:225), here as the compaction's cluster key. Bounds come
    from ONE 1-row aggregate collected driver-side (metadata-sized —
    the same sample a repartitionByRange write draws); `div` floor
    division keeps every term integer and engine-exact. A degenerate
    dimension (min == max) contributes constant 0 bits."""
    by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    for c in (c1, c2):
        if by_name[c] not in ("tinyint", "smallint", "int", "bigint", "date"):
            raise ValueError(
                f"zorder_by column {c!r} has type {by_name[c]!r}: the "
                "Morton normalization needs an integer or date dimension"
            )

    def unit(c: str, mn, mx):
        if by_name[c] == "date":
            span = max((mx - mn).days, 1) if mx != mn else 1
            return F.expr(f"(datediff({c}, '{mn.isoformat()}') * 255) div {span}")
        span = mx - mn if mx != mn else 1
        return F.expr(f"(({c} - {mn}) * 255) div {span}")

    b = df.agg(
        F.min(c1), F.max(c1), F.min(c2), F.max(c2)
    ).collect()[0]
    cx, cy = unit(c1, b[0], b[1]), unit(c2, b[2], b[3])
    z = None
    for i in range(8):
        tx = F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)), 2 * i)
        ty = F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = tx + ty if z is None else z + tx + ty
    return z.cast("long")


def compact_table(
    spark: SparkSession,
    path: str,
    n_files: int,
    max_retries: int = 3,
    zorder_by: tuple[str, str] | None = None,
) -> int:
    """OPTIMIZE: one commit whose added files hold exactly the live
    rows, bin-packed to ``n_files`` (per partition value, for a
    partitioned table — the one-value-per-file manifest property
    survives compaction) — rows never change, only layout (the
    read-back hash equality is the test's lossless proof). Retries
    through conflicts like `merge_into` (r11: a maintenance job must
    survive a concurrent writer); compaction reads the WHOLE live
    set, so any intervening data commit overlaps by construction and
    the retry is always a re-plan against the new snapshot.

    ``zorder_by=(c1, c2)`` (r11 §20.3 — Delta's OPTIMIZE ZORDER):
    instead of key-range layout, files are cut along the 16-bit
    Morton curve of the two columns, so each file covers a small
    RECTANGLE in (c1 × c2) space and the manifest's per-file "cols"
    stats (recorded for both dimensions) prune on EITHER — a
    single-key sort serves only its own key. The trade is explicit:
    per-file KEY ranges widen, so zone-map merge pruning degrades —
    bloom sidecars (still written for bloom-enabled tables) keep
    key-membership pruning exact regardless of layout, which is why
    the two features compose. Unpartitioned tables only."""
    t0 = time.monotonic()
    meta = table_meta(path)
    keys, partition_by = meta["key"], meta["partition_by"]
    if zorder_by is not None and partition_by is not None:
        raise ValueError("zorder_by is for unpartitioned tables")
    for attempt in range(1, max_retries + 2):
        v = latest_version(path)
        live = snapshot_files(path, v)
        if not live:
            return v  # nothing to compact; no empty commit
        # read_snapshot so pending deletion vectors are applied and an
        # EVOLVED table's pre-widening files read their new columns as
        # NULL — the rewrite then homogenizes the footers as a bonus
        df = read_snapshot(spark, path, v)
        if zorder_by is not None:
            c1, c2 = zorder_by
            clustered = (
                df.withColumn("_zv", _zorder_col(df, c1, c2))
                .repartitionByRange(max(n_files, 1), "_zv")
                .sortWithinPartitions("_zv")
                .drop("_zv")
            )
            added = _write_data_files(
                spark,
                path,
                clustered,
                keys,
                meta.get("bloom"),
                stat_cols=[c1, c2],
            )
        else:
            added = _write_partitioned(
                spark, path, df, keys, partition_by, n_files, meta.get("bloom")
            )
        try:
            _try_commit(
                path,
                v + 1,
                {
                    "op": "compact",
                    "added": added,
                    "removed": sorted(live),
                    "metrics": _metrics(path, added, live, t0, attempt),
                },
            )
            return v + 1
        except CommitConflict:
            _cleanup_staged(path, added)
            continue
    raise CommitConflict(
        f"compact_table gave up after {max_retries + 1} attempts"
    )


def vacuum_table(
    path: str, retain_last: int = 1, max_retries: int = 3
) -> dict:
    """VACUUM (VERDICT r10 task 2): commit a retention horizon
    (latest − retain_last + 1 — the newest ``retain_last`` versions
    stay time-travelable), THEN physically delete every data file
    unreachable from any retained snapshot. Marker-first ordering is
    the crash contract: once the horizon commit lands, expired reads
    refuse cleanly (`SnapshotExpired`), so a crash mid-delete leaves
    only reclaimable garbage a re-run finishes sweeping — never a
    readable version with missing files. This is what makes a
    takedown (MERGE op='D' + VACUUM) remove BYTES, not just rows —
    the compliance half of the delete path. Pure driver-side metadata
    + unlink work; needs no SparkSession."""
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    t0 = time.monotonic()
    for attempt in range(1, max_retries + 2):
        latest = latest_version(path)
        horizon = max(0, latest - retain_last + 1, vacuum_horizon(path))
        try:
            _try_commit(
                path,
                latest + 1,
                {
                    "op": "vacuum",
                    "horizon": horizon,
                    "added": {},
                    "removed": [],
                    "metrics": _metrics(path, {}, [], t0, attempt),
                },
            )
            break
        except CommitConflict:
            continue
    else:
        raise CommitConflict(
            f"vacuum_table gave up after {max_retries + 1} attempts"
        )
    marker_v = latest + 1
    # needed = every file live in some retained version: live(horizon)
    # plus everything any later commit added (replay, metadata-sized)
    needed: set = set(snapshot_files(path, horizon))
    all_ever: set = set()
    all_dv: set = set()
    for v in range(marker_v + 1):
        c = _read_commit(path, v)
        added = c.get("added", {})
        all_ever.update(added)
        if v > horizon:
            needed.update(added)
        if c.get("dv"):
            all_dv.add(c["dv"]["dir"])
    # a DV dir is needed iff SOME retained version's DV state still
    # references it (a rewrite/compact clears the reference; the dir
    # then holds positions of files that no longer exist)
    needed_dv: set = set()
    for v in range(horizon, marker_v + 1):
        for dirs in snapshot_dv(path, v).values():
            needed_dv.update(dirs)
    dv_deleted = sorted(all_dv - needed_dv)
    for d in dv_deleted:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    deleted = sorted(all_ever - needed)
    for rel in deleted:
        sub, name = os.path.split(rel)
        # the data file, its bloom sidecar and the writer's checksum
        for f in (name, name + ".bloom", f".{name}.crc"):
            try:
                os.remove(os.path.join(path, sub, f))
            except FileNotFoundError:
                pass  # no such sidecar, or a prior vacuum got it
    # a subdir no retained version needs goes whole, with its
    # _SUCCESS markers (and any 0-row file the manifest never named)
    needed_subs = {rel.split(os.sep, 1)[0] for rel in needed}
    for sub in {rel.split(os.sep, 1)[0] for rel in deleted} - needed_subs:
        shutil.rmtree(os.path.join(path, sub), ignore_errors=True)
    return {
        "version": marker_v,
        "horizon": horizon,
        "deleted": deleted,
        "dv_deleted": dv_deleted,
    }


def _nation_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME deterministic CDC set as [[merge_upsert_cdc]] — every
    even nation key becomes U/D/I by key mod, three brand-new keys
    insert — so the commit-log path re-lands the operator-form MERGE
    through a real table under the identical oracle."""
    n = load(spark, sf_dir, "nation")
    mod_changes = n.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 3 == 0, "U")
        .when(F.col("n_nationkey") % 3 == 1, "D")
        .otherwise("I")
        .alias("op"),
        F.concat(F.lit("NATION_"), F.col("n_nationkey").cast("string")).alias(
            "n_name"
        ),
        (F.col("n_nationkey") % 5).cast("long").alias("n_regionkey"),
    )
    new_rows = n.filter(F.col("n_nationkey") < 3).select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.lit("I").alias("op"),
        F.concat(F.lit("NEW_"), F.col("n_nationkey").cast("string")).alias(
            "n_name"
        ),
        (F.col("n_nationkey") % 5).cast("long").alias("n_regionkey"),
    )
    return mod_changes.unionByName(new_rows)


def _base_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


def _create_and_merge(spark: SparkSession, sf_dir: str) -> str:
    """Shared fixture for the registered queries: commit 0 = nation
    range-partitioned into 4 files, commit 1 = the CDC merge."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(
        spark, path, _base_nation(spark, sf_dir), key="n_nationkey", n_files=4
    )
    merge_into(spark, path, _nation_changes(spark, sf_dir))
    return path


_NATION_CDC_ORACLE = """
    WITH changes AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 3 = 0 THEN 'U'
                  WHEN n_nationkey % 3 = 1 THEN 'D'
                  ELSE 'I' END AS op,
             concat('NATION_', CAST(n_nationkey AS VARCHAR)) AS n_name,
             CAST(n_nationkey % 5 AS BIGINT) AS n_regionkey
      FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT 100 + n_nationkey, 'I',
             concat('NEW_', CAST(n_nationkey AS VARCHAR)),
             CAST(n_nationkey % 5 AS BIGINT)
      FROM nation WHERE n_nationkey < 3
    )
    SELECT coalesce(b.n_nationkey, c.n_nationkey) AS n_nationkey,
           CASE WHEN c.op IN ('U','I') THEN c.n_name ELSE b.n_name END AS n_name,
           CASE WHEN c.op IN ('U','I') THEN c.n_regionkey
                ELSE b.n_regionkey END AS n_regionkey
    FROM nation b
    FULL OUTER JOIN changes c ON b.n_nationkey = c.n_nationkey
    WHERE c.op IS NULL OR c.op != 'D'
    """


@register("lakehouse_merge_commitlog", oracle=_NATION_CDC_ORACLE)
def lakehouse_merge_commitlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[[merge_upsert_cdc]] RE-LANDED through the commit-log table
    (VERDICT r9 task 1): commit 0 writes nation range-partitioned on
    its key with per-file range stats in the manifest; commit 1 is
    MERGE INTO with the same deterministic CDC set, rewriting only
    the touched files; the returned DataFrame is an independent
    read of the POST-MERGE SNAPSHOT — so the oracle (identical to the
    operator-form query's) now checks the whole create→merge→commit→
    snapshot-read round trip, not just the join expression.
    Concurrency (conflict retry), abort invisibility, time travel and
    selective rewrite are pinned by tests/test_lakehouse.py."""
    path = _create_and_merge(spark, sf_dir)
    return read_snapshot(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "lakehouse_time_travel_read",
    oracle="""
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def lakehouse_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after the same create + MERGE history as
    [[lakehouse_merge_commitlog]], read the table AS OF version 0 —
    the pre-merge snapshot must still be byte-available (immutable
    files + log replay), i.e. exactly the original nation. The merge
    commit physically removed/added files; version pinning is what
    makes the removal logical, not physical (until a VACUUM horizon
    passes it — [[lakehouse_vacuum_retention]])."""
    path = _create_and_merge(spark, sf_dir)
    return read_snapshot(spark, path, version=0).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "lakehouse_merge_string_key",
    oracle="""
    WITH base AS (
      SELECT concat('doc_', lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS doc_key,
             lang, n_chars
      FROM documents
    ),
    changes AS (
      SELECT concat('doc_', lpad(CAST(doc_id AS VARCHAR), 12, '0')) AS doc_key,
             CASE WHEN doc_id % 3 = 0 THEN 'U'
                  WHEN doc_id % 3 = 1 THEN 'D'
                  ELSE 'I' END AS op,
             'xx' AS lang,
             CAST(n_chars + 1000000 AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT concat('ins_', lpad(CAST(doc_id AS VARCHAR), 12, '0')), 'I',
             'zz', CAST(doc_id AS BIGINT)
      FROM documents WHERE doc_id < 5
    )
    SELECT coalesce(b.doc_key, c.doc_key) AS doc_key,
           CASE WHEN c.op IN ('U','I') THEN c.lang ELSE b.lang END AS lang,
           CASE WHEN c.op IN ('U','I') THEN c.n_chars
                ELSE b.n_chars END AS n_chars
    FROM base b
    FULL OUTER JOIN changes c ON b.doc_key = c.doc_key
    WHERE c.op IS NULL OR c.op != 'D'
    """,
)
def lakehouse_merge_string_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-KEYED commit-log MERGE (VERDICT r10 task 1): the dedup
    corpus's natural keys are doc ids and URLs — strings — and the
    r10 manifest hardcoded `lo long, hi long`, so exactly this table
    could not merge at all. Now the manifest stats carry the key's own
    type: documents re-keyed by a zero-padded string doc key (monotone
    in doc_id, so range partitioning stays selective), created into 4
    files, merged with a deterministic U/D/I CDC set probing string
    ranges, and read back from the post-merge snapshot — the same
    full-round-trip oracle contract as the integer form, which stays
    as-is."""
    docs = load(spark, sf_dir, "documents")
    dkey = F.concat(
        F.lit("doc_"), F.lpad(F.col("doc_id").cast("string"), 12, "0")
    )
    base = docs.select(
        dkey.alias("doc_key"), "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    changes = docs.filter(F.col("doc_id") % 7 == 0).select(
        dkey.alias("doc_key"),
        F.when(F.col("doc_id") % 3 == 0, "U")
        .when(F.col("doc_id") % 3 == 1, "D")
        .otherwise("I")
        .alias("op"),
        F.lit("xx").alias("lang"),
        (F.col("n_chars") + 1000000).cast("long").alias("n_chars"),
    ).unionByName(
        docs.filter(F.col("doc_id") < 5).select(
            F.concat(
                F.lit("ins_"), F.lpad(F.col("doc_id").cast("string"), 12, "0")
            ).alias("doc_key"),
            F.lit("I").alias("op"),
            F.lit("zz").alias("lang"),
            F.col("doc_id").cast("long").alias("n_chars"),
        )
    )
    tag = hashlib.md5(("strkey|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, base, key="doc_key", n_files=4)
    merge_into(spark, path, changes)
    return read_snapshot(spark, path).select("doc_key", "lang", "n_chars")


@register("lakehouse_vacuum_retention", oracle=_NATION_CDC_ORACLE)
def lakehouse_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM proven by a RAW DIRECTORY SCAN (VERDICT r10 task 2):
    create → CDC merge → compact → vacuum(retain_last=1), then read
    every parquet file still physically under the table directory —
    bypassing the commit log entirely. The oracle is the post-merge
    CDC expectation, so if vacuum failed to delete the pre-merge or
    pre-compact files their rows would DUPLICATE into this raw scan
    and the value hash would catch it; if it over-deleted, rows go
    missing. The query also asserts the expired version refuses
    cleanly (SnapshotExpired) while the retained head still serves."""
    path = _create_and_merge(spark, sf_dir)
    compact_table(spark, path, n_files=2)
    vacuum_table(path, retain_last=1)
    try:
        read_snapshot(spark, path, version=0)
        raise AssertionError("expired version 0 must raise SnapshotExpired")
    except SnapshotExpired:
        pass
    survivors = []
    for sub in os.listdir(path):
        if sub.startswith("d-"):
            for f in os.listdir(os.path.join(path, sub)):
                if f.endswith(".parquet"):
                    survivors.append(os.path.join(path, sub, f))
    return spark.read.schema(_current_schema(path)).parquet(*survivors).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "lakehouse_partition_prune_merge",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 2 THEN concat('R2_', n_name)
                ELSE n_name END AS n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def lakehouse_partition_prune_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION VALUES IN THE COMMIT MANIFEST (VERDICT r10 task 6):
    nation created PARTITIONED by n_regionkey (the leading component
    of the composite merge key (n_regionkey, n_nationkey) — partition
    columns must be row-identity to prune safely), one file per
    region, so each file's manifest stats pin lo == hi == region. A
    merge whose changes all live in region 2 must then rewrite
    EXACTLY that one file: the metadata assertion (removed set == the
    single file whose partition stats equal 2, all four other files
    carried verbatim) runs inside the query, and the returned frame
    is the post-merge snapshot under a plain-SQL oracle."""
    base = _base_nation(spark, sf_dir)
    changes = base.filter(F.col("n_regionkey") == 2).select(
        "n_regionkey",
        "n_nationkey",
        F.lit("U").alias("op"),
        F.concat(F.lit("R2_"), F.col("n_name")).alias("n_name"),
    )
    tag = hashlib.md5(("partprune|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(
        spark,
        path,
        base.select("n_regionkey", "n_nationkey", "n_name"),
        key=["n_regionkey", "n_nationkey"],
        n_files=1,
        partition_by="n_regionkey",
    )
    live0 = snapshot_files(path, 0)
    assert len(live0) == 5, f"one file per region expected: {sorted(live0)}"
    for s in live0.values():  # the manifest carries exact partition values
        assert s["lo"][0] == s["hi"][0]
    merge_into(spark, path, changes)
    live1 = snapshot_files(path, 1)
    removed = set(live0) - set(live1)
    assert len(removed) == 1, f"single-partition merge touched {removed}"
    assert live0[removed.pop()]["lo"][0] == 2  # ...and it was region 2's
    assert len(set(live0) & set(live1)) == 4  # others carried verbatim
    return read_snapshot(spark, path).select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("long").alias("n_regionkey")
    )


@register(
    "lakehouse_change_feed",
    oracle="""
    WITH changes AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 3 = 0 THEN 'U'
                  WHEN n_nationkey % 3 = 1 THEN 'D'
                  ELSE 'I' END AS op,
             concat('UPD_', CAST(n_nationkey AS VARCHAR)) AS n_name,
             CAST((n_nationkey + 1) % 5 AS BIGINT) AS n_regionkey
      FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT 100 + n_nationkey, 'I',
             concat('NEW_', CAST(n_nationkey AS VARCHAR)),
             CAST(n_nationkey % 5 AS BIGINT)
      FROM nation WHERE n_nationkey < 3
    ),
    base AS (
      SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation
    ),
    -- post-state per key: the merge_apply twin (full-outer resolve).
    -- The feed is then the PHYSICAL-ROW multiset diff base -> post:
    -- per (key, payload) equal row counts cancel (carried rows);
    -- leftovers classify per key (both sides -> update pre/post
    -- image per physical row; pre-only -> delete; post-only ->
    -- insert) — identical to the old matched-join formulation on
    -- unique keys, and well-defined on duplicated ones (r11 fix:
    -- the key-join form fanned out pre x post copies)
    post AS (
      SELECT coalesce(b.n_nationkey, c.n_nationkey) AS n_nationkey,
             CASE WHEN c.op IN ('U','I') THEN c.n_name
                  ELSE b.n_name END AS n_name,
             CASE WHEN c.op IN ('U','I') THEN c.n_regionkey
                  ELSE b.n_regionkey END AS n_regionkey
      FROM base b FULL OUTER JOIN changes c
        ON b.n_nationkey = c.n_nationkey
      WHERE c.op IS NULL OR c.op != 'D'
    ),
    cnt AS (
      SELECT n_nationkey, n_name, n_regionkey,
             count(*) FILTER (WHERE side = 'p') AS pn,
             count(*) FILTER (WHERE side = 'q') AS qn
      FROM (
        SELECT *, 'p' AS side FROM base
        UNION ALL
        SELECT *, 'q' AS side FROM post
      )
      GROUP BY 1, 2, 3
    ),
    lo AS (
      SELECT n_nationkey, n_name, n_regionkey,
             pn - least(pn, qn) AS lp, qn - least(pn, qn) AS lq
      FROM cnt WHERE pn != qn
    ),
    flags AS (
      SELECT n_nationkey, bool_or(lp > 0) AS hasp, bool_or(lq > 0) AS hasq
      FROM lo GROUP BY 1
    ),
    nums AS (
      SELECT unnest(range(1, (SELECT coalesce(max(greatest(lp, lq)), 0)
                              FROM lo) + 1)) AS i
    )
    SELECT l.n_nationkey, l.n_name, l.n_regionkey,
           CASE WHEN f.hasq THEN 'update_preimage'
                ELSE 'delete' END AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM lo l JOIN flags f USING (n_nationkey)
    JOIN nums g ON g.i <= l.lp
    UNION ALL
    SELECT l.n_nationkey, l.n_name, l.n_regionkey,
           CASE WHEN f.hasp THEN 'update_postimage'
                ELSE 'insert' END AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM lo l JOIN flags f USING (n_nationkey)
    JOIN nums g ON g.i <= l.lq
    """,
)
def lakehouse_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED (r11): after the standard create→CDC-merge
    history, `read_changes` reconstructs the merge commit's logical
    row changes from that commit's OWN removed/added files — inserts,
    deletes, and update pre/post image pairs, with CARRIED rows (the
    file-rewrite copies of untouched keys) correctly emitting nothing.
    The oracle derives the same feed relationally from nation + the
    deterministic CDC set, so a spurious carried-row echo, a missed
    delete, or a wrong image side all break the value hash. This is
    the Delta CDF contract — the piece that lets downstream consumers
    (the persisted dedup state, a streaming tail) update from O(commit
    files) instead of re-reading the table.

    The change set here mutates PAYLOADS for real (UPD_ names, shifted
    region keys) — the synthetic nation table's names are already
    NATION_k, so the shared `_nation_changes` fixture's updates are
    payload no-ops, which the feed must (and does — pinned by test)
    classify as carried rows, not updates."""
    base = _base_nation(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    changes = n.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey",
        F.when(F.col("n_nationkey") % 3 == 0, "U")
        .when(F.col("n_nationkey") % 3 == 1, "D")
        .otherwise("I")
        .alias("op"),
        F.concat(F.lit("UPD_"), F.col("n_nationkey").cast("string")).alias(
            "n_name"
        ),
        ((F.col("n_nationkey") + 1) % 5).cast("long").alias("n_regionkey"),
    ).unionByName(
        n.filter(F.col("n_nationkey") < 3).select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            F.lit("I").alias("op"),
            F.concat(F.lit("NEW_"), F.col("n_nationkey").cast("string")).alias(
                "n_name"
            ),
            (F.col("n_nationkey") % 5).cast("long").alias("n_regionkey"),
        )
    )
    tag = hashlib.md5(("cdf|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, base, key="n_nationkey", n_files=4)
    merge_into(spark, path, changes)
    return read_changes(spark, path, v_from=1)


@register(
    "lakehouse_schema_evolution",
    oracle="""
    WITH changes AS (
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 3 = 0 THEN 'U'
                  WHEN n_nationkey % 3 = 1 THEN 'D'
                  ELSE 'I' END AS op,
             concat('NATION_', CAST(n_nationkey AS VARCHAR)) AS n_name,
             CAST(n_nationkey % 5 AS BIGINT) AS n_regionkey
      FROM nation WHERE n_nationkey % 2 = 0
      UNION ALL
      SELECT 100 + n_nationkey, 'I',
             concat('NEW_', CAST(n_nationkey AS VARCHAR)),
             CAST(n_nationkey % 5 AS BIGINT)
      FROM nation WHERE n_nationkey < 3
    )
    SELECT coalesce(b.n_nationkey, c.n_nationkey) AS n_nationkey,
           CASE WHEN c.op IN ('U','I') THEN c.n_name ELSE b.n_name END AS n_name,
           CASE WHEN c.op IN ('U','I') THEN c.n_regionkey
                ELSE b.n_regionkey END AS n_regionkey,
           CASE WHEN c.op IN ('U','I')
                THEN concat('src_batch_', CAST(c.n_nationkey % 4 AS VARCHAR))
                ELSE NULL END AS provenance
    FROM nation b
    FULL OUTER JOIN changes c ON b.n_nationkey = c.n_nationkey
    WHERE c.op IS NULL OR c.op != 'D'
    """,
)
def lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION (r11): the same CDC merge, but the change set
    carries a `provenance` column the table never had. With
    `evolve_schema=True` the merge widens the table schema in its
    commit; files the merge didn't touch keep their old footers and
    the snapshot read backfills their `provenance` as NULL at scan
    time (rewriting a 100 TB table to add a column is exactly what
    evolution avoids). The oracle expects provenance on every row the
    merge wrote and NULL on every carried/untouched row — a backfill
    that leaked values, or an evolved read that dropped the column
    for old files, breaks the hash. Without the flag the same change
    set is a loud ValueError (pinned by tests/test_lakehouse.py)."""
    base = _base_nation(spark, sf_dir)
    changes = _nation_changes(spark, sf_dir).withColumn(
        "provenance",
        F.concat(
            F.lit("src_batch_"), (F.col("n_nationkey") % 4).cast("string")
        ),
    )
    tag = hashlib.md5(("evolve|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, base, key="n_nationkey", n_files=4)
    merge_into(spark, path, changes, evolve_schema=True)
    return read_snapshot(spark, path).select(
        "n_nationkey", "n_name", "n_regionkey", "provenance"
    )


@register(
    "lakehouse_delete_vectors",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id % 5 <> 0 AND doc_id % 5 <> 1
    """,
)
def lakehouse_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE (r11 §20.2): documents keyed by doc_id,
    two successive `delete_keys_mor` batches (doc_id%5==0, then
    doc_id%5==1 — the second proves DV ACCUMULATION on the same
    files), each committing parquet position vectors and touching
    ZERO data files — asserted from the manifest inside the query:
    both commits added/removed nothing, the live file set is commit
    0's verbatim, and the DV state covers the files. The returned
    frame is the post-delete snapshot (scan + position anti-join)
    under a plain-SQL oracle; a DV that missed a position, deleted a
    wrong row, or double-counted across the two batches all break
    the value hash. Compaction-materializes and vacuum-reclaims are
    pinned by tests/test_lakehouse.py. This is the takedown shape
    the CDF scale probe priced copy-on-write at 250/250 file
    rewrites (24.7 s at 5M rows, CDF_SCALE_r11.json) — here the
    same logical delete writes O(batch) positions instead."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    tag = hashlib.md5(("dv|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, docs, key="doc_id", n_files=4)
    live0 = snapshot_files(path, 0)
    v1 = delete_keys_mor(
        spark, path, docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    )
    v2 = delete_keys_mor(
        spark, path, docs.filter(F.col("doc_id") % 5 == 1).select("doc_id")
    )
    assert (v1, v2) == (1, 2), f"two DV commits expected, got {(v1, v2)}"
    for v in (1, 2):
        c = _read_commit(path, v)
        assert c["op"] == "delete_mor" and not c["added"] and not c["removed"]
    assert set(snapshot_files(path)) == set(live0), "data files rewritten"
    dvm = snapshot_dv(path)
    assert dvm and all(len(dirs) >= 1 for dirs in dvm.values())
    return read_snapshot(spark, path)


@register(
    "lakehouse_bloom_skip_merge",
    oracle="""
    SELECT md5(concat('k', CAST(doc_id AS VARCHAR))) AS doc_key,
           CASE WHEN doc_id IN (7, 13) THEN 'xx' ELSE lang END AS lang,
           CAST(CASE WHEN doc_id IN (7, 13) THEN n_chars + 1000000
                     ELSE n_chars END AS BIGINT) AS n_chars
    FROM documents
    """,
)
def lakehouse_bloom_skip_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-FILE BLOOM SKIPPING under append ingest (r11 §20.2): the
    corpus keyed by the md5 of its doc id — a hash-distributed key,
    the dedup corpus's natural identity — lands as create + three
    blind APPEND batches (`append_table`, the streaming-ingest path).
    Each batch is range-partitioned within itself, so after four
    commits every file's [min, max] spans essentially the whole hash
    domain and zone maps stop pruning: the query asserts from the
    manifest that the range-only probe touches ALL 4 files for a
    2-key update batch. With 64 Ki-bit/4-hash bloom sidecars
    (~100 bits/key at sf0.1 — FP well under 1e-4) the same merge
    provably rewrites at most the 2 files that truly hold the keys:
    asserted from the commit's removed set. The returned frame is the
    post-merge snapshot under a plain-SQL oracle — a bloom that
    wrongly pruned a TRUE file would lose the update and break the
    hash, the direction the FP trade never risks. At 100 TB this is
    a takedown costing O(batch) file rewrites instead of O(table) —
    the uniform shape CDF_SCALE_r11.json priced at 250/250."""
    docs = load(spark, sf_dir, "documents")
    dkey = F.md5(F.concat(F.lit("k"), F.col("doc_id").cast("string")))
    base = docs.select(
        dkey.alias("doc_key"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    changes = docs.filter(F.col("doc_id").isin(7, 13)).select(
        dkey.alias("doc_key"),
        F.lit("U").alias("op"),
        F.lit("xx").alias("lang"),
        (F.col("n_chars") + 1000000).cast("long").alias("n_chars"),
    )
    tag = hashlib.md5(("bloom|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    cohort = F.crc32(F.col("doc_key")) % 4  # deterministic 4-way split
    create_table(
        spark,
        path,
        base.filter(cohort == 0),
        key="doc_key",
        n_files=1,
        bloom_m_bits=1 << 16,
    )
    for i in (1, 2, 3):  # streaming-style ingest: whole-domain batches
        append_table(spark, path, base.filter(cohort == i), n_files=1)
    meta = table_meta(path)
    live = snapshot_files(path)
    assert len(live) == 4, f"4 whole-domain files expected: {sorted(live)}"
    range_only = _touched_files(
        spark, live, changes, meta["key"], meta["key_types"]
    )
    assert len(range_only) == 4, (
        f"append ingest must defeat range pruning: {len(range_only)}/4"
    )
    v = merge_into(spark, path, changes)
    removed = _read_commit(path, v)["removed"]
    assert 1 <= len(removed) <= 2, (
        f"bloom must cut the rewrite to the true files: {removed}"
    )
    return read_snapshot(spark, path).select("doc_key", "lang", "n_chars")


@register(
    "lakehouse_point_lookup_read",
    oracle="""
    SELECT md5(concat('k', CAST(doc_id AS VARCHAR))) AS doc_key,
           lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    WHERE doc_id IN (3, 21, 33)
    """,
)
def lakehouse_point_lookup_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-PRUNED POINT LOOKUP (r11 §20.2): the read-side twin of
    the write-side skipping. The hash-keyed corpus lands as create +
    four blind appends (5 whole-domain files — zone maps useless),
    one key is then MOR-deleted, and `read_keys` looks up a batch of
    4 keys (3 live, the deleted one, and one that never existed). The
    query asserts from the manifest probe that the lookup scans
    FEWER files than the table holds (bloom membership pins each key
    to its true file; the never-existed key matches nowhere), while
    the semi-join guarantees pruning can only cut bytes read, never
    change the answer: the oracle expects exactly the 3 live keys'
    rows — a leaked deleted row, a lost live row, or a bloom FN each
    break the hash. At 100 TB this is the difference between a keyed
    audit lookup costing O(batch) file reads and O(table)."""
    docs = load(spark, sf_dir, "documents")
    dkey = F.md5(F.concat(F.lit("k"), F.col("doc_id").cast("string")))
    base = docs.select(
        dkey.alias("doc_key"),
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    tag = hashlib.md5(("lookup|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    cohort = F.crc32(F.col("doc_key")) % 5
    create_table(
        spark,
        path,
        base.filter(cohort == 0),
        key="doc_key",
        n_files=1,
        bloom_m_bits=1 << 16,
    )
    for i in (1, 2, 3, 4):
        append_table(spark, path, base.filter(cohort == i), n_files=1)
    delete_keys_mor(
        spark,
        path,
        docs.filter(F.col("doc_id") == 9).select(dkey.alias("doc_key")),
    )
    lookup = docs.filter(F.col("doc_id").isin(3, 9, 21, 33)).select(
        dkey.alias("doc_key")
    ).unionByName(
        spark.createDataFrame([("never-existed",)], "doc_key string")
    )
    meta = table_meta(path)
    live = snapshot_files(path)
    assert len(live) == 5
    touched = _touched_files(
        spark, live, lookup, meta["key"], meta["key_types"], path, meta["bloom"]
    )
    assert len(touched) < len(live), (
        f"lookup must scan fewer files than the table holds: "
        f"{len(touched)}/{len(live)}"
    )
    return read_keys(spark, path, lookup)


@register(
    "lakehouse_compact_zorder",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate
    FROM orders
    WHERE o_custkey <= (SELECT min(o_custkey)
                               + (max(o_custkey) - min(o_custkey)) // 10
                        FROM orders)
    """,
)
def lakehouse_compact_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER (r11 §20.3 — Delta's OPTIMIZE ZORDER BY on the
    commit log): orders keyed by o_orderkey, compacted along the
    Morton curve of (o_custkey, o_orderdate) with per-file "cols"
    stats recorded for BOTH dimensions. The query asserts from the
    manifest that a 10% slice on EITHER dimension prunes files —
    impossible under any single-key sort, which serves only its own
    key — and returns the stats-pruned custkey-slice scan
    (`read_where_range`: manifest prune → DV apply → exact filter,
    so pruning can only cut bytes) under a plain-SQL oracle whose
    threshold is the same min+span/10 arithmetic. Lossless layout
    change + both-dimension skipping are the whole claim; a z
    interleave bug, a stats bug, or an over-pruned file all break
    either an assert or the hash."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    tag = hashlib.md5(("zorder|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, o, key="o_orderkey", n_files=8)
    v = compact_table(
        spark, path, n_files=8, zorder_by=("o_custkey", "o_orderdate")
    )
    live = snapshot_files(path, v)
    assert all("cols" in s for s in live.values())
    b = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_orderdate"), F.max("o_orderdate"),
    ).collect()[0]
    xthr = b[0] + (b[1] - b[0]) // 10
    dthr = b[2] + datetime.timedelta(days=max((b[3] - b[2]).days // 10, 0))

    def pruned(col, lo, hi):
        jlo, jhi = _json_stat(lo), _json_stat(hi)
        return [
            rel
            for rel, s in live.items()
            if s["cols"][col][0] <= jhi and s["cols"][col][1] >= jlo
        ]

    nx = len(pruned("o_custkey", b[0], xthr))
    nd = len(pruned("o_orderdate", b[2], dthr))
    assert nx < len(live), f"custkey slice must prune: {nx}/{len(live)}"
    assert nd < len(live), f"orderdate slice must prune: {nd}/{len(live)}"
    return read_where_range(spark, path, "o_custkey", b[0], xthr).select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
    )


@register(
    "stream_lakehouse_append_sink",
    oracle="""
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100, concat('A_', CAST(n_nationkey AS VARCHAR)),
           CAST(n_nationkey % 5 AS BIGINT)
    FROM nation WHERE n_nationkey < 3
    UNION ALL
    SELECT n_nationkey + 200, concat('B_', CAST(n_nationkey AS VARCHAR)),
           CAST(n_nationkey % 5 AS BIGINT)
    FROM nation WHERE n_nationkey < 4
    """,
)
def stream_lakehouse_append_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDEMPOTENT STREAMING APPEND SINK (r11 §20.3): the write half of
    the streaming loop whose read half is [[stream_lakehouse_tail]].
    A real Structured Streaming query (file source, availableNow,
    maxFilesPerTrigger=1) lands two epochs into the commit-log table
    through foreachBatch → `append_table(txn_app, txn_version=epoch)`
    — Delta's txnAppId/txnVersion contract: each commit records the
    writer transaction, and an epoch at or below the highest already
    committed is SKIPPED. After the stream drains, the query REPLAYS
    epoch 1 by hand (the exact redelivery a crashed driver performs)
    and asserts the log did not advance; appends are not semantically
    idempotent (a replay would double its rows), so the oracle —
    base + each epoch exactly once — is broken by any double
    delivery the transaction check fails to stop. The
    crash-in-the-nastiest-window variant (AFTER table commit, BEFORE
    checkpoint commit, real kill + checkpointed restart) is pinned by
    tests/test_lakehouse.py."""
    base = _base_nation(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    tag = hashlib.md5(("appsink|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, base, key="n_nationkey", n_files=2)

    def chunk(off: int, label: str, below: int) -> DataFrame:
        return n.filter(F.col("n_nationkey") < below).select(
            (F.col("n_nationkey") + off).alias("n_nationkey"),
            F.concat(
                F.lit(label), F.col("n_nationkey").cast("string")
            ).alias("n_name"),
            (F.col("n_nationkey") % 5).cast("long").alias("n_regionkey"),
        )

    feed = _TABLE_DIRS.new_dir(tag + "feed")
    import time as _time

    for c in (chunk(100, "A_", 3), chunk(200, "B_", 4)):
        c.coalesce(1).write.mode("append").parquet(feed)
        _time.sleep(1.1)  # distinct mtimes -> deterministic epoch order

    schema = spark.createDataFrame([], base.schema).schema

    def sink(df: DataFrame, bid: int) -> None:
        if not df.isEmpty():
            append_table(spark, path, df, txn_app="ingest", txn_version=bid)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(feed, "_cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v = latest_version(path)
    # the redelivery a crashed driver performs: same epoch, same app
    append_table(
        spark, path, chunk(200, "B_", 4), txn_app="ingest", txn_version=1
    )
    assert latest_version(path) == v, "duplicate epoch must be skipped"
    assert last_txn_version(path, "ingest") == 1
    return read_snapshot(spark, path)
