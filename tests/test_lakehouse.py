"""Commit-log table contract (sources/lakehouse.py, VERDICT r9
task 1): snapshot isolation, optimistic-concurrency conflict
detection, aborted-commit invisibility, selective MERGE rewrite,
time travel, and lossless compaction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from apache_spark_irs_form_990_spark.sources.lakehouse import (
    CommitConflict,
    _try_commit,
    _write_data_files,
    compact_table,
    create_table,
    latest_version,
    merge_into,
    read_snapshot,
    snapshot_files,
)

SF_DIR = "/root/testdata/sf0.001"


def _nation(spark):
    from apache_spark_irs_form_990_spark.sources.lakehouse import _base_nation

    return _base_nation(spark, SF_DIR)


def _rows(df):
    return {
        (r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in df.collect()
    }


def test_create_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    assert latest_version(path) == 0
    assert _rows(read_snapshot(spark, path)) == _rows(_nation(spark))
    # the manifest carries disjoint per-file key ranges (what makes
    # MERGE pruning selective)
    stats = sorted(snapshot_files(path, 0).values(), key=lambda s: s["lo"])
    assert len(stats) == 4
    for a, b in zip(stats, stats[1:]):
        assert a["hi"] < b["lo"]


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """A single-key update must rewrite exactly the one file whose
    range holds the key; the other files' PATHS carry forward
    verbatim across the commit — the O(changed partitions) claim as
    an assertion, not narrative."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    live0 = set(snapshot_files(path, 0))
    one = spark.createDataFrame(
        [(3, "U", "PATCHED", 9)],
        "n_nationkey int, op string, n_name string, n_regionkey long",
    )
    v = merge_into(spark, path, one)
    assert v == 1
    live1 = set(snapshot_files(path, 1))
    carried = live0 & live1
    assert len(carried) == 3  # 3 of 4 files untouched, paths identical
    want = {
        (k, "PATCHED" if k == 3 else n, 9 if k == 3 else r)
        for (k, n, r) in _rows(_nation(spark))
    }
    assert _rows(read_snapshot(spark, path)) == want


def test_time_travel_pins_premerge_snapshot(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    before = _rows(read_snapshot(spark, path, version=0))
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(0, "D", None, None)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    # latest lost key 0; version 0 still serves the original bytes
    assert _rows(read_snapshot(spark, path, version=0)) == before
    assert _rows(read_snapshot(spark, path)) == {
        t for t in before if t[0] != 0
    }


def test_concurrent_writer_conflict_detected_and_retried(spark, tmp_path):
    """Two writers plan against the same snapshot; the second to
    commit MUST see the advanced log. The low-level protocol raises
    CommitConflict on the stale link attempt; `merge_into`'s retry
    loop re-plans against the new snapshot and lands BOTH changes."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)

    # writer A stages + commits version 1 under writer B's feet
    a_files = _write_data_files(
        spark,
        path,
        spark.createDataFrame(
            [(200, "A_ROW", 1)], "n_nationkey int, n_name string, n_regionkey long"
        ),
        "n_nationkey",
    )
    _try_commit(path, 1, {"op": "merge", "added": a_files, "removed": []})

    # a stale direct commit at version 1 must fail...
    with pytest.raises(CommitConflict):
        _try_commit(path, 1, {"op": "merge", "added": {}, "removed": []})

    # ...and merge_into re-plans: its change lands at version 2 with
    # writer A's row still present
    v = merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, "U", "B_PATCH", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    assert v == 2
    got = _rows(read_snapshot(spark, path))
    assert (200, "A_ROW", 1) in got
    assert (3, "B_PATCH", 9) in got


def test_aborted_commit_invisible(spark, tmp_path):
    """A writer that stages data but dies before linking its manifest
    leaves bytes on disk but NO change in any snapshot — readers list
    files from the log, never the directory."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    before = _rows(read_snapshot(spark, path))
    # staged, never committed
    _write_data_files(
        spark,
        path,
        spark.createDataFrame(
            [(999, "GHOST", 9)],
            "n_nationkey int, n_name string, n_regionkey long",
        ),
        "n_nationkey",
    )
    assert _rows(read_snapshot(spark, path)) == before
    assert latest_version(path) == 0
    # the torn temp-manifest case: a .tmp file in _commits is ignored
    with open(os.path.join(path, "_commits", ".tmp-dead"), "w") as f:
        json.dump({"added": {"x": {}}}, f)
    assert latest_version(path) == 0


def test_compact_is_lossless_commit(spark, tmp_path):
    """Compaction = a commit that replaces files without changing
    rows: fragment the table via many tiny merges, compact to the
    planner-ish file count, assert row-set hash equality and that the
    live file count actually dropped — and that time travel still
    reaches the fragmented version."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    for k in (1, 7, 13, 19):  # four single-key merges -> fragmentation
        merge_into(
            spark,
            path,
            spark.createDataFrame(
                [(k, "U", f"P{k}", 9)],
                "n_nationkey int, op string, n_name string, n_regionkey long",
            ),
        )
    v_frag = latest_version(path)
    n_frag = len(snapshot_files(path, v_frag))
    before = _rows(read_snapshot(spark, path))
    v = compact_table(spark, path, n_files=2)
    assert v == v_frag + 1
    assert _rows(read_snapshot(spark, path)) == before  # lossless
    assert len(snapshot_files(path, v)) < n_frag
    assert len(snapshot_files(path, v)) <= 2
    assert len(snapshot_files(path, v_frag)) == n_frag  # history intact


def test_two_process_concurrent_merge(spark, tmp_path):
    """TRUE concurrency, not a simulated stale commit: two separate
    driver PROCESSES (own JVMs, own sessions) merge different keys
    into the same table at the same time. Whichever link loses the
    version race must re-plan and land at the next version — both
    changes survive, the log holds exactly 3 commits, and no torn or
    duplicate row exists."""
    import subprocess
    import sys

    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)

    script = """
import sys
sys.path.insert(0, "/root/repo")
from apache_spark_irs_form_990_spark.session import get_session
from apache_spark_irs_form_990_spark.sources.lakehouse import merge_into
key, name, path = int(sys.argv[1]), sys.argv[2], sys.argv[3]
spark = get_session(app_name=f"writer_{name}", shuffle_partitions=4)
changes = spark.createDataFrame(
    [(key, "U", name, 9)],
    "n_nationkey int, op string, n_name string, n_regionkey long",
)
v = merge_into(spark, path, changes, max_retries=10)
print(f"committed at {v}")
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(k), nm, path],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        )
        for k, nm in ((3, "WRITER_A"), (20, "WRITER_B"))
    ]
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert latest_version(path) == 2  # both landed, one after a retry
    got = _rows(read_snapshot(spark, path))
    assert (3, "WRITER_A", 9) in got
    assert (20, "WRITER_B", 9) in got
    assert len(got) == len(_rows(_nation(spark)))  # no dup, no loss


def test_streaming_foreachbatch_merge_sink_exactly_once(spark, tmp_path):
    """The capstone of tasks 1+4: a STREAM lands CDC batches into the
    commit-log table via foreachBatch(merge_into), and the crash falls
    in the nastiest window — AFTER the table commit, BEFORE the
    checkpoint commit. The restart re-delivers the in-flight batch and
    merge_into applies it AGAIN; exactly-once must emerge from MERGE
    idempotence (re-applying the same U/I/D set is a semantic no-op),
    so the final table equals the uninterrupted expectation while the
    log honestly records the duplicate delivery as an extra version."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)

    # two chronological CDC chunks: batch 0 updates keys 1,2; batch 1
    # updates keys 7,9 and deletes key 14
    src = str(tmp_path / "cdc")
    chunks = [
        [(1, "U", "S1", 7), (2, "U", "S2", 7)],
        [(7, "U", "S7", 7), (9, "U", "S9", 7), (14, "D", None, None)],
    ]
    schema = "n_nationkey int, op string, n_name string, n_regionkey long"
    import time as _t

    for c in chunks:
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _t.sleep(1.1)

    crash_marker = str(tmp_path / "crashed_once")

    def sink(df, bid):
        if df.isEmpty():
            return
        merge_into(spark, path, df)  # the table commit lands...
        if bid == 1 and not os.path.exists(crash_marker):
            with open(crash_marker, "w") as f:
                f.write("")
            raise RuntimeError("crash AFTER table commit, BEFORE checkpoint")

    def run():
        q = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    v_crash = latest_version(path)  # batch 1's merge DID commit
    run()  # restart: batch 1 re-delivered, merged again (idempotent)
    assert latest_version(path) == v_crash + 1  # the duplicate is logged

    want = {
        (k, {1: "S1", 2: "S2", 7: "S7", 9: "S9"}.get(k, n),
         7 if k in (1, 2, 7, 9) else r)
        for (k, n, r) in _rows(_nation(spark))
        if k != 14
    }
    assert _rows(read_snapshot(spark, path)) == want


# ---------------------------------------------------------------- r11
# Production posture: typed/composite keys, vacuum/retention,
# file-level conflict detection, compaction retry, empty-table reads.

from apache_spark_irs_form_990_spark.sources.lakehouse import (  # noqa: E402
    SnapshotExpired,
    vacuum_horizon,
    vacuum_table,
)


def test_string_keyed_merge_roundtrip(spark, tmp_path):
    """The r10 gap (VERDICT r10 task 1): a string-keyed table must
    create, MERGE, and read back — manifest stats in the key's own
    type, range pruning on string intervals."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(f"url_{i:04d}", i) for i in range(20)], "u string, n int"
    )
    create_table(spark, path, base, key="u", n_files=4)
    stats = next(iter(snapshot_files(path, 0).values()))
    assert isinstance(stats["lo"][0], str)  # typed manifest, not long
    live0 = set(snapshot_files(path, 0))
    changes = spark.createDataFrame(
        [("url_0003", "U", 999), ("url_0007", "D", None), ("url_9999", "I", 1)],
        "u string, op string, n int",
    )
    merge_into(spark, path, changes)
    got = {(r["u"], r["n"]) for r in read_snapshot(spark, path).collect()}
    want = {(f"url_{i:04d}", i) for i in range(20) if i != 7}
    want.discard(("url_0003", 3))
    want |= {("url_0003", 999), ("url_9999", 1)}
    assert got == want
    # string ranges prune too: a 2-key change must not rewrite all 4
    carried = live0 & set(snapshot_files(path, 1))
    assert len(carried) >= 1


def test_composite_key_merge(spark, tmp_path):
    """Composite merge key (region, nation): pruning is the per-column
    zone-map conjunction; merge_apply joins on both components."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(r, n, f"v{r}{n}") for r in range(3) for n in range(5)],
        "r int, n int, payload string",
    )
    create_table(spark, path, base, key=["r", "n"], n_files=3)
    changes = spark.createDataFrame(
        [(1, 2, "U", "PATCH"), (2, 4, "D", None)],
        "r int, n int, op string, payload string",
    )
    merge_into(spark, path, changes)
    got = {tuple(x) for x in read_snapshot(spark, path).collect()}
    want = {
        (r, n, "PATCH" if (r, n) == (1, 2) else f"v{r}{n}")
        for r in range(3)
        for n in range(5)
        if (r, n) != (2, 4)
    }
    assert got == want


def test_unsupported_key_type_fails_fast(spark, tmp_path):
    """ADVICE r10: create_table must refuse a key type the manifest
    stats can't range-compare, instead of crashing at first merge."""
    df = spark.createDataFrame([(1.5, "x")], "k double, v string")
    with pytest.raises(ValueError, match="unsupported merge-key type"):
        create_table(spark, str(tmp_path / "t"), df, key="k")


def test_emptied_table_stays_readable_and_insertable(spark, tmp_path):
    """ADVICE r10 (medium): a merge that deletes EVERY live row must
    leave a valid empty table — readable with the recorded schema and
    re-insertable — not a permanently broken snapshot."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    create_table(spark, path, base, key="k", n_files=1)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(1, "D", None), (2, "D", None)], "k int, op string, v string"
        ),
    )
    empty = read_snapshot(spark, path)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["k", "v"]
    merge_into(
        spark,
        path,
        spark.createDataFrame([(5, "I", "back")], "k int, op string, v string"),
    )
    assert {tuple(r) for r in read_snapshot(spark, path).collect()} == {
        (5, "back")
    }


def test_vacuum_removes_expired_files_and_refuses_expired_reads(
    spark, tmp_path
):
    """VERDICT r10 task 2 (a)-(c): vacuum deletes exactly the files
    only expired versions reference; a retained AS OF still
    byte-matches; an expired AS OF raises SnapshotExpired."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, "U", "PATCHED", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    live0, live1 = snapshot_files(path, 0), snapshot_files(path, 1)
    want_latest = _rows(read_snapshot(spark, path, version=1))
    res = vacuum_table(path, retain_last=1)
    assert res["horizon"] == 1
    assert vacuum_horizon(path) == 1
    # exactly the version-0-only files are gone from disk
    v0_only = set(live0) - set(live1)
    assert set(res["deleted"]) == v0_only
    for rel in v0_only:
        assert not os.path.exists(os.path.join(path, rel))
    for rel in live1:
        assert os.path.exists(os.path.join(path, rel))
    # retained version still serves, byte-identical
    assert _rows(read_snapshot(spark, path, version=1)) == want_latest
    assert _rows(read_snapshot(spark, path)) == want_latest
    # expired version refuses cleanly
    with pytest.raises(SnapshotExpired):
        read_snapshot(spark, path, version=0)


def test_takedown_plus_vacuum_leaves_zero_bytes(spark, tmp_path):
    """VERDICT r10 task 2 (d), the compliance loop on the r10 delete
    path: after MERGE op='D' + vacuum, a raw scan of every parquet
    file still on disk holds ZERO rows of the deleted keys."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    doomed = [0, 5, 10]
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(k, "D", None, None) for k in doomed],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    vacuum_table(path, retain_last=1)
    raw_files = [
        os.path.join(path, sub, f)
        for sub in os.listdir(path)
        if sub.startswith("d-")
        for f in os.listdir(os.path.join(path, sub))
        if f.endswith(".parquet")
    ]
    raw = spark.read.parquet(*raw_files)
    assert raw.filter(F.col("n_nationkey").isin(doomed)).count() == 0
    assert raw.count() == 25 - len(doomed)


def _racing_commit(monkeypatch, spark, path, committer):
    """Arrange for ``committer()`` to land ANOTHER writer's commit in
    the window between a merge's staging write and its commit attempt
    — the true conflict window — by wrapping _write_data_files once."""
    import apache_spark_irs_form_990_spark.sources.lakehouse as lh

    orig = lh._write_data_files
    fired = {"done": False}

    def wrapper(*a, **k):
        out = orig(*a, **k)
        if not fired["done"]:
            fired["done"] = True
            committer()
        return out

    monkeypatch.setattr(lh, "_write_data_files", wrapper)


def test_disjoint_conflict_commits_without_replan(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 task 3: a conflicted merge whose intervening commit
    touched DISJOINT files (and whose added files miss our change
    keys) must skip straight to the new head — no re-plan."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    live0 = snapshot_files(path, 0)
    # key 3 lives in the first range file; key 20 in the last
    lo_file = min(live0, key=lambda r: live0[r]["lo"])
    hi_file = max(live0, key=lambda r: live0[r]["hi"])
    assert lo_file != hi_file

    # writer A's rewrite of the HI file (full contents, key 20
    # patched), staged now, committed in B's conflict window
    a_files = _write_data_files(
        spark,
        path,
        spark.read.parquet(os.path.join(path, hi_file)).select(
            "n_nationkey",
            F.when(F.col("n_nationkey") == 20, "A20")
            .otherwise(F.col("n_name"))
            .alias("n_name"),
            F.when(F.col("n_nationkey") == 20, F.lit(9).cast("long"))
            .otherwise(F.col("n_regionkey"))
            .alias("n_regionkey"),
        ),
        "n_nationkey",
    )
    _racing_commit(
        monkeypatch,
        spark,
        path,
        lambda: _try_commit(
            path, 1, {"op": "merge", "added": a_files, "removed": [hi_file]}
        ),
    )
    log: list = []
    v = merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, "U", "B3", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
        attempt_log=log,
    )
    assert v == 2
    events = [e for e, _ in log]
    assert "skip_ahead" in events and "replan" not in events
    got = _rows(read_snapshot(spark, path))
    assert (3, "B3", 9) in got
    assert (20, "A20", 9) in got


def test_overlapping_conflict_still_replans(spark, tmp_path, monkeypatch):
    """The other half of file-level detection: an intervening commit
    that rewrote the SAME file (or added our change keys) forces a
    full re-plan against the new snapshot — and both changes land."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    live0 = snapshot_files(path, 0)
    lo_file = min(live0, key=lambda r: live0[r]["lo"])
    c_files = _write_data_files(
        spark,
        path,
        spark.read.parquet(os.path.join(path, lo_file)).select(
            "n_nationkey",
            F.when(F.col("n_nationkey") == 1, "C1")
            .otherwise(F.col("n_name"))
            .alias("n_name"),
            F.when(F.col("n_nationkey") == 1, F.lit(9).cast("long"))
            .otherwise(F.col("n_regionkey"))
            .alias("n_regionkey"),
        ),
        "n_nationkey",
    )
    _racing_commit(
        monkeypatch,
        spark,
        path,
        lambda: _try_commit(
            path, 1, {"op": "merge", "added": c_files, "removed": [lo_file]}
        ),
    )
    log: list = []
    v = merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(2, "U", "D2", 9)],  # key 2 lives in the same LO file
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
        attempt_log=log,
    )
    assert v == 2
    assert "replan" in [e for e, _ in log]
    got = _rows(read_snapshot(spark, path))
    assert (1, "C1", 9) in got and (2, "D2", 9) in got
    assert len(got) == 25


def test_replan_cleans_orphaned_staging(spark, tmp_path):
    """ADVICE r10: a conflicted re-plan must rmtree its orphaned
    staged subdir — the table directory ends with exactly the
    committed subdirs, no leaked d-<uuid>."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    live0 = snapshot_files(path, 0)
    lo_file = min(live0, key=lambda r: live0[r]["lo"])
    c_files = _write_data_files(
        spark,
        path,
        spark.createDataFrame(
            [(1, "C1", 9)], "n_nationkey int, n_name string, n_regionkey long"
        ),
        "n_nationkey",
    )
    _try_commit(path, 1, {"op": "merge", "added": c_files, "removed": [lo_file]})
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(2, "U", "B2", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    committed_subs = {
        rel.split(os.sep, 1)[0]
        for v in range(latest_version(path) + 1)
        for rel in _read_commit_added(path, v)
    }
    on_disk = {d for d in os.listdir(path) if d.startswith("d-")}
    assert on_disk == committed_subs  # no orphaned staging survived


def _read_commit_added(path, v):
    import json as _json

    with open(os.path.join(path, "_commits", f"{v:08d}.json")) as f:
        return _json.load(f).get("added", {})


def test_two_process_compact_vs_merge_race_both_land(spark, tmp_path):
    """VERDICT r10 task 3's two-process case: OPTIMIZE and a merge
    race from separate driver processes; compaction's conflict retry
    re-plans (it reads the whole live set, so any data commit
    overlaps) and BOTH land — the maintenance job no longer dies to a
    concurrent writer."""
    import subprocess
    import sys

    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    for k in (1, 7, 13, 19):  # fragment so compaction has work
        merge_into(
            spark,
            path,
            spark.createDataFrame(
                [(k, "U", f"P{k}", 9)],
                "n_nationkey int, op string, n_name string, n_regionkey long",
            ),
        )
    v_frag = latest_version(path)

    compact_script = """
import sys
sys.path.insert(0, "/root/repo")
from apache_spark_irs_form_990_spark.session import get_session
from apache_spark_irs_form_990_spark.sources.lakehouse import compact_table
spark = get_session(app_name="compactor", shuffle_partitions=4)
v = compact_table(spark, sys.argv[1], n_files=2, max_retries=10)
print(f"compacted at {v}")
"""
    merge_script = """
import sys
sys.path.insert(0, "/root/repo")
from apache_spark_irs_form_990_spark.session import get_session
from apache_spark_irs_form_990_spark.sources.lakehouse import merge_into
spark = get_session(app_name="merger", shuffle_partitions=4)
changes = spark.createDataFrame(
    [(22, "U", "RACED", 9)],
    "n_nationkey int, op string, n_name string, n_regionkey long",
)
v = merge_into(spark, sys.argv[1], changes, max_retries=10)
print(f"merged at {v}")
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", s, path],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        )
        for s in (compact_script, merge_script)
    ]
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert latest_version(path) == v_frag + 2  # both landed
    got = _rows(read_snapshot(spark, path))
    assert (22, "RACED", 9) in got
    for k in (1, 7, 13, 19):
        assert (k, f"P{k}", 9) in got
    assert len(got) == 25  # no dup, no loss through the race


def test_vacuum_commit_is_disjoint_for_racing_merge(
    spark, tmp_path, monkeypatch
):
    """A VACUUM marker that lands in a merge's conflict window touches
    no data files, so file-level detection must classify it disjoint:
    the merge skips to the new head without re-planning."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4)
    _racing_commit(
        monkeypatch, spark, path, lambda: vacuum_table(path, retain_last=1)
    )
    log: list = []
    v = merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, "U", "B3", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
        attempt_log=log,
    )
    assert v == 2  # vacuum claimed 1, merge skipped ahead
    events = [e for e, _ in log]
    assert "skip_ahead" in events and "replan" not in events
    assert (3, "B3", 9) in _rows(read_snapshot(spark, path))


# ---------------------------------------------------------------- r11:
# change data feed + schema evolution

from apache_spark_irs_form_990_spark.sources.lakehouse import (  # noqa: E402
    SnapshotExpired,
    read_changes,
    vacuum_table,
)


def _feed(df):
    return {
        (
            r["n_nationkey"],
            r["n_name"],
            r["n_regionkey"],
            r["_change_type"],
            r["_commit_version"],
        )
        for r in df.collect()
    }


def test_change_feed_classifies_all_four_types(spark, tmp_path):
    """One merge producing an insert, a delete, a real update, and a
    payload-identical no-op 'update' — the feed must emit insert,
    delete, and the pre/post image PAIR, and must emit NOTHING for
    the no-op (its row is carried verbatim by the file rewrite)."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0), (4, "d", 0)],
        "n_nationkey int, n_name string, n_regionkey long",
    )
    create_table(spark, path, base, key="n_nationkey", n_files=2)
    changes = spark.createDataFrame(
        [
            (2, "U", "b2", 7),   # real update
            (3, "D", None, None),  # delete
            (9, "I", "new", 1),  # insert
            (4, "U", "d", 0),    # payload-identical: NOT a change
        ],
        "n_nationkey int, op string, n_name string, n_regionkey long",
    )
    merge_into(spark, path, changes)
    assert _feed(read_changes(spark, path, v_from=1)) == {
        (2, "b", 0, "update_preimage", 1),
        (2, "b2", 7, "update_postimage", 1),
        (3, "c", 0, "delete", 1),
        (9, "new", 1, "insert", 1),
    }


def test_change_feed_create_and_compact_commits(spark, tmp_path):
    """From v0 the feed replays the create as inserts; a compaction
    commit (rows identical, layout only) emits zero changes."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)],
        "n_nationkey int, n_name string, n_regionkey long",
    )
    create_table(spark, path, base, key="n_nationkey", n_files=2)
    compact_table(spark, path, n_files=1)
    feed = read_changes(spark, path, v_from=0)
    assert _feed(feed) == {
        (1, "a", 0, "insert", 0),
        (2, "b", 0, "insert", 0),
    }


def test_change_feed_refuses_below_vacuum_horizon(spark, tmp_path):
    """A commit whose pre-image snapshot was vacuumed away must raise
    SnapshotExpired, never silently read missing files."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)],
        "n_nationkey int, n_name string, n_regionkey long",
    )
    create_table(spark, path, base, key="n_nationkey", n_files=1)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(1, "U", "a2", 5)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    vacuum_table(path, retain_last=1)
    with pytest.raises(SnapshotExpired):
        read_changes(spark, path, v_from=1).collect()


def test_schema_evolution_requires_flag(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 0)], "n_nationkey int, n_name string, n_regionkey long"
    )
    create_table(spark, path, base, key="n_nationkey", n_files=1)
    widened = spark.createDataFrame(
        [(1, "U", "a2", 0, "x")],
        "n_nationkey int, op string, n_name string, n_regionkey long, extra string",
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        merge_into(spark, path, widened)


def test_schema_evolution_backfills_and_time_travels(spark, tmp_path):
    """An evolving merge widens the schema for the NEW snapshot
    (untouched files backfill NULL at scan time), while AS OF the
    pre-evolution version still serves the ORIGINAL narrow schema;
    a later plain merge on the evolved table must keep the column."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 0), (20, "b", 0)],
        "n_nationkey int, n_name string, n_regionkey long",
    )
    # 2 files, disjoint ranges: the merge below touches only file 1
    create_table(spark, path, base, key="n_nationkey", n_files=2)
    widened = spark.createDataFrame(
        [(1, "U", "a2", 5, "x")],
        "n_nationkey int, op string, n_name string, n_regionkey long, extra string",
    )
    merge_into(spark, path, widened, evolve_schema=True)
    snap = read_snapshot(spark, path)
    assert snap.columns == ["n_nationkey", "n_name", "n_regionkey", "extra"]
    got = {
        (r["n_nationkey"], r["n_name"], r["n_regionkey"], r["extra"])
        for r in snap.collect()
    }
    assert got == {(1, "a2", 5, "x"), (20, "b", 0, None)}  # carried file: NULL
    # time travel below the evolution: the narrow schema, verbatim
    v0 = read_snapshot(spark, path, version=0)
    assert v0.columns == ["n_nationkey", "n_name", "n_regionkey"]
    # a later NON-evolving merge keeps the evolved width
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(20, "U", "b2", 1, "y")],
            "n_nationkey int, op string, n_name string, n_regionkey long, extra string",
        ),
    )
    got2 = {
        (r["n_nationkey"], r["extra"])
        for r in read_snapshot(spark, path).collect()
    }
    assert got2 == {(1, "x"), (20, "y")}
    # compaction reads the evolved schema and homogenizes footers
    compact_table(spark, path, n_files=1)
    assert read_snapshot(spark, path).columns == [
        "n_nationkey", "n_name", "n_regionkey", "extra",
    ]


def test_change_feed_across_evolution_boundary(spark, tmp_path):
    """A feed spanning an evolving commit normalizes earlier (narrow)
    changes to the final schema with NULL backfill."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 0)], "n_nationkey int, n_name string, n_regionkey long"
    )
    create_table(spark, path, base, key="n_nationkey", n_files=1)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(2, "I", "b", 0)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, "I", "c", 0, "z")],
            "n_nationkey int, op string, n_name string, n_regionkey long, extra string",
        ),
        evolve_schema=True,
    )
    feed = read_changes(spark, path, v_from=1)
    assert feed.columns == [
        "n_nationkey", "n_name", "n_regionkey", "extra",
        "_change_type", "_commit_version",
    ]
    got = {
        (r["n_nationkey"], r["extra"], r["_change_type"], r["_commit_version"])
        for r in feed.collect()
    }
    assert got == {(2, None, "insert", 1), (3, "z", "insert", 2)}


def test_change_feed_replay_reconstructs_snapshot(spark, tmp_path):
    """THE CDF invariant: snapshot(v0) + the replayed feed == the
    latest snapshot, across a multi-commit history with inserts,
    deletes, updates, an evolving merge, and a compaction. A feed
    that echoes carried rows, misses a change, or mis-orders images
    cannot reconstruct the table."""
    import random

    rng = random.Random(990)
    path = str(tmp_path / "t")
    state = {k: ("n_" + str(k), k % 7) for k in range(40)}
    base = spark.createDataFrame(
        [(k, n, r) for k, (n, r) in state.items()],
        "n_nationkey int, n_name string, n_regionkey long",
    )
    create_table(spark, path, base, key="n_nationkey", n_files=4)
    schema = "n_nationkey int, op string, n_name string, n_regionkey long"
    for commit in range(3):
        rows = []
        for k in rng.sample(sorted(state), 8):
            if rng.random() < 0.3:
                rows.append((k, "D", None, None))
            else:
                rows.append((k, "U", f"u{commit}_{k}", rng.randrange(9)))
        for k in range(100 + 10 * commit, 103 + 10 * commit):
            rows.append((k, "I", f"i{commit}_{k}", rng.randrange(9)))
        merge_into(spark, path, spark.createDataFrame(rows, schema))
        if commit == 1:
            compact_table(spark, path, n_files=2)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(5, "U", "widened", 1, "extra_val")],
            schema + ", note string",
        ),
        evolve_schema=True,
    )
    # replay: fold the feed over snapshot(v0), version by version
    replayed = {
        (r["n_nationkey"]): (r["n_name"], r["n_regionkey"], None)
        for r in read_snapshot(spark, path, version=0).collect()
    }
    feed = read_changes(spark, path, v_from=1).collect()
    for r in sorted(feed, key=lambda r: r["_commit_version"]):
        k = r["n_nationkey"]
        if r["_change_type"] == "delete":
            del replayed[k]
        elif r["_change_type"] in ("insert", "update_postimage"):
            replayed[k] = (r["n_name"], r["n_regionkey"], r["note"])
    latest = {
        r["n_nationkey"]: (r["n_name"], r["n_regionkey"], r["note"])
        for r in read_snapshot(spark, path).collect()
    }
    assert replayed == latest


# ---------------------------------------------------------------- r11 §20.2
# merge-on-read deletion vectors


def _dv_table(spark, tmp_path, n_files=2):
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        create_table,
    )

    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=n_files)
    return path


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "n_nationkey int")


def test_dv_delete_touches_no_data_files(spark, tmp_path):
    """The core MOR contract: a delete commits position vectors only —
    zero files added or removed, live set carried verbatim — and the
    snapshot read excludes exactly the keyed rows. A second batch
    ACCUMULATES on the same files; re-deleting an already-dead key is
    a no-op that commits nothing."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        _read_commit,
        delete_keys_mor,
        snapshot_dv,
    )

    path = _dv_table(spark, tmp_path)
    live0 = set(snapshot_files(path, 0))
    all_rows = _rows(read_snapshot(spark, path))
    v1 = delete_keys_mor(spark, path, _keys_df(spark, [3, 7]))
    assert v1 == 1
    c1 = _read_commit(path, 1)
    assert c1["op"] == "delete_mor"
    assert c1["added"] == {} and c1["removed"] == []
    assert c1["dv"]["rows"] == 2
    assert set(snapshot_files(path, 1)) == live0
    got1 = _rows(read_snapshot(spark, path))
    assert got1 == {r for r in all_rows if r[0] not in (3, 7)}

    v2 = delete_keys_mor(spark, path, _keys_df(spark, [5]))
    assert v2 == 2
    got2 = _rows(read_snapshot(spark, path))
    assert got2 == {r for r in all_rows if r[0] not in (3, 5, 7)}
    assert set(snapshot_files(path, 2)) == live0
    dvm = snapshot_dv(path)
    assert sum(len(d) for d in dvm.values()) >= 2  # both batches live

    # idempotent: the keys are already dead → no new commit
    v3 = delete_keys_mor(spark, path, _keys_df(spark, [3, 5]))
    assert v3 == 2
    assert _rows(read_snapshot(spark, path)) == got2


def test_dv_time_travel_sees_predelete_rows(spark, tmp_path):
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
    )

    path = _dv_table(spark, tmp_path)
    before = _rows(read_snapshot(spark, path))
    delete_keys_mor(spark, path, _keys_df(spark, [0, 1, 2]))
    assert _rows(read_snapshot(spark, path, version=0)) == before
    assert len(_rows(read_snapshot(spark, path, version=1))) == len(before) - 3


def test_dv_merge_does_not_resurrect_and_clears_dv(spark, tmp_path):
    """A copy-on-write MERGE rewriting a DV'd file must apply the
    vector first (else the rewrite resurrects dead rows) — and the
    rewrite then CLEARS the file's DV state (the vector referenced a
    file that no longer exists)."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
        snapshot_dv,
    )

    path = _dv_table(spark, tmp_path, n_files=1)  # everything in one file
    all_rows = _rows(read_snapshot(spark, path))
    delete_keys_mor(spark, path, _keys_df(spark, [4]))
    upd = spark.createDataFrame(
        [(6, "U", "PATCHED", 9)],
        "n_nationkey int, op string, n_name string, n_regionkey long",
    )
    merge_into(spark, path, upd)
    got = _rows(read_snapshot(spark, path))
    want = {
        (k, "PATCHED" if k == 6 else n, 9 if k == 6 else r)
        for (k, n, r) in all_rows
        if k != 4
    }
    assert got == want  # key 4 stays dead through the rewrite
    assert snapshot_dv(path) == {}  # rewrite materialized the delete


def test_dv_compact_materializes_then_vacuum_reclaims(spark, tmp_path):
    """compact folds DVs into the rewrite (snapshot_dv empties, rows
    unchanged); vacuum then physically reclaims BOTH the pre-compact
    data files and the now-unreferenced DV dirs — the MOR takedown's
    compliance close: the deleted keys survive nowhere on disk."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
        snapshot_dv,
        vacuum_table,
    )

    path = _dv_table(spark, tmp_path)
    delete_keys_mor(spark, path, _keys_df(spark, [3, 7]))
    before = _rows(read_snapshot(spark, path))
    compact_table(spark, path, n_files=1)
    assert snapshot_dv(path) == {}
    assert _rows(read_snapshot(spark, path)) == before

    rep = vacuum_table(path, retain_last=1)
    assert rep["dv_deleted"], "DV dir should be reclaimed"
    assert not any(
        sub.startswith("dv-") for sub in os.listdir(path)
    ), "no DV dir may survive vacuum"
    # raw directory scan: the deleted keys' rows exist in no surviving file
    survivors = [
        os.path.join(path, sub, f)
        for sub in os.listdir(path)
        if sub.startswith("d-")
        for f in os.listdir(os.path.join(path, sub))
        if f.endswith(".parquet")
    ]
    raw = spark.read.parquet(*survivors)
    assert raw.filter(F.col("n_nationkey").isin(3, 7)).count() == 0
    assert _rows(read_snapshot(spark, path)) == before


def test_dv_change_feed_emits_exact_per_commit_deletes(spark, tmp_path):
    """Each delete_mor commit's feed is exactly ITS newly-dead rows —
    the second batch must not re-emit the first's (the write path
    excludes already-DV'd positions, so no set-difference is needed)."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
        read_changes,
    )

    path = _dv_table(spark, tmp_path)
    all_rows = _rows(read_snapshot(spark, path))
    delete_keys_mor(spark, path, _keys_df(spark, [3, 7]))
    delete_keys_mor(spark, path, _keys_df(spark, [5, 7]))  # 7 already dead
    feed = read_changes(spark, path, v_from=1).collect()
    assert all(r["_change_type"] == "delete" for r in feed)
    by_v = {}
    for r in feed:
        by_v.setdefault(r["_commit_version"], set()).add(
            (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        )
    assert by_v[1] == {r for r in all_rows if r[0] in (3, 7)}
    assert by_v[2] == {r for r in all_rows if r[0] == 5}


def test_dv_conflicting_merge_replans_over_dv_commit(spark, tmp_path):
    """File-level conflict detection treats a DV commit as touching
    its files: a merge staged against the pre-DV snapshot must
    RE-PLAN (committing as-is would resurrect the deleted rows)."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
    )

    path = _dv_table(spark, tmp_path, n_files=1)
    all_rows = _rows(read_snapshot(spark, path))

    log: list = []
    orig = _try_commit
    fired = {}

    def racing_commit(p, version, payload):
        # first commit attempt of the merge: sneak a DV delete in first
        if payload.get("op") == "merge" and not fired:
            fired["x"] = True
            delete_keys_mor(spark, path, _keys_df(spark, [4]))
        return orig(p, version, payload)

    import apache_spark_irs_form_990_spark.sources.lakehouse as lh

    lh_orig = lh._try_commit
    lh._try_commit = racing_commit
    try:
        upd = spark.createDataFrame(
            [(6, "U", "PATCHED", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        )
        merge_into(spark, path, upd, attempt_log=log)
    finally:
        lh._try_commit = lh_orig
    assert ("replan", 1) in log or any(e == "replan" for e, _ in log)
    got = _rows(read_snapshot(spark, path))
    want = {
        (k, "PATCHED" if k == 6 else n, 9 if k == 6 else r)
        for (k, n, r) in all_rows
        if k != 4
    }
    assert got == want


# ---------------------------------------------------------------- r11 §20.2
# blind append + per-file bloom skipping


def _hashed_nation(spark):
    """Nation re-keyed by a hash-distributed string key — the shape
    where range zone maps stop pruning."""
    return _nation(spark).select(
        F.md5(F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))).alias(
            "k"
        ),
        "n_name",
        "n_regionkey",
    )


def test_append_is_added_only_and_feeds_inserts(spark, tmp_path):
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        _read_commit,
        append_table,
        read_changes,
    )

    path = str(tmp_path / "t")
    base = _nation(spark)
    a = base.filter(F.col("n_nationkey") < 10)
    b = base.filter(F.col("n_nationkey") >= 10)
    create_table(spark, path, a, key="n_nationkey", n_files=1)
    v = append_table(spark, path, b, n_files=1)
    assert v == 1
    c1 = _read_commit(path, 1)
    assert c1["op"] == "append" and c1["added"] and "removed" not in c1
    assert _rows(read_snapshot(spark, path)) == _rows(base)
    feed = read_changes(spark, path, v_from=1)
    got = {
        (r["n_nationkey"], r["_change_type"]) for r in feed.collect()
    }
    assert got == {(r[0], "insert") for r in _rows(b)}
    # schema contract: an append with a missing/extra column refuses
    with pytest.raises(ValueError, match="append schema"):
        append_table(spark, path, b.drop("n_name"))


def test_append_streams_through_tail(spark, tmp_path):
    """append commits are the tail's native type: they stream."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        append_table,
    )
    from apache_spark_irs_form_990_spark.sources.lakehouse_stream import (
        tail_stream,
    )
    import uuid as _uuid

    path = str(tmp_path / "t")
    base = _nation(spark)
    create_table(
        spark, path, base.filter(F.col("n_nationkey") < 10),
        key="n_nationkey", n_files=1,
    )
    append_table(
        spark, path, base.filter(F.col("n_nationkey") >= 10), n_files=1
    )
    sink = f"tail_append_{_uuid.uuid4().hex[:8]}"
    q = (
        tail_stream(spark, path)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["n_nationkey"], r["_commit_version"])
        for r in spark.table(sink).collect()
    }
    assert {k for k, _ in got} == {r[0] for r in _rows(base)}
    assert {v for _, v in got} == {0, 1}


def test_bloom_prunes_appended_files_but_never_true_ones(spark, tmp_path):
    """After create + 2 whole-domain appends of a hash-keyed table,
    range stats overlap everywhere (probe = all files); the bloom
    probe cuts the merge's rewrite to the files that truly hold the
    batch keys — and the result proves no TRUE file was pruned (a
    lost update would change the payload check)."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        _read_commit,
        _touched_files,
        append_table,
        table_meta,
    )

    path = str(tmp_path / "t")
    h = _hashed_nation(spark)
    cohort = F.crc32(F.col("k")) % 3
    create_table(
        spark, path, h.filter(cohort == 0), key="k", n_files=1,
        bloom_m_bits=1 << 12,
    )
    for i in (1, 2):
        append_table(spark, path, h.filter(cohort == i), n_files=1)
    all_rows = read_snapshot(spark, path).collect()
    assert len(set(snapshot_files(path))) == 3
    # one real key, updated
    one = _hashed_nation(spark).filter(F.col("n_name") == "NATION_3").select(
        "k", F.lit("U").alias("op"), F.lit("PATCHED").alias("n_name"),
        F.lit(9).cast("long").alias("n_regionkey"),
    )
    meta = table_meta(path)
    live = snapshot_files(path)
    range_only = _touched_files(spark, live, one, meta["key"], meta["key_types"])
    assert len(range_only) == 3, "hash key must defeat range pruning"
    v = merge_into(spark, path, one)
    removed = _read_commit(path, v)["removed"]
    assert len(removed) == 1, f"bloom should isolate the true file: {removed}"
    names = [r["n_name"] for r in read_snapshot(spark, path).collect()]
    assert "PATCHED" in names and "NATION_3" not in names
    assert len(names) == len(all_rows)


def test_bloom_sidecars_follow_rewrites_and_vacuum(spark, tmp_path):
    """Merge-written files carry fresh sidecars (pruning keeps working
    after rewrites); vacuum sweeps the sidecars of deleted files."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        append_table,
        vacuum_table,
    )

    path = str(tmp_path / "t")
    h = _hashed_nation(spark)
    cohort = F.crc32(F.col("k")) % 2
    create_table(
        spark, path, h.filter(cohort == 0), key="k", n_files=1,
        bloom_m_bits=1 << 12,
    )
    append_table(spark, path, h.filter(cohort == 1), n_files=1)
    one = h.filter(F.col("n_name") == "NATION_5").select(
        "k", F.lit("U").alias("op"), F.lit("X").alias("n_name"),
        F.lit(1).cast("long").alias("n_regionkey"),
    )
    merge_into(spark, path, one)
    live = snapshot_files(path)
    for rel, s in live.items():
        assert s.get("bloom"), f"live file without bloom stat: {rel}"
        assert os.path.exists(os.path.join(path, rel + ".bloom"))
    vacuum_table(path, retain_last=1)
    blooms_on_disk = {
        os.path.join(sub, f[: -len(".bloom")])
        for sub in os.listdir(path)
        if sub.startswith("d-")
        for f in os.listdir(os.path.join(path, sub))
        if f.endswith(".bloom")
    }
    assert blooms_on_disk == set(live), "orphan or missing sidecars"


def test_dv_delete_uses_bloom_pruning(spark, tmp_path):
    """delete_keys_mor goes through the same probe: on the appended
    hash-keyed table a 1-key MOR delete DV's only the true file."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        _read_commit,
        append_table,
        delete_keys_mor,
    )

    path = str(tmp_path / "t")
    h = _hashed_nation(spark)
    cohort = F.crc32(F.col("k")) % 3
    create_table(
        spark, path, h.filter(cohort == 0), key="k", n_files=1,
        bloom_m_bits=1 << 12,
    )
    for i in (1, 2):
        append_table(spark, path, h.filter(cohort == i), n_files=1)
    dead = h.filter(F.col("n_name") == "NATION_7").select("k")
    v = delete_keys_mor(spark, path, dead)
    c = _read_commit(path, v)
    assert len(c["dv"]["files"]) == 1 and c["dv"]["rows"] == 1
    names = [r["n_name"] for r in read_snapshot(spark, path).collect()]
    assert "NATION_7" not in names and len(names) == 24


def test_read_keys_prunes_files_and_honors_dv(spark, tmp_path):
    """read_keys scans only manifest-surviving files yet returns
    exactly the live matching rows: a MOR-deleted key yields nothing,
    an absent key yields nothing, pruning never loses a live row."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        append_table,
        delete_keys_mor,
        read_keys,
    )

    path = str(tmp_path / "t")
    h = _hashed_nation(spark)
    cohort = F.crc32(F.col("k")) % 3
    create_table(
        spark, path, h.filter(cohort == 0), key="k", n_files=1,
        bloom_m_bits=1 << 12,
    )
    for i in (1, 2):
        append_table(spark, path, h.filter(cohort == i), n_files=1)
    k_of = {
        r["n_name"]: r["k"]
        for r in h.select("k", "n_name").collect()
    }
    delete_keys_mor(
        spark,
        path,
        spark.createDataFrame([(k_of["NATION_11"],)], "k string"),
    )
    lookup = spark.createDataFrame(
        [(k_of["NATION_2"],), (k_of["NATION_11"],), ("ghost",)], "k string"
    )
    got = {(r["n_name"]) for r in read_keys(spark, path, lookup).collect()}
    assert got == {"NATION_2"}
    # empty table: clean empty frame, schema intact
    got0 = read_keys(
        spark, path, spark.createDataFrame([("ghost",)], "k string"),
        version=0,
    )
    assert set(got0.columns) == {"k", "n_name", "n_regionkey"}


def test_zorder_compact_lossless_materializes_dv_and_prunes(spark, tmp_path):
    """OPTIMIZE ZORDER: lossless relayout that (a) materializes
    pending deletion vectors like any compaction, (b) records "cols"
    stats on both clustered dimensions so either prunes, and (c)
    read_where_range stays exact — files without stats (pre-zorder
    history) are conservatively included."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
        read_where_range,
        snapshot_dv,
    )

    path = str(tmp_path / "t")
    base = _nation(spark).select(
        "n_nationkey", "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )
    create_table(spark, path, base, key="n_nationkey", n_files=4)
    delete_keys_mor(
        spark, path, spark.createDataFrame([(7,)], "n_nationkey int")
    )
    want = _rows(read_snapshot(spark, path))

    # pre-zorder: no "cols" stats -> range read includes everything,
    # still exact
    r0 = read_where_range(spark, path, "n_regionkey", 2, 2)
    assert _rows(r0) == {t for t in want if t[2] == 2}

    v = compact_table(
        spark, path, n_files=4, zorder_by=("n_nationkey", "n_regionkey")
    )
    assert snapshot_dv(path) == {}  # DV materialized by the rewrite
    assert _rows(read_snapshot(spark, path)) == want  # lossless
    live = snapshot_files(path, v)
    assert all("cols" in s for s in live.values())
    r1 = read_where_range(spark, path, "n_regionkey", 2, 2)
    assert _rows(r1) == {t for t in want if t[2] == 2}

    # partitioned tables refuse zorder loudly
    with pytest.raises(ValueError, match="unpartitioned"):
        p2 = str(tmp_path / "p")
        create_table(
            spark, p2, base.select("n_regionkey", "n_nationkey", "n_name"),
            key=["n_regionkey", "n_nationkey"], n_files=1,
            partition_by="n_regionkey",
        )
        compact_table(
            spark, p2, n_files=1, zorder_by=("n_nationkey", "n_regionkey")
        )


def test_streaming_foreachbatch_append_sink_exactly_once(spark, tmp_path):
    """The APPEND counterpart of the foreachBatch→MERGE capstone:
    appends are NOT semantically idempotent (a replayed batch would
    double its rows), so exactly-once must come from the recorded
    writer transaction — append_table(txn_app, txn_version=epoch)
    skips any epoch at or below the highest already committed. The
    crash again falls AFTER the table commit, BEFORE the checkpoint
    commit; the restart re-delivers the epoch and the skip (not a
    merge no-op) is what keeps the row count exact."""
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        append_table,
        last_txn_version,
    )

    path = str(tmp_path / "t")
    base = _nation(spark).filter(F.col("n_nationkey") < 5)
    create_table(spark, path, base, key="n_nationkey", n_files=1)

    src = str(tmp_path / "feed")
    schema = "n_nationkey int, n_name string, n_regionkey long"
    chunks = [
        [(100, "A0", 1), (101, "A1", 1)],
        [(200, "B0", 2), (201, "B1", 2), (202, "B2", 2)],
    ]
    import time as _t

    for c in chunks:
        spark.createDataFrame(c, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _t.sleep(1.1)

    crash_marker = str(tmp_path / "crashed_once")

    def sink(df, bid):
        if df.isEmpty():
            return
        append_table(
            spark, path, df, txn_app="ingest", txn_version=bid
        )
        if bid == 1 and not os.path.exists(crash_marker):
            with open(crash_marker, "w") as f:
                f.write("")
            raise RuntimeError("crash AFTER table commit, BEFORE checkpoint")

    def run():
        q = (
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException):
        run()
    v_crash = latest_version(path)  # epoch 1's append DID commit
    run()  # restart: epoch 1 re-delivered -> txn skip, NO new version
    assert latest_version(path) == v_crash
    assert last_txn_version(path, "ingest") == 1
    got = _rows(read_snapshot(spark, path))
    want = _rows(base) | {
        (100, "A0", 1), (101, "A1", 1),
        (200, "B0", 2), (201, "B1", 2), (202, "B2", 2),
    }
    assert got == want  # every appended row exactly once
    # a direct duplicate-epoch append is also a no-op
    append_table(
        spark,
        path,
        spark.createDataFrame([(999, "DUP", 9)], schema),
        txn_app="ingest",
        txn_version=1,
    )
    assert _rows(read_snapshot(spark, path)) == want


# ------------------------------------------------------------------------
# Commit stats from the written footers, reads pinned to the logged
# schema, per-commit metrics, vacuum sidecars, and a job-count guard.

import datetime  # noqa: E402
import uuid  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

from apache_spark_irs_form_990_spark.sources.lakehouse import (  # noqa: E402
    _aggregate_stats,
    _footer_stats,
    _read_commit,
    append_table,
    delete_keys_mor,
    read_changes,
    snapshot_dv,
)

_GEN = {
    "bigint": lambda i: (i * 7919) % 1000 - 500,
    "int": lambda i: (i * 31) % 97,
    # mixed-case and non-ASCII: the footer's byte order must agree
    # with Spark's string min/max
    "string": lambda i: ["a", "Z", "é", "zz", "ü"][i % 5] + f"{i * 37 % 1000:03d}",
    "date": lambda i: datetime.date(2020, 1, 1)
    + datetime.timedelta(days=(i * 13) % 400),
}


@pytest.mark.parametrize(
    "ddl, key, stat_cols",
    [
        ("k bigint, v string", ["k"], []),
        ("k string, v bigint", ["k"], []),
        ("k date, v string", ["k"], []),
        ("a int, b string, v bigint", ["a", "b"], []),
        ("k bigint, x int, d date", ["k"], ["x", "d"]),
    ],
    ids=["bigint", "string", "date", "composite", "zorder_stat_cols"],
)
def test_footer_stats_equal_aggregate_stats(spark, tmp_path, ddl, key, stat_cols):
    """The per-file stats a write takes from its parquet footers equal
    the ones the `input_file_name()` aggregate computes over the same
    files: rows, each key column's [lo, hi] and the z-order "cols"."""
    types = [c.split(" ")[1] for c in ddl.split(", ")]
    df = spark.createDataFrame(
        [tuple(_GEN[t](i) for t in types) for i in range(300)], ddl
    ).repartition(3)
    path = str(tmp_path / "t")
    added = _write_data_files(spark, path, df, key, stat_cols=stat_cols)
    sub = next(iter(added)).split(os.sep)[0]
    full = os.path.join(path, sub)
    footer = _footer_stats(full, key + stat_cols)
    assert footer is not None, "Spark's footers carry min/max for these types"
    agg = _aggregate_stats(spark, full, df.schema, key, key + stat_cols)
    assert sorted(footer) == sorted(agg)
    assert sum(s["rows"] for s in added.values()) == 300
    if stat_cols:
        assert all(set(s["cols"]) == set(stat_cols) for s in added.values())


def test_footer_without_min_max_falls_back_to_aggregate(spark, tmp_path):
    """An all-NULL column chunk has no min/max in its footer: the
    write then takes its stats from the aggregate, NULL range and all."""
    df = spark.createDataFrame(
        [(i, None) for i in range(10)], "k bigint, x int"
    ).coalesce(1)
    path = str(tmp_path / "t")
    added = _write_data_files(spark, path, df, "k", stat_cols=["x"])
    (rel, s), = added.items()
    assert _footer_stats(os.path.join(path, rel.split(os.sep)[0]), ["k", "x"]) is None
    assert s["lo"] == [0] and s["hi"] == [9] and s["rows"] == 10
    assert s["cols"] == {"x": [None, None]}


def test_read_snapshot_keeps_logged_column_order_after_merge(spark, tmp_path):
    """A table whose key is not its first column keeps the logged
    column order through a merge: `merge_apply` emits keys first, the
    merge stores its files in table order, and the pinned read returns
    the recorded order whichever file a footer would be taken from."""
    path = str(tmp_path / "t")
    want = ["name", "amount", "id"]
    base = spark.createDataFrame(
        [(f"n{i}", i * 10, i) for i in range(8)], "name string, amount long, id long"
    )
    create_table(spark, path, base, key="id", n_files=2)
    # touches both files, so only merge-written files stay live
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(1, "U", "x", 1), (6, "U", "y", 2)],
            "id long, op string, name string, amount long",
        ),
    )
    assert not set(snapshot_files(path)) & set(snapshot_files(path, 0))
    assert read_snapshot(spark, path).columns == want
    assert read_changes(spark, path).columns[:3] == want
    for rel in snapshot_files(path):
        assert pq.read_schema(os.path.join(path, rel)).names == want


def test_vacuum_leaves_only_needed_files_and_dirs(spark, tmp_path):
    """After create → merge → compact → MOR delete → vacuum, the table
    directory holds the commit log, the live files' subdirs and the DV
    dir still needed — no expired checksum or _SUCCESS marker keeps an
    expired subdir alive."""
    path = _dv_table(spark, tmp_path)
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(6, "U", "PATCHED", 9)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    compact_table(spark, path, n_files=1)
    delete_keys_mor(spark, path, _keys_df(spark, [3]))
    vacuum_table(path, retain_last=1)
    live = snapshot_files(path)
    live_subs = {rel.split(os.sep)[0] for rel in live}
    dv_dirs = {d for dirs in snapshot_dv(path).values() for d in dirs}
    assert dv_dirs
    assert set(os.listdir(path)) == {"_commits"} | live_subs | dv_dirs
    for sub in live_subs:
        names = {rel.split(os.sep)[1] for rel in live if rel.startswith(sub)}
        allowed = names | {f".{n}.crc" for n in names} | {"_SUCCESS", "._SUCCESS.crc"}
        assert set(os.listdir(os.path.join(path, sub))) <= allowed


def test_commit_metrics_record_what_each_commit_did(spark, tmp_path):
    """Every commit carries its own metrics, consistent with its
    manifest entries and the files on disk; on a DV-free table the
    rows the live files' manifests record equal the snapshot's."""
    path = str(tmp_path / "t")
    create_table(spark, path, _nation(spark), key="n_nationkey", n_files=2)
    append_table(
        spark,
        path,
        spark.createDataFrame(
            [(100 + i, f"X{i}", 1) for i in range(5)],
            "n_nationkey int, n_name string, n_regionkey long",
        ),
    )
    n = read_snapshot(spark, path).count()
    assert sum(_read_commit(path, v)["metrics"]["rows_added"] for v in (0, 1)) == n
    merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(3, "U", "P", 9), (4, "D", None, None)],
            "n_nationkey int, op string, n_name string, n_regionkey long",
        ),
    )
    compact_table(spark, path, n_files=1)
    for v in range(latest_version(path) + 1):
        c = _read_commit(path, v)
        m = c["metrics"]
        assert m["files_added"] == len(c["added"])
        assert m["files_removed"] == len(c.get("removed", []))
        assert m["rows_added"] == sum(s["rows"] for s in c["added"].values())
        assert m["bytes_added"] == sum(
            os.path.getsize(os.path.join(path, rel)) for rel in c["added"]
        )
        assert m["attempts"] == 1 and m["duration_s"] >= 0
    live = snapshot_files(path)
    assert sum(s["rows"] for s in live.values()) == read_snapshot(spark, path).count()


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted under a job group of its own
    once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_commit_and_read_job_counts(spark, tmp_path):
    """A commit launches no job to re-read what it wrote, and no read
    of the table infers a schema: reads launch 0 jobs before an
    action, create ≤ 3 (range sample, shuffle, write), append ≤ 2."""
    path = str(tmp_path / "t")
    assert _jobs_launched(
        spark,
        lambda: create_table(spark, path, _nation(spark), key="n_nationkey", n_files=4),
    ) <= 3
    extra = spark.createDataFrame(
        [(100, "X", 1)], "n_nationkey int, n_name string, n_regionkey long"
    )
    assert _jobs_launched(spark, lambda: append_table(spark, path, extra)) <= 2
    delete_keys_mor(spark, path, _keys_df(spark, [5]))
    assert _jobs_launched(spark, lambda: read_snapshot(spark, path)) == 0
    assert _jobs_launched(spark, lambda: read_changes(spark, path)) == 0
