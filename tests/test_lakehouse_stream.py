"""Streaming tail of the commit-log table
(sources/lakehouse_stream.py, r11): offset determinism, non-append
refusal, skipChangeCommits, startingVersion, checkpointed
kill-and-restart exactly-once, commits that must not age out, the
plan shape, and a read function that workers unpickle without the
package."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

import pytest

from apache_spark_irs_form_990_spark.sources.lakehouse import (
    _commit_path,
    compact_table,
    create_table,
    merge_into,
)
from apache_spark_irs_form_990_spark.sources.lakehouse_stream import (
    _file_reader,
    tail_stream,
)

SCHEMA = "n_nationkey int, op string, n_name string, n_regionkey long"


def _mk_table(spark, path):
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
        "n_nationkey int, n_name string, n_regionkey long",
    )
    create_table(spark, path, base, key="n_nationkey", n_files=1)


def _append(spark, path, rows):
    merge_into(spark, path, spark.createDataFrame(rows, SCHEMA))


def _drain(spark, df, ckpt=None):
    """Run the stream to exhaustion into a memory sink; return rows."""
    sink = f"tail_test_{uuid.uuid4().hex[:8]}"
    w = df.writeStream.outputMode("append").format("memory").queryName(sink)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return {
        (r["n_nationkey"], r["n_name"], r["_commit_version"])
        for r in spark.table(sink).collect()
    }


def test_tail_replays_create_and_appends_with_versions(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    _append(spark, path, [(10, "I", "x", 1)])
    got = _drain(spark, tail_stream(spark, path))
    assert got == {
        (1, "a", 0),
        (2, "b", 0),
        (3, "c", 0),
        (10, "x", 1),
    }


def test_tail_emits_nothing_for_compaction(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    compact_table(spark, path, n_files=1)
    got = _drain(spark, tail_stream(spark, path))
    assert {v for (_, _, v) in got} == {0}  # no echo of rewritten rows
    assert len(got) == 3


def test_tail_refuses_non_append_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    _append(spark, path, [(2, "U", "b2", 5)])  # rewrites a file
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="NonAppendCommit|retract"):
        _drain(spark, tail_stream(spark, path))


def test_tail_skip_change_commits(spark, tmp_path):
    """skipChangeCommits: the update commit is skipped wholesale; a
    later pure append still streams."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    _append(spark, path, [(2, "U", "b2", 5)])   # version 1: change
    _append(spark, path, [(20, "I", "y", 2)])   # version 2: append
    got = _drain(
        spark, tail_stream(spark, path, skipChangeCommits="true")
    )
    assert got == {
        (1, "a", 0),
        (2, "b", 0),   # the ORIGINAL row; the update was skipped
        (3, "c", 0),
        (20, "y", 2),
    }


def test_tail_starting_version_skips_history(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    _append(spark, path, [(10, "I", "x", 1)])
    got = _drain(spark, tail_stream(spark, path, startingVersion="1"))
    assert got == {(10, "x", 1)}


def _run_checkpointed(spark, path, ckpt) -> set:
    """One checkpointed run of the tail to exhaustion through
    foreachBatch (the memory sink cannot recover from a checkpoint);
    returns the (key, commit version) pairs it delivered."""
    batches: list = []
    q = (
        tail_stream(spark, path)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(
            lambda df, epoch: batches.append(
                {(r["n_nationkey"], r["_commit_version"]) for r in df.collect()}
            )
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return set().union(*batches)


def test_tail_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart: drain, stop, append a new commit, restart on
    the SAME checkpoint — the second run must deliver ONLY the new
    commit's rows (offsets replay from the checkpoint; immutable
    files make the re-read deterministic)."""
    path = str(tmp_path / "t")
    ckpt = os.path.join(tempfile.gettempdir(), f"tailckpt_{uuid.uuid4().hex[:8]}")
    try:
        _mk_table(spark, path)
        assert _run_checkpointed(spark, path, ckpt) == {(1, 0), (2, 0), (3, 0)}
        _append(spark, path, [(10, "I", "x", 1)])
        # ONLY the new commit — no replay
        assert _run_checkpointed(spark, path, ckpt) == {(10, 1)}
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_tail_restart_delivers_backdated_commit(spark, tmp_path):
    """A commit file whose mtime lies far behind the newest commit
    already seen (a restored or copied table) still streams after a
    restart: the file source's 7-day default maxFileAge would ignore
    it, so the tail must not let commits age out."""
    path = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    _mk_table(spark, path)
    assert _run_checkpointed(spark, path, ckpt) == {(1, 0), (2, 0), (3, 0)}
    _append(spark, path, [(10, "I", "x", 1), (11, "I", "y", 1)])
    old = time.time() - 30 * 86400
    os.utime(_commit_path(path, 1), (old, old))
    assert _run_checkpointed(spark, path, ckpt) == {(10, 1), (11, 1)}


def test_tail_plan_is_one_arrow_read_over_the_commit_files(spark, tmp_path):
    """Spark's own file source tails the commit log and one mapInArrow
    reads the data files: no Python data source, so no Python runner
    process starts per query."""
    path = str(tmp_path / "t")
    _mk_table(spark, path)
    plan = tail_stream(spark, path)._jdf.queryExecution().analyzed().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "FileSource[" in plan and "_commits" in plan, plan
    assert "PythonMicroBatchStream" not in plan, plan
    assert "commitlog_tail" not in plan, plan


def test_tail_reader_unpickles_without_the_package(tmp_path):
    """Executors unpickle the tail's read function in a worker whose
    working directory need not hold the package: the pickled function
    must run from elsewhere with the package not importable. Reads a
    file written before a column was added, so the typed-NULL
    backfill runs too."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark import cloudpickle
    from pyspark.sql.types import StructType

    table = tmp_path / "t"
    (table / "d-1").mkdir(parents=True)
    pq.write_table(
        pa.table({"n_nationkey": pa.array([7, 8], pa.int32())}),
        table / "d-1" / "part-0.parquet",
    )
    schema = StructType.fromDDL(
        "n_nationkey int, n_name string, _commit_version long"
    )
    fn = cloudpickle.dumps(_file_reader(str(table), schema))
    child = (
        "import importlib.util, pickle, sys\n"
        "import pyarrow as pa\n"
        "assert importlib.util.find_spec('apache_spark_irs_form_990_spark') is None\n"
        "read = pickle.loads(sys.stdin.buffer.read())\n"
        "b = pa.record_batch({'rel': ['d-1/part-0.parquet'], 'version': [3]})\n"
        "t = pa.Table.from_batches(list(read(iter([b]))))\n"
        "print(sorted(t.to_pylist(), key=lambda r: r['n_nationkey']))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", child],
        input=fn,
        capture_output=True,
        cwd=tempfile.gettempdir(),
        env=env,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr.decode()
    assert out.stdout.decode().strip() == str(
        [
            {"n_nationkey": 7, "n_name": None, "_commit_version": 3},
            {"n_nationkey": 8, "n_name": None, "_commit_version": 3},
        ]
    )


def test_tail_refuses_deletion_vector_commit(spark, tmp_path):
    """A delete_mor commit adds no files but IS a change commit — the
    tail must refuse it (or skip under skipChangeCommits), never
    silently treat it as an empty append."""
    from apache_spark_irs_form_990_spark.sources.lakehouse import (
        delete_keys_mor,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    path = str(tmp_path / "t")
    _mk_table(spark, path)
    delete_keys_mor(
        spark, path, spark.createDataFrame([(2,)], "n_nationkey int")
    )
    with pytest.raises(StreamingQueryException, match="NonAppendCommit|retract"):
        _drain(spark, tail_stream(spark, path))
    _append(spark, path, [(20, "I", "y", 2)])
    got = _drain(spark, tail_stream(spark, path, skipChangeCommits="true"))
    assert got == {(1, "a", 0), (2, "b", 0), (3, "c", 0), (20, "y", 2)}
