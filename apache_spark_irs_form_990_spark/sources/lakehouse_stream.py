"""Streaming TAIL of the commit-log table — the lakehouse as a
Structured Streaming SOURCE (the Delta streaming-source contract
re-expressed on Spark's own file source).

`sources/lakehouse.py` gives the engine a mutable, snapshot-isolated
table; this module makes that table *tailable*. The commit log is a
directory of immutable single-line JSON files, each fully written and
then hard-linked into place (the ``.tmp-*`` staging names start with
``.``, which the file source skips), so Spark's JSON file source
tails it natively: the engine tracks which commit files it has seen,
and Python runs only in the executors, to read the data files the new
commits added. A consumer (the persisted dedup state, a feature
backfill, an index builder) pays O(new data) per trigger, never a
snapshot scan.

Semantics (== Delta's streaming source):

  * a batch is every data file ADDED by the commit files that arrived
    since the last batch; each emitted row carries ``_commit_version``,
    the commit that added it (provenance, and what the batch-twin
    oracle pins).
  * the CREATE commit replays as the initial insert flood; start the
    reader at ``startingVersion`` to skip history.
  * COMPACT and VACUUM commits are layout/retention-only — zero
    logical changes, so the tail emits NOTHING for them (their added
    files are rewrites of rows already delivered; streaming them
    would duplicate).
  * a commit that REMOVED files or wrote deletion vectors (a MERGE
    with updates/deletes, a merge-on-read DELETE) is NOT an append —
    the tail fails the query by default (the source can't retract
    rows it already emitted), or skips the commit wholesale under
    ``skipChangeCommits`` (Delta's option of the same name; the CDF
    reader `lakehouse.read_changes` is the correct consumer for
    change commits).
  * offsets are the file source's log of the commit files it has
    seen, not commit versions, and ``numInputRows`` counts commit
    files, not data rows. A checkpoint written by the earlier
    Python-data-source tail (offsets ``{"version": V}``) cannot be
    resumed; the table itself is unaffected.
  * the file source's ``maxFileAge`` is set so that no commit ages
    out: with Spark's default of 7 days, a restart would silently skip
    a commit file whose mtime is more than 7 days older than the
    newest file already seen.

Exactly-once: the checkpoint records exactly which commit files each
batch consumed, and commit files and the data files they name never
change, so a replay re-reads identical data — pinned by the
kill-and-restart test in tests/test_lakehouse_stream.py. Rate limiting
(the file source's ``maxFilesPerTrigger``) is now possible but not
exposed; a backlog replays as one batch.

Worker-side reads are Arrow RecordBatches straight from the parquet
files, cast to the schema the table had when the tail was built, with
typed NULLs for columns a file predates — the same read contract as
`lakehouse.read_snapshot`. The read function closes over plain values
only, so an executor unpickles it without importing this package.

Provenance: the reference's streaming surface is batch-replay
(IRSSpark.py processes one manifest per run); a tailable commit log
is that contract made continuous. Cited for parity, not copied.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType

from apache_spark_irs_form_990_spark.registry import register
from apache_spark_irs_form_990_spark.sources.lakehouse import (
    _TABLE_DIRS,
    _base_nation,
    _commits_dir,
    _current_schema,
    compact_table,
    create_table,
    merge_into,
)
from apache_spark_irs_form_990_spark.tables import load

VERSION_COL = "_commit_version"

# only the commit fields the tail needs; ``added`` maps relpath → the
# file's stats object, read back as its raw JSON text
_COMMIT_SCHEMA = (
    "version long, op string, added map<string,string>, "
    "removed array<string>, dv string"
)


def _file_reader(path: str, schema: StructType):
    """The ``mapInArrow`` function of the tail: ``(rel, version)``
    rows in, each named parquet file out as Arrow RecordBatches cast
    to ``schema`` (its last field is ``_commit_version``), with typed
    NULLs for columns the file predates. It closes over a string and
    an Arrow schema only, so a worker unpickles it without importing
    this package."""
    arrow_schema = to_arrow_schema(schema)
    data_fields = list(arrow_schema)[:-1]

    def read(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in batches:
            for rel, version in zip(
                b.column("rel").to_pylist(), b.column("version").to_pylist()
            ):
                t = pq.read_table(os.path.join(path, rel))
                n = t.num_rows
                cols = [
                    t.column(f.name).cast(f.type)
                    if f.name in t.column_names
                    else pa.nulls(n, type=f.type)
                    for f in data_fields
                ]
                cols.append(pa.array([version] * n, type=pa.int64()))
                yield from pa.Table.from_arrays(
                    cols, schema=arrow_schema
                ).to_batches()

    return read


def tail_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """``readStream`` over a commit-log table. Options:
    ``startingVersion`` (first commit to emit, default 0 = replay the
    create) and ``skipChangeCommits`` ("true" to skip non-append
    commits instead of failing the query). The output schema is the
    table schema as of this call plus ``_commit_version long``."""
    start = int(options.get("startingVersion", 0))
    skip = str(options.get("skipChangeCommits", "false")).lower() == "true"
    schema = _current_schema(path)
    out_schema = StructType(
        list(schema.fields) + [StructField(VERSION_COL, LongType(), False)]
    )
    commits = (
        spark.readStream.schema(_COMMIT_SCHEMA)
        # no commit may age out: with the 7-day default, a restart
        # skips any commit file 7 days older than the newest seen
        .option("maxFileAge", "36500d")
        .json(_commits_dir(path))
    )
    change = (F.size("removed") > 0) | F.col("dv").isNotNull()
    refuse = F.raise_error(
        F.format_string(
            "NonAppendCommit: commit %d of %s removed files or wrote "
            "deletion vectors (a MERGE/DELETE with updates or deletes): "
            "a streaming tail cannot retract emitted rows. Read changes "
            "through lakehouse.read_changes, or set "
            "skipChangeCommits=true to skip such commits.",
            F.col("version"),
            F.lit(path),
        )
    )
    keep = (
        F.when(F.col("version") < start, False)
        # layout/retention: rows already delivered
        .when(F.col("op").isin("compact", "vacuum"), False)
        .when(change, F.lit(False) if skip else refuse)
        .otherwise(True)
    )
    files = commits.filter(keep).select(
        F.explode(F.map_keys("added")).alias("rel"), "version"
    )
    return files.repartition(
        spark.sparkContext.defaultParallelism
    ).mapInArrow(_file_reader(path, out_schema), out_schema)


@register(
    "stream_lakehouse_tail",
    # Batch twin: the tail over [create, append, compact, append] must
    # deliver nation at version 0 and each insert batch at ITS commit
    # version — with NOTHING for the compaction (version 2), whose
    # files rewrite already-delivered rows.
    oracle="""
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT) AS n_regionkey,
           CAST(0 AS BIGINT) AS _commit_version
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100, concat('B1_', CAST(n_nationkey AS VARCHAR)),
           CAST(n_nationkey % 5 AS BIGINT), CAST(1 AS BIGINT)
    FROM nation WHERE n_nationkey < 4
    UNION ALL
    SELECT n_nationkey + 200, concat('B2_', CAST(n_nationkey AS VARCHAR)),
           CAST(n_nationkey % 5 AS BIGINT), CAST(3 AS BIGINT)
    FROM nation WHERE n_nationkey < 3
    """,
)
def stream_lakehouse_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING TAIL of the commit log (r11): history = create(nation)
    → append-merge (4 rows) → COMPACT → append-merge (3 rows); the
    tail streams it with commit versions as offsets and must deliver
    every row exactly once, tagged with the commit that added it, and
    emit NOTHING for the compaction — compaction rewrites rows the
    stream already delivered, and re-emitting them is the classic
    source bug this oracle exists to catch (the compacted files hold
    all 29 rows; an echo would nearly double the count). Offset
    determinism over immutable files is what makes checkpoint replay
    exactly-once — the kill-and-restart test pins it."""
    base = _base_nation(spark, sf_dir)
    n = load(spark, sf_dir, "nation")
    b1 = n.filter(F.col("n_nationkey") < 4).select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.lit("I").alias("op"),
        F.concat(F.lit("B1_"), F.col("n_nationkey").cast("string")).alias(
            "n_name"
        ),
        (F.col("n_nationkey") % 5).cast("long").alias("n_regionkey"),
    )
    b2 = n.filter(F.col("n_nationkey") < 3).select(
        (F.col("n_nationkey") + 200).alias("n_nationkey"),
        F.lit("I").alias("op"),
        F.concat(F.lit("B2_"), F.col("n_nationkey").cast("string")).alias(
            "n_name"
        ),
        (F.col("n_nationkey") % 5).cast("long").alias("n_regionkey"),
    )
    tag = hashlib.md5(("tail|" + sf_dir).encode()).hexdigest()[:8]
    path = _TABLE_DIRS.new_dir(tag)
    create_table(spark, path, base, key="n_nationkey", n_files=4)
    merge_into(spark, path, b1)          # version 1: pure appends
    compact_table(spark, path, n_files=2)  # version 2: layout only
    merge_into(spark, path, b2)          # version 3: pure appends
    sink = f"lakehouse_tail_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(
        tempfile.gettempdir(), f"spark990_tailq_{uuid.uuid4().hex[:8]}"
    )
    q = (
        tail_stream(spark, path)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # materialize the (bounded) result so the memory sink/table name
    # can be dropped before returning
    sink_schema = spark.table(sink).schema
    rows = spark.table(sink).collect()
    return spark.createDataFrame(rows, schema=sink_schema)
