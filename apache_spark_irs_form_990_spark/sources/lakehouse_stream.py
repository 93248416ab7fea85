"""Streaming TAIL of the commit-log table — the lakehouse as a
Structured Streaming SOURCE (r11; the Delta streaming-source contract
re-expressed through Spark 4's Python DataSource API).

`sources/lakehouse.py` gives the engine a mutable, snapshot-isolated
table; this module makes that table *tailable*: a streaming query
whose offsets ARE commit versions. Each micro-batch reads exactly the
files the commits in ``(start, end]`` added — never a snapshot scan —
so a consumer (the persisted dedup state, a feature backfill, an
index builder) pays O(new data) per trigger, the property that makes
"keep the downstream state current" affordable at 100 TB.

Offset semantics (== Delta's streaming source, expressed in ~100
lines):

  * offset = ``{"version": V}``; the batch for ``(start, end]`` is
    every data file the commits in that half-open range ADDED.
  * the CREATE commit replays as the initial insert flood (start the
    reader at ``startingVersion`` to skip history).
  * COMPACT and VACUUM commits are layout/retention-only — zero
    logical changes, so the tail emits NOTHING for them (their added
    files are rewrites of rows already delivered; streaming them
    would duplicate).
  * a commit that REMOVED files it did not rewrite losslessly (a
    MERGE with updates/deletes) is NOT an append — the tail refuses
    loudly by default (the source can't retract rows it already
    emitted), or skips the commit wholesale under
    ``skipChangeCommits`` (Delta's option of the same name; the CDF
    reader `lakehouse.read_changes` is the correct consumer for
    change commits).
  * every emitted row carries ``_commit_version`` — consumers get
    provenance and the batch-twin oracle can pin WHICH commit each
    row came from.

Exactly-once falls out of offset determinism: the same ``(start,
end]`` range always names the same immutable files (the commit log
never mutates), so a checkpoint replay re-reads identical data —
pinned by the kill-and-restart test in tests/test_lakehouse_stream.py.

Worker-side reads are Arrow RecordBatches straight from the parquet
footers (never row-at-a-time tuples), with typed-NULL backfill for
files written before a schema evolution — the same read contract as
`lakehouse.read_snapshot`.

Provenance: the reference's streaming surface is batch-replay
(IRSSpark.py processes one manifest per run); a tailable commit log
is that contract made continuous. Cited for parity, not copied.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

from apache_spark_irs_form_990_spark.registry import register
from apache_spark_irs_form_990_spark.sources.lakehouse import (
    _TABLE_DIRS,
    _base_nation,
    _current_schema,
    _read_commit,
    compact_table,
    create_table,
    latest_version,
    merge_into,
)
from apache_spark_irs_form_990_spark.tables import load

VERSION_COL = "_commit_version"


class NonAppendCommit(RuntimeError):
    """The tail hit a commit that updated/deleted already-emitted rows."""


class CommitLogStreamSource(DataSource):
    """``spark.readStream.format("commitlog_tail")`` over a commit-log
    table. Options: ``path`` (table dir, required), ``startingVersion``
    (first commit to emit, default 0 = replay the create),
    ``skipChangeCommits`` ("true" to silently skip non-append commits
    instead of failing the query).

    NO rate-limit option (Delta's maxFilesPerTrigger): the Python
    DataSource API's ``latestOffset()`` takes no start offset (no
    admission control), so any reader-side pacing state can desync
    from the engine's committed offset — a prototype paced with a
    driver-side watermark DELIVERED DUPLICATES under the engine's
    actual call order and was removed; a backlog replays as one batch
    until the API grows admission control."""

    @classmethod
    def name(cls) -> str:
        return "commitlog_tail"

    def schema(self) -> StructType:
        schema = _current_schema(self.options["path"])
        return StructType(
            list(schema.fields) + [StructField(VERSION_COL, LongType(), False)]
        )

    def streamReader(self, schema: StructType) -> "CommitLogStreamReader":
        return CommitLogStreamReader(self.options, schema)


class CommitLogStreamReader(DataSourceStreamReader):
    """Offsets are commit versions; a batch is the files its version
    range added. The reader object is pickled to executors, so it
    carries only strings/ints (path, schema JSON, flags)."""

    def __init__(self, options, schema: StructType) -> None:
        self.path = options["path"]
        self.start_version = int(options.get("startingVersion", 0))
        self.skip_change_commits = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.schema_json = schema.json()

    def initialOffset(self) -> dict:
        return {"version": self.start_version - 1}

    def latestOffset(self) -> dict:
        return {"version": latest_version(self.path)}

    def partitions(self, start: dict, end: dict):
        parts: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            c = _read_commit(self.path, v)
            op = c.get("op")
            if op in ("compact", "vacuum"):
                continue  # layout/retention: rows already delivered
            if c.get("removed") or c.get("dv"):
                if self.skip_change_commits:
                    continue
                raise NonAppendCommit(
                    f"commit {v} of {self.path} removed files or wrote "
                    "deletion vectors (a MERGE/DELETE with updates or "
                    "deletes): a streaming tail cannot retract emitted "
                    "rows. Read changes through lakehouse.read_changes, "
                    "or set skipChangeCommits=true to skip such commits."
                )
            for rel in sorted(c.get("added", {})):
                parts.append(
                    InputPartition((os.path.join(self.path, rel), v))
                )
        return parts

    def read(self, partition: InputPartition):
        """One parquet file → Arrow RecordBatches aligned to the query
        schema (typed-NULL backfill for pre-evolution files) plus the
        constant ``_commit_version`` column. Runs in the executor;
        Arrow end to end."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        file_path, version = partition.value
        schema = StructType.fromJson(json.loads(self.schema_json))
        arrow_schema = to_arrow_schema(schema)
        t = pq.read_table(file_path)
        n = t.num_rows
        cols = []
        for field in arrow_schema:
            if field.name == VERSION_COL:
                cols.append(pa.array([version] * n, type=field.type))
            elif field.name in t.column_names:
                cols.append(t.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(n, type=field.type))
        yield from pa.Table.from_arrays(cols, schema=arrow_schema).to_batches()

    def commit(self, end: dict) -> None:
        pass  # offsets are durable in the checkpoint; nothing to ack


def register_commitlog_tail(spark: SparkSession) -> None:
    spark.dataSource.register(CommitLogStreamSource)


def tail_stream(spark: SparkSession, path: str, **options) -> DataFrame:
    """``readStream`` over a commit-log table (registers the source
    idempotently — re-registration replaces, never errors)."""
    register_commitlog_tail(spark)
    reader = spark.readStream.format("commitlog_tail").option("path", path)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


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
