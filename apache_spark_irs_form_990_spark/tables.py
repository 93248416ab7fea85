"""Table loaders for the driver's parquet star schema (TESTDATA.md).

One parquet file per table under ``{sf_dir}/``. All reads go through
``spark.read.parquet`` so Catalyst gets predicate pushdown + column
pruning for free; callers select/filter on the returned DataFrame and
the scan narrows automatically (verify with ``.explain`` —
``PushedFilters``/``ReadSchema``).

Schema inference on ``spark.read.parquet`` runs a Spark job that reads
the file footer (about 0.1 s on a local session), and every query
loads several tables. ``load`` therefore remembers each file's inferred
schema, keyed by path, size and mtime, and hands it back through
``spark.read.schema`` on later reads: the same schema inference would
return, minus the job. Every call still builds a fresh relation, so
self-joins keep distinct attribute ids.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_SCHEMAS: dict[tuple, T.StructType] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet_file(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema memoized for
    a single regular file (directories and missing paths read as-is)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    with _SCHEMAS_LOCK:
        schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = df.schema
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read it as long and truncate to microseconds
        # (Spark's native timestamp precision — same truncation DuckDB
        # applies on CAST(ts AS TIMESTAMP)). Runtime-settable legacy conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet_file(spark, f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer `div`, not `/1000` + cast: double division can round
            # up across a microsecond boundary and diverge from DuckDB's
            # exact floor on the same nanos.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Some generator versions write micros TIMESTAMP_NTZ instead of
            # nanos. unix_micros()/window() require TIMESTAMP_LTZ; the session
            # TZ is pinned to UTC (session.py) so this cast relabels the same
            # instant without shifting values, matching DuckDB's naive reads.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet_file(spark, f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views so ``spark.sql`` queries run
    against the same data the DuckDB oracle sees."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
