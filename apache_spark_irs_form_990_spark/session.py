"""SparkSession bootstrap (SURVEY.md M0).

Re-expresses the reference's session/config surface
(``/root/reference/IRSSpark.py:134-154`` — SparkConf -> SparkContext ->
SQLContext) as a modern ``SparkSession`` builder with a 100-TB-minded
default config: AQE on (runtime join re-planning, skew splitting,
partition coalescing), Arrow on (vectorized Python interchange), UTC
session timezone (so timestamps hash identically against the DuckDB
oracle), and shuffle partitions sized to the local core count rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "apache_spark_irs_form_990_spark"


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. The config choices here are
    the scale posture (SURVEY.md §4.2): AQE for runtime re-planning and
    skew handling, adaptive partition coalescing so small scale factors
    don't over-parallelize, and broadcast threshold left at default so
    Catalyst broadcasts the star-schema dimensions automatically.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd, not gzip (r11, optimization guide §6/§9): measured on
        # the standing-state writer at sf0.1 — gzip 13.3 s vs zstd
        # 8.0 s for the same four tables at +7% bytes (snappy was as
        # fast to write but +46% bytes and slower to re-read). Applies
        # to every parquet sink the engine writes; readers (Spark,
        # DuckDB oracle) decode zstd natively.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Compiled-class cache for whole-stage and expression codegen
        # (static; Spark's default keeps 100 classes). One session runs
        # the whole registry, so the default thrashes and every repeat
        # of a query shape pays its Janino compile again. Measured on
        # a 4-core VM, 160 oracled queries at sf0.01 run a second time
        # in the same session: 85 s at the default, 45 s at 4000.
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
