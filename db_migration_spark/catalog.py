"""Testdata table loading and view registration.

The driver's synthetic tables (TESTDATA.md) stand in for the reference's data
shapes per FIXTURES.md: ``lineitem`` melts to the EAVT datom stream,
``nation``/``region`` play the small id-catalog dimensions, ``events`` is the
late-arriving patch stream, ``documents``/``embeddings`` back the
training-data-pipeline operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import DEFAULT_CPUS

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Tables that carry per-row compute (parse/hash/vector work) or feed
# shuffling operators.  The driver's testdata writes each as ONE parquet
# file = one input split = one core, so we spread them on load.  On a real
# deployment the input has as many splits as the data has blocks and this
# never triggers.
_SPREAD_TABLES = {
    "lineitem",
    "orders",
    "customer",
    "part",
    "events",
    "documents",
    "embeddings",
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.  Parquet scan → Catalyst gets pushdown,
    column pruning and partition-split parallelism for free.

    ``events.ts`` is normalized to Spark's TIMESTAMP (local-tz) type
    whatever the fixture's parquet annotation is — generations have
    shipped TIMESTAMP(NANOS) (no Spark type; arrives as nanosecond longs
    via ``legacy.parquet.nanosAsLong``) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (arrives as TIMESTAMP_NTZ, which watermarks
    and window functions reject).  The session timezone is pinned to UTC,
    so the NTZ→LTZ cast is the identity on the wall-clock values and
    matches DuckDB's naive-timestamp reading."""
    if name == "events":
        # self-sufficient even when the caller built its own session (the
        # driver does): the nanos workaround is a runtime-settable SQL conf
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if name in _SPREAD_TABLES:
        # Single-file inputs smaller than maxPartitionBytes scan as one
        # split; spread them (cheap file-size probe, no plan analysis).
        # Why not lower spark.sql.files.maxPartitionBytes instead (the
        # cleaner-plan alternative — no RoundRobin exchange)?  Probed:
        # every driver fixture is written as ONE parquet ROW GROUP
        # (pyarrow metadata, sf0.001–0.1), and parquet is splittable only
        # at row-group boundaries — extra byte-range splits of a
        # one-row-group file are empty tasks, so split tuning cannot buy
        # parallelism here.  The exchange is the only lever, it is
        # size-gated (<128 MB), and on any real deployment (multi-block
        # files) it never fires.
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path) and os.path.getsize(path) < 128 * 1024 * 1024:
            df = df.repartition(DEFAULT_CPUS)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works 1:1 with
    the DuckDB oracle's pre-registered views."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
