"""SparkSession construction tuned for the engine.

The reference sizes its workers from the host (pseudoace JVM gets 75% of free
RAM, gzip/sort fan out over ``psutil.cpu_count()`` processes —
``/root/reference/src/azanium/util.py:279-286``,
``runcommand.py:121-130``, ``pseudoace.py:87-95``).  On Spark the same
decisions are configuration-plane: AQE re-plans at runtime, shuffle
partitions are sized for the local core count, and Arrow keeps any
unavoidable Python boundary vectorized.

At cluster scale the same builder applies — only ``master`` and the
memory/partition numbers change; all engine code is master-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One shuffle partition per local core is right for local[32] test runs; on a
# real cluster AQE coalescing makes the initial number mostly irrelevant as
# long as it is not too small, so we set a high ceiling and let AQE shrink.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The engine's root: the directory holding db_migration_spark/ and the
# Python worker entry pyspark_graft_worker.py.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "db-migration-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Every knob below is scale-motivated:

    * AQE on (+ coalesce + skew-join): runtime re-planning replaces the
      reference's hand-tuned per-stage memory restarts
      (``runcommand.py:173-176``).
    * ``autoBroadcastJoinThreshold`` raised to 64 MiB: the engine's dimension
      tables (class catalogs, schema tables, nation/region) are tiny next to
      the fact stream; broadcasting them removes the shuffle entirely.
    * Arrow enabled: any pandas_udf boundary (the .ace parser, vector ops)
      moves data in columnar batches, not pickled rows.
    * ``maxPartitionBytes`` 128 MiB: at 100 TB this yields ~800k input
      splits — large enough tasks to amortize scheduling, small enough to
      fit executor memory.
    * Python workers run the engine's worker entry
      (``pyspark_graft_worker``), which keeps the zip import caches across
      tasks instead of re-reading ``pyspark.zip`` before each one
      (~0.25 CPU-s per task on CPython 3.11); the engine root goes on
      the executors' ``PYTHONPATH`` so the daemon can import it from any
      working directory.
    """
    cpus = DEFAULT_CPUS
    # Scale-dependent knobs are ENV-parameterised with local defaults
    # (r10 optimization-round rule: config values tuned for local[32]
    # must not be baked in).  Local defaults, production rationale:
    # * advisory partition size 4m: default 64m coalesces every
    #   small-SF shuffle to one partition — one core; at cluster scale
    #   set 256m (guide §2.2: 100 MB-1 GB post-AQE partitions).
    # * broadcast threshold 64m: the engine's dimension tables are
    #   tiny next to the fact stream; on executors with ≥ 8 GB heaps
    #   this is safe up to a few hundred MB.
    # * maxPartitionBytes 128m: at 100 TB this yields ~800k splits;
    #   raise to 512m-1g for big sequential scans on fast storage
    #   (guide §6).
    advisory = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4m")
    bcast = os.environ.get(
        "SPARK_GRAFT_BROADCAST_THRESHOLD", str(64 * 1024 * 1024)
    )
    max_part = os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        .config("spark.sql.autoBroadcastJoinThreshold", bcast)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", max_part)
        # store codec: measured ~20% smaller than snappy on the lineitem
        # fixture at equal-or-better read/write speed — at 100 TB that is
        # 20 TB of storage and scan bytes
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # the events fixture carries TIMESTAMP(NANOS) parquet columns, which
        # Spark has no native type for; read as long and convert in catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
