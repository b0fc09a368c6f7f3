"""Engine/source feature queries (ORC sink, bucketed no-exchange join,
SQL front door, try/map suites, partitioned scan, schema evolution,
crosstab, null-safe join, histogram).  Split out of queries.py (round-8
verdict task 5); bodies unchanged."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .queries_e2e import _fx


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink (Spark-native columnar alternative to Parquet —
    relevant when an ingest upstream emits ORC): write ``orders`` as
    zlib ORC, read it back, aggregate per status.  Predicate pushdown and
    column pruning work the same as Parquet (ORC readers expose min/max
    stripe stats to Catalyst)."""
    orders = load_table(spark, sf_dir, "orders")
    path = _fx(sf_dir, "orders_orc")
    orders.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


ORACLE_ORC = """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
GROUP BY o_orderstatus
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join — the 100 TB big-join story:
    ``orders`` and ``lineitem`` written bucketed (8 buckets) AND
    bucket-sorted on the join key, then joined WITHOUT a shuffle on
    either side (the plan guard asserts no Exchange above the scans).  At
    cluster scale this is how the recurring orderkey join escapes its
    shuffle entirely: pay the bucketing once at ingest, every subsequent
    join is map-side.  Spark-native bucketing (saveAsTable) — no Hive
    needed; table names carry the sf tag so per-sf runs don't collide."""
    import re as _re

    tag = _re.sub(r"[^A-Za-z0-9]", "_", sf_dir.rstrip("/").split("/")[-1])
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for name, df, key in (
        (f"orders_bkt_{tag}", orders, "o_orderkey"),
        (f"lineitem_bkt_{tag}", li, "l_orderkey"),
    ):
        # the warehouse DIRECTORY outlives the in-memory catalog: a fresh
        # session sees no table but an existing location and refuses the
        # save (LOCATION_ALREADY_EXISTS) — drop both sides first
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        if wh.startswith("file:"):
            wh = wh[len("file:") :]
        if wh:
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    ob = spark.table(f"orders_bkt_{tag}")
    lb = spark.table(f"lineitem_bkt_{tag}")
    return (
        lb.join(ob, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


ORACLE_BUCKETED = """
SELECT o_orderstatus, count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
"""


def q_sql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: every table registered as a view and the query
    submitted as one ANSI SQL string (CTE + window + join) through
    ``spark.sql`` — a user of the reference's SQL layer can paste their
    query unchanged; Catalyst compiles it to the same plan the DataFrame
    API gets.  The oracle is the IDENTICAL string run on DuckDB."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(SQL_FRONTEND)


SQL_FRONTEND = """
WITH cust_orders AS (
  SELECT c_custkey, n_name,
         count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY c_custkey, n_name
)
SELECT n_name, c_custkey, n_orders, spend,
       CAST(row_number() OVER (
              PARTITION BY n_name ORDER BY spend DESC, c_custkey
            ) AS BIGINT) AS rank_in_nation
FROM cust_orders
WHERE n_orders >= 3
"""


def q_f_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI error-safe function family: try_divide / try_cast /
    try_element_at return NULL where the strict forms would raise
    (division by zero, malformed casts, out-of-range subscripts) — the
    ingest-hardening surface.  The oracle spells each NULL contract as an
    explicit CASE, so the gate pins the exact semantics."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        "l_tax",
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_quantity"), F.round(F.col("l_tax") * 10) % 3
        ).alias("safe_div"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.try_element_at(
            F.split(F.lit("a,b,c"), ","), F.col("l_linenumber").cast("int")
        ).alias("nth_token"),
    )


ORACLE_TRY = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN round(l_tax * 10) % 3 = 0 THEN NULL
            ELSE l_quantity / (round(l_tax * 10) % 3) END AS safe_div,
       TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
       CASE WHEN l_linenumber BETWEEN 1 AND 3
            THEN ['a','b','c'][l_linenumber] END AS nth_token
FROM lineitem
"""


def q_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned scan — the coarse
    data-skipping tier at 100 TB (directory-level pruning BEFORE footer
    stats): documents written ``partitionBy(lang)``, read back filtered
    to two languages; the plan's PartitionFilters prune every other
    partition directory without opening a file (guard in
    test_plans_guard)."""
    docs = load_table(spark, sf_dir, "documents")
    path = _fx(sf_dir, "docs_by_lang")
    (
        docs.write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


ORACLE_PARTITIONED = """
SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE lang IN ('en', 'de')
GROUP BY lang, source
"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift across shards — the long-lived-corpus reality: an old
    shard (no ``quality`` column) and a new shard (scored) land in one
    dataset; ``mergeSchema`` unifies them with NULL back-fill and the
    engine aggregates presence per language.  Shard membership is
    deterministic (doc_id parity) so the DuckDB oracle recomputes the
    same split from the live table."""
    docs = load_table(spark, sf_dir, "documents")
    root = _fx(sf_dir, "evolving_docs")
    old = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "n_chars"
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars") % 100 / 100.0).alias("quality"),
    )
    old.write.mode("overwrite").parquet(f"{root}/shard=old")
    new.write.mode("overwrite").parquet(f"{root}/shard=new")
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("quality").alias("n_scored"),
        F.sum(F.col("quality").cast("decimal(10,6)"))
        .cast("double")
        .alias("quality_sum"),
    )


ORACLE_SCHEMA_EVOLUTION = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
       CAST(sum(CASE WHEN doc_id % 2 = 1
                THEN CAST(n_chars % 100 / 100.0 AS DECIMAL(10,6)) END) AS DOUBLE)
         AS quality_sum
FROM documents
GROUP BY lang
"""


def q_crosstab_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab via the DataFrame pivot API with an EXPLICIT value list
    (src0-src3 + an absent control column): fixed values skip the extra
    distinct-scan Spark otherwise runs to discover pivot columns — the
    right call at 100 TB where the category set is known — and missing
    combinations surface as NULL counts (src_absent is all-NULL by
    construction, proving no silent drop).  Distinct from the EAV pivots
    (x7 family): this is the two-categorical-dims reporting crosstab."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .pivot("source", ["src0", "src1", "src2", "src3", "src_absent"])
        .agg(F.count(F.lit(1)))
    )


ORACLE_CROSSTAB = """
SELECT lang,
       CAST(sum(CASE WHEN source = 'src0' THEN 1 END) AS BIGINT) AS src0,
       CAST(sum(CASE WHEN source = 'src1' THEN 1 END) AS BIGINT) AS src1,
       CAST(sum(CASE WHEN source = 'src2' THEN 1 END) AS BIGINT) AS src2,
       CAST(sum(CASE WHEN source = 'src3' THEN 1 END) AS BIGINT) AS src3,
       CAST(sum(CASE WHEN source = 'src_absent' THEN 1 END) AS BIGINT) AS src_absent
FROM documents
GROUP BY lang
"""


def q_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    keys MATCH each other instead of vanishing — the semantics a
    dimension-join on an optional attribute needs (plain ``=`` silently
    drops every NULL-keyed row).  Key is NULLIF(mktsegment, 'BUILDING'),
    so one dim value is genuinely NULL; the oracle uses DuckDB's
    IS NOT DISTINCT FROM."""
    customer = load_table(spark, sf_dir, "customer").withColumn(
        "seg_key", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    )
    dim = (
        customer.select("seg_key")
        .distinct()
        .withColumn(
            "seg_label",
            F.coalesce(F.concat(F.lit("seg:"), F.col("seg_key")), F.lit("seg:DEFAULT")),
        )
    )
    return (
        customer.join(
            F.broadcast(dim), customer["seg_key"].eqNullSafe(dim["seg_key"])
        )
        .groupBy("seg_label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


ORACLE_NULLSAFE = """
WITH c AS (
  SELECT nullif(c_mktsegment, 'BUILDING') AS seg_key FROM customer
), dim AS (
  SELECT DISTINCT seg_key,
         coalesce('seg:' || seg_key, 'seg:DEFAULT') AS seg_label
  FROM c
)
SELECT seg_label, count(*) AS n_customers
FROM c JOIN dim ON c.seg_key IS NOT DISTINCT FROM dim.seg_key
GROUP BY seg_label
"""


def q_f_map_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order MAP expression family: map_from_arrays,
    transform_values, map_filter, map_concat, element_at and an
    aggregate over map_values — each result extracted to a scalar so the
    oracle pins the semantics with explicit ground-truth arithmetic
    (DuckDB's map internals differ; the CONTRACT is what must match)."""
    c = load_table(spark, sf_dir, "customer")
    m = F.map_from_arrays(
        F.array(F.lit("bal"), F.lit("key")),
        F.array(F.col("c_acctbal"), F.col("c_custkey").cast("double")),
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    positive = F.map_filter(m, lambda k, v: v > 0)
    merged = F.map_concat(
        m, F.create_map(F.lit("nation"), F.col("c_nationkey").cast("double"))
    )
    return c.select(
        "c_custkey",
        F.element_at(doubled, "bal").alias("bal_doubled"),
        F.size(positive).cast("long").alias("n_positive"),
        F.size(merged).cast("long").alias("n_merged"),
        F.aggregate(
            F.map_values(m), F.lit(0.0), lambda acc, v: acc + v
        ).alias("values_sum"),
    )


ORACLE_MAP = """
SELECT c_custkey,
       c_acctbal * 2 AS bal_doubled,
       CAST((CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END)
          + (CASE WHEN c_custkey > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       CAST(3 AS BIGINT) AS n_merged,
       c_acctbal + CAST(c_custkey AS DOUBLE) AS values_sum
FROM customer
"""


def q_hist_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of document length per language (bin width
    128 chars) — the dataset-profiling staple; one map stage + one
    aggregate, bins derived arithmetically so both engines bucket
    identically (no histogram UDAF needed)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "bin", (F.col("n_chars") / 128).cast("long") * 128
        )
        .groupBy("lang", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_HIST = """
SELECT lang, CAST(n_chars // 128 * 128 AS BIGINT) AS bin, count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


REGISTRY = (
    (q_orc_roundtrip, ORACLE_ORC),
    (q_bucketed_join, ORACLE_BUCKETED),
    (q_sql_frontend, SQL_FRONTEND),
    (q_f_try_suite, ORACLE_TRY),
    (q_partitioned_scan, ORACLE_PARTITIONED),
    (q_schema_evolution, ORACLE_SCHEMA_EVOLUTION),
    (q_crosstab_lang_source, ORACLE_CROSSTAB),
    (q_nullsafe_join, ORACLE_NULLSAFE),
    (q_f_map_suite, ORACLE_MAP),
    (q_hist_doc_lengths, ORACLE_HIST),
)
