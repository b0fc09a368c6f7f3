"""The five remaining TPC-H query shapes (Q2, Q9, Q11, Q16, Q20).

Every one of these needs ``partsupp`` in stock TPC-H; TESTDATA.md has no
partsupp table, so the part↔supplier relation is *derived* from lineitem
(the observed (l_partkey, l_suppkey) pairs, with the cheapest observed
line price standing in for ps_supplycost).  The derivation keeps each
query's defining plan shape intact — which is the point of the exercise:

- Q2: correlated MIN over a region-filtered supply relation,
  decorrelated to a per-part aggregate joined back (same decorrelation
  Catalyst performs for the scalar subquery form).
- Q9: multi-fact profit expression grouped by a dimension two joins away
  (supplier→nation) crossed with a date part.
- Q11: group values compared against a scalar fraction of the global
  total — a 1-row aggregate broadcast, not a second scan.
- Q16: distinct-count over an anti-joined (NOT IN) supply relation.
- Q20: two-granularity nested aggregation (year slice vs all-time per
  (supplier, part)) feeding a semi-join back to the supplier dimension.

Determinism rules follow queries.py: money sums are decimal-exact,
double→decimal casts use identical expression shapes in both engines,
and top-k orderings carry unique tiebreak columns.

Reference anchors (plan-shape parity targets, not code):
TPC-H spec §2.4.2/.9/.11/.16/.20; the reference repo's own relational
surface is runcommand.py's QA joins — these five shapes extend it the
same way queries_tpch_ext.py's Q4-Q22 rows do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table


def _supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: one row per observed (part, supplier) pair with
    the cheapest observed line price as the supply cost.  MIN of doubles
    is order-independent, so the derivation is exact in both engines."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min("l_extendedprice").alias("ps_supplycost"))
    )


_SUPPLY_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
"""


# ---------------------------------------------------------------------------
# Q2 shape — min-cost supplier per part within a region
# ---------------------------------------------------------------------------


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For small ECONOMY parts, the EUROPE supplier(s) whose cost equals
    the per-part minimum.  The correlated ``ps_supplycost = (SELECT
    min…)`` decorrelates to a per-part MIN aggregate joined back on
    (partkey, cost); part and the supplier→nation→region dimension chain
    broadcast, so the only shuffle is the supply-relation groupBy."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & (F.col("p_size") <= 10)
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        _supply(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    # single-pass decorrelation: the per-part MIN as a window over the
    # offers relation — one scan, one exchange, no recomputed subtree
    # (the aggregate-join-back form evaluates `offers` twice unless
    # ReuseExchange happens to dedupe it)
    from pyspark.sql import Window

    mc = F.min("ps_supplycost").over(Window.partitionBy("p_partkey"))
    return (
        offers.withColumn("__mc", mc)
        .filter(F.col("ps_supplycost") == F.col("__mc"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("ps_supplycost").alias("supply_cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


ORACLE_Q2 = f"""
WITH supply AS ({_SUPPLY_SQL}),
euro_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT * FROM supply
  JOIN (SELECT * FROM part WHERE p_type = 'ECONOMY' AND p_size <= 10) p
    ON ps_partkey = p_partkey
  JOIN euro_supp ON ps_suppkey = s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       ps_supplycost AS supply_cost
FROM offers o
WHERE ps_supplycost = (SELECT min(ps_supplycost) FROM offers i
                       WHERE i.p_partkey = o.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Q9 shape — product-type profit by nation and year
# ---------------------------------------------------------------------------


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on ``bolt`` parts by supplier nation and ship year.  The
    cost term (0.1 · retail price · quantity — the partsupp surrogate)
    and the revenue term are cast to decimal per-line with identical
    expression shapes in both engines, so the grouped sums are exact.
    part and supplier→nation broadcast; one fact-table shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation,
       CAST(year(l_shipdate) AS INTEGER) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * 0.1 * l_quantity
                AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(l_shipdate)
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# Q11 shape — important stock: group value vs a scalar fraction of total
# ---------------------------------------------------------------------------


def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose supply value from ASIA-nation suppliers exceeds
    0.1% of the total such value.  The threshold is a one-row aggregate
    over the *same* grouped relation, broadcast back as a cross-join —
    Spark's decorrelated form of the HAVING scalar subquery; the grouped
    relation is computed once and reused for both sides."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    value = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias(
                "value_dec"
            )
        )
    )
    total = value.agg(
        F.sum("value_dec").cast("decimal(28,8)").alias("total_dec")
    )
    return (
        value.join(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("decimal(28,8)")
            > F.col("total_dec") * F.lit(0.001).cast("decimal(8,6)")
        )
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("value_dec").cast("double").alias("supply_value"),
        )
        .orderBy(F.desc("supply_value"), "ps_partkey")
    )


ORACLE_Q11 = """
WITH value AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS value_dec
  FROM lineitem
  JOIN (SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA') s
    ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT l_partkey AS ps_partkey,
       CAST(value_dec AS DOUBLE) AS supply_value
FROM value
WHERE CAST(value_dec AS DECIMAL(28,8))
      > (SELECT CAST(sum(value_dec) AS DECIMAL(28,8)) FROM value)
        * CAST(0.001 AS DECIMAL(8,6))
ORDER BY supply_value DESC, ps_partkey
"""


# ---------------------------------------------------------------------------
# Q16 shape — supplier count per part attribute, NOT IN anti-join
# ---------------------------------------------------------------------------


def q_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) for parts outside one
    brand/type family, excluding low-balance suppliers via a broadcast
    anti-join (the NOT IN form).  The supply relation arrives already
    (part, supplier)-distinct from the derivation groupBy, so the final
    countDistinct is the only wide aggregate."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (~F.col("p_type").startswith("SMALL"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 500
    )
    return (
        _supply(spark, sf_dir)
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(excluded),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


ORACLE_Q16 = f"""
WITH supply AS ({_SUPPLY_SQL})
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM supply
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#2'
  AND p_type NOT LIKE 'SMALL%'
  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND ps_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# Q20 shape — two-granularity nested aggregation + semi-join to suppliers
# ---------------------------------------------------------------------------


def q_q20_concentrated_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that shipped more than half of their all-time quantity
    of some ``red`` part during calendar 2000 (the availqty > ½·shipped
    comparison re-anchored on the year slice, availqty being
    unavailable).  Both granularities aggregate the same filtered fact
    slice — conditional sum inside one groupBy, not two scans — then a
    distinct-supplier semi-join back to the dimension."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("red%")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    qty = F.col("l_quantity").cast("decimal(18,4)")
    in_year = (F.col("l_shipdate") >= F.lit("2000-01-01")) & (
        F.col("l_shipdate") < F.lit("2001-01-01")
    )
    per_pair = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.when(in_year, qty).otherwise(F.lit(0).cast("decimal(18,4)"))).alias(
            "year_qty"
        ),
        F.sum(qty).alias("total_qty"),
    )
    concentrated = (
        per_pair.filter(
            F.col("year_qty") * F.lit(2).cast("decimal(4,0)")
            > F.col("total_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(
            concentrated,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


ORACLE_Q20 = """
WITH per_pair AS (
  SELECT l_suppkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
                   AND l_shipdate < TIMESTAMP '2001-01-01'
                  THEN CAST(l_quantity AS DECIMAL(18,4))
                  ELSE CAST(0 AS DECIMAL(18,4)) END) AS year_qty,
         sum(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
  GROUP BY l_suppkey, l_partkey
)
SELECT s_name, s_nationkey
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM per_pair
                    WHERE year_qty * CAST(2 AS DECIMAL(4,0)) > total_qty)
ORDER BY s_name
"""


REGISTRY = (
    (q_q2_min_cost_supplier, ORACLE_Q2),
    (q_q9_product_profit, ORACLE_Q9),
    (q_q11_important_stock, ORACLE_Q11),
    (q_q16_supplier_count, ORACLE_Q16),
    (q_q20_concentrated_suppliers, ORACLE_Q20),
)
