"""Declared query registry — the driver contract surface.

Each entry pairs a Spark implementation (built on the operator library) with
an ANSI-SQL oracle that DuckDB runs over the same parquet tables.  Names key
into SURVEY.md §2's operator inventory.

Cross-engine determinism rules used throughout (so order-insensitive value
hashes match bit-for-bit):

* money/metric sums go through ``DECIMAL`` so addition is exact in both
  engines (double summation order differs between engines), then cast back
  to double (exact for the magnitudes here);
* top-k queries always carry a unique tiebreak column in the ordering;
* vector dot products accumulate in index order with explicit double casts
  on both sides (identical IEEE op sequence → identical bits);
* every computed column is aliased identically in Spark and SQL.

Declaring a query: write ``q_<name>(spark, sf_dir)`` and its oracle SQL in
a ``queries*.py`` module, then add the pair ``(q_<name>, ORACLE_...)`` to
that module's ``REGISTRY`` tuple (its last statement).  The registry name
is the function's name without ``q_`` and is written nowhere else.  A new
module goes into ``_MODULES`` at the end of this file, the one tuple the
build loop reads; the loop rejects a duplicate name or a function not
named ``q_*``.

Store fixtures (persisted tables a query builds before serving from
them) follow one protocol, written once in ``queries_e2e.py``:

* the root is ``_fx(sf_dir, name)``, under a directory keyed by the
  package source hash, so any code edit rebuilds every fixture;
* ``_build_once(root, build)`` runs ``build`` unless the root carries
  its ``_BUILD_DONE`` marker, resetting the root first and writing the
  marker only after ``build`` returns;
* a streaming build runs its configured writer through ``_drain``
  (``availableNow``, one bound; a timed-out drain stops and raises);
* an exactly-once build replays batch 0 through ``_check_replay``,
  which removes the root and raises ``RuntimeError`` if any table
  version moved.

Single-write fixtures gated by Spark's own ``_SUCCESS`` marker
(``queries_e2e._complete``) need none of this.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import (
    queries_advanced,
    queries_analytics,
    queries_annstore,
    queries_corpus,
    queries_datalog,
    queries_dedup_text,
    queries_dedupstore,
    queries_e2e,
    queries_engine,
    queries_engine_sql,
    queries_geo,
    queries_governance,
    queries_graph_er,
    queries_lakehouse,
    queries_multimodal,
    queries_round4,
    queries_search,
    queries_sketches,
    queries_stats,
    queries_streaming,
    queries_textweb,
    queries_timeseries,
    queries_tpch_close,
    queries_tpch_ext,
)
from .catalog import load_table
from .functions import text as TXT
from .operators import dedup, eav, relational, similarity
from .queries_e2e import _ensure_ace_dump, _fx
from .queries_shared import (
    ORACLE_ACE_DATASOURCE,
    _MELT_ATTRS,
    _ORACLE_ANN_EXACT_HEAD,
    _ORACLE_MELT_BODY,
    _SHINGLE_JACCARD_CTES,
    _ann_recall_gate,
    _melted_lineitem,
)


# ---------------------------------------------------------------------------
# §2.4/§2.3/§2.9 — the flagship: QA count-reconciliation report (X6 = A1 ⋈ J1)
# ---------------------------------------------------------------------------


def q_x6_qa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §2.9 X6; reference runcommand.py:188-203): per-class
    counts from the live store vs expected counts from the catalog,
    full-outer broadcast join, diff, desc sort.  Stand-ins per FIXTURES.md:
    actual = customers per nation, expected = suppliers-per-nation ×15."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    actual = relational.per_class_counts(
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey),
        "n_name",
    )
    expected = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("class_name"))
        .agg((F.count(F.lit(1)) * 15).cast("long").alias("expected_count"))
    )
    return relational.qa_count_report(actual, expected)


ORACLE_X6 = """
WITH actual AS (
  SELECT n_name AS class_name, count(*) AS actual_count
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name
), expected AS (
  SELECT n_name AS class_name, count(*) * 15 AS expected_count
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT coalesce(a.class_name, e.class_name) AS class_name,
       CAST(coalesce(a.actual_count, 0) AS BIGINT) AS actual_count,
       CAST(coalesce(e.expected_count, 0) AS BIGINT) AS expected_count,
       CAST(coalesce(a.actual_count, 0) - coalesce(e.expected_count, 0) AS BIGINT) AS diff,
       coalesce(a.actual_count, 0) = coalesce(e.expected_count, 0) AS matches
FROM actual a FULL OUTER JOIN expected e ON a.class_name = e.class_name
"""


# ---------------------------------------------------------------------------
# §2.4 — aggregations
# ---------------------------------------------------------------------------


def q_a1_count_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (pseudoace.py:113-124): per-class counts — orders by status."""
    return relational.per_class_counts(
        load_table(spark, sf_dir, "orders"), "o_orderstatus"
    )


ORACLE_A1 = """
SELECT o_orderstatus AS class_name, count(*) AS actual_count
FROM orders GROUP BY o_orderstatus
"""


def q_a2_max_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (util.py:75-77): max column display width for table layout."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.agg(
        F.max(F.length("n_name")).alias("max_name_w"),
        F.max(F.length(F.col("n_nationkey").cast("string"))).alias("max_key_w"),
        F.count(F.lit(1)).alias("n_rows"),
    )


ORACLE_A2 = """
SELECT max(length(n_name)) AS max_name_w,
       max(length(CAST(n_nationkey AS VARCHAR))) AS max_key_w,
       count(*) AS n_rows
FROM nation
"""


def q_a3_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/U2 (util.py:84-85): dedup via distinct."""
    return relational.dedup_rows(
        load_table(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey")
    )


ORACLE_A3 = "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"


def q_agg_orders_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-ext: multi-metric grouped aggregate with exact decimal sums."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(dec).cast("double").alias("sum_price"),
            (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.min(F.col("o_totalprice")).alias("min_price"),
            F.max(F.col("o_totalprice")).alias("max_price"),
        )
    )


ORACLE_AGG_STATS = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders GROUP BY o_orderpriority
"""


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the bench headline scan+agg.  Exact decimal sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01")
    )
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# §2.3 — joins
# ---------------------------------------------------------------------------


def q_j1_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: broadcast dim joins — customer → nation → region."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


ORACLE_J1 = """
SELECT c_custkey, c_name, n_name AS nation, r_name AS region
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def q_q3_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-k."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1997-01-01"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1997-01-01"))
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate").agg(
        F.sum(revenue).cast("double").alias("revenue")
    )
    return relational.top_k(agg, [F.desc("revenue"), F.col("l_orderkey")], 10)


ORACLE_Q3 = """
SELECT l_orderkey, o_orderdate,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# §2.5 — sorts / limits / top-k
# ---------------------------------------------------------------------------


def q_t2_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (util.py:86): desc count sort + limit, deterministic tiebreak."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    counts = relational.per_class_counts(
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey),
        "n_name",
    )
    return relational.top_k(
        counts, [F.desc("actual_count"), F.col("class_name")], 10
    )


ORACLE_T2 = """
SELECT n_name AS class_name, count(*) AS actual_count
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY actual_count DESC, class_name
LIMIT 10
"""


def q_t3_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (github.py:78): first-element limit over a total order."""
    return relational.top_k(
        load_table(spark, sf_dir, "orders"), [F.col("o_orderkey")], 1
    )


ORACLE_T3 = "SELECT * FROM orders ORDER BY o_orderkey LIMIT 1"


# ---------------------------------------------------------------------------
# §2.6 — set operations
# ---------------------------------------------------------------------------


def _cust_nk(spark, sf_dir):
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )


def _supp_nk(spark, sf_dir):
    return load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )


def q_u1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 (runcommand.py:263-271): distinct union."""
    return relational.union_distinct(_cust_nk(spark, sf_dir), _supp_nk(spark, sf_dir))


ORACLE_U1 = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_u2_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-ext: EXCEPT via anti-join — the QA-diff shape (SURVEY §2.6):
    (user, hour) cells that saw clicks but no purchases."""
    ev = load_table(spark, sf_dir, "events")
    cell = lambda t: (  # noqa: E731
        ev.filter(F.col("event_type") == t)
        .select("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .distinct()
    )
    # null_safe matches SQL EXCEPT's NULLs-are-equal convention (the
    # plain equality anti-join would keep NULL-keyed rows forever)
    return relational.anti_diff(
        cell("click"), cell("purchase"), ["user_id", "hour"],
        null_safe=True,
    )


ORACLE_U2 = """
SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour
FROM events WHERE event_type = 'click'
EXCEPT
SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour
FROM events WHERE event_type = 'purchase'
"""


def q_u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-ext: INTERSECT."""
    return _cust_nk(spark, sf_dir).intersect(_supp_nk(spark, sf_dir))


ORACLE_U3 = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


# ---------------------------------------------------------------------------
# §2.2 — projections / filters / predicates
# ---------------------------------------------------------------------------


def q_p1_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 (runcommand.py:40-44): regex predicate selection."""
    part = load_table(spark, sf_dir, "part")
    return part.filter(F.col("p_name").rlike(r"^(red|blue) (bolt|gear)$")).select(
        "p_partkey", "p_name", "p_brand", "p_type"
    )


ORACLE_P1 = r"""
SELECT p_partkey, p_name, p_brand, p_type
FROM part WHERE regexp_matches(p_name, '^(red|blue) (bolt|gear)$')
"""


def q_p2_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 (util.py:81-86): positional projection + typed int casts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty_int"),
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
    )


ORACLE_P2 = """
SELECT l_returnflag, l_linestatus,
       CAST(floor(l_quantity) AS BIGINT) AS qty_int,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor
FROM lineitem
"""


# ---------------------------------------------------------------------------
# §2.8 — scalar function suites
# ---------------------------------------------------------------------------


def q_f_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F7: regex extract/replace, case, pad, concat, length."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
        F.regexp_extract("c_name", r"#(\d+)$", 1).alias("digits"),
        F.regexp_replace("c_name", r"^Customer", "Cust").alias("shortname"),
        F.reverse(F.col("c_mktsegment")).alias("rev_seg"),
        F.lower(F.trim(F.col("c_mktsegment"))).alias("lseg"),
    )


ORACLE_F_STRING = r"""
SELECT c_custkey,
       upper(c_name) AS uname,
       length(c_name) AS name_len,
       substring(c_name, 1, 8) AS prefix,
       concat_ws('|', c_name, c_mktsegment) AS joined,
       lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
       regexp_extract(c_name, '#(\d+)$', 1) AS digits,
       regexp_replace(c_name, '^Customer', 'Cust') AS shortname,
       reverse(c_mktsegment) AS rev_seg,
       lower(trim(c_mktsegment)) AS lseg
FROM customer
"""


def q_f_datetime_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8-F9: date parts, ISO formatting, epoch, date arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.date_format(d, "yyyy-MM-dd").alias("iso_date"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.date_add(d.cast("date"), 30).alias("plus30"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since"
        ),
        F.date_trunc("month", d).cast("date").alias("month_start"),
    )


ORACLE_F_DATETIME = """
SELECT o_orderkey,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       day(o_orderdate) AS dom,
       quarter(o_orderdate) AS qtr,
       strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       CAST(o_orderdate AS DATE) + 30 AS plus30,
       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
       date_trunc('month', o_orderdate) AS month_start
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.9 — EAV transforms
# ---------------------------------------------------------------------------









def q_x1_eav_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (pseudoace.py:69-76): wide records → datom stream (e,a,v,tx,op)."""
    return _melted_lineitem(spark, sf_dir)


ORACLE_X1 = _ORACLE_MELT_BODY


def q_x7_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 (SURVEY §2.9): EAV → wide pivot; melt then reassemble.

    Restricted to entities with a unique (orderkey, linenumber) key — the
    synthetic lineitem has collisions there, and pivoting a multi-valued
    card-one attribute is undefined.  The uniqueness check rides the pivot
    aggregate itself (pivot_wide_exact): e = orderkey*8+linenumber is
    injective, so a duplicated key shows up as 2×len(attrs) datoms per e
    and is dropped by the count guard — one shuffle total, no window.
    """
    melted = _melted_lineitem(spark, sf_dir)
    return eav.pivot_wide_exact(melted, _MELT_ATTRS)


ORACLE_X7 = """
WITH unique_li AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS __n
    FROM lineitem
  ) WHERE __n = 1
)
SELECT l_orderkey * 8 + l_linenumber AS e,
       CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS l_quantity,
       l_returnflag, l_linestatus,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS l_shipdate
FROM unique_li
"""


def q_p6_class_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/X5 (pseudoace.py:127-144): homology-style class-subset filter."""
    datoms = _melted_lineitem(spark, sf_dir).withColumn("class", F.col("a"))
    return eav.homology_split(datoms, ["l_returnflag", "l_linestatus"]).drop("class")


ORACLE_P6 = f"""
SELECT * FROM ({_ORACLE_MELT_BODY})
WHERE a IN ('l_returnflag', 'l_linestatus')
"""


def q_x4_apply_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 (pseudoace.py:105-110): late patches over base, last-write-wins
    per (e,a) by tx; patches (later transactions) beat base on tx ties."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        F.col("event_id").cast("string").alias("v"),
        F.col("ts").alias("tx"),
        F.lit(True).alias("op"),
        (F.col("event_id") % 2).alias("__par"),
    )
    base = ev.filter(F.col("__par") == 0).drop("__par")
    patches = ev.filter(F.col("__par") == 1).drop("__par")
    return eav.apply_patches(base, patches, tiebreak_col="v")


ORACLE_X4 = """
WITH datoms AS (
  SELECT user_id AS e, event_type AS a, CAST(event_id AS VARCHAR) AS v,
         ts AS tx, true AS op, event_id % 2 AS src
  FROM events
), ranked AS (
  SELECT e, a, v, tx, op,
         row_number() OVER (PARTITION BY e, a ORDER BY tx DESC, src DESC, v DESC) AS rn
  FROM datoms
)
SELECT e, a, v, tx, op FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# §2.7 — windows
# ---------------------------------------------------------------------------


def q_w1_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest event per user — Datomic tx-order conflict resolution."""
    ev = load_table(spark, sf_dir, "events")
    return relational.last_write_wins(
        ev.select("user_id", "event_id", "ts", "event_type", "value"),
        ["user_id"],
        [F.desc("ts"), F.desc("event_id")],
    )


ORACLE_W1 = """
SELECT user_id, event_id, ts, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def q_w2_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (runcommand.py:395): ranking window — top-3 orders per customer."""
    o = load_table(spark, sf_dir, "orders")
    ranked = relational.rank_within(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.col("o_orderkey")],
    )
    return ranked.filter(F.col("rank") <= 3)


ORACLE_W2 = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_w3_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-ext: running per-user value sum (exact via decimal accumulation)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias(
            "running_value"
        ),
    )


ORACLE_W3 = """
SELECT user_id, event_id, ts,
       CAST(sum(CAST(value AS DECIMAL(18,6)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_value
FROM events
"""


# ---------------------------------------------------------------------------
# §2.10 — streaming-shaped (batch-equivalent rollup; streaming tests in tests/)
# ---------------------------------------------------------------------------


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup over the event stream (batch plan; the
    streaming variant in streaming/ uses the same logical agg)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "sum_value"
            ),
        )
    )

ORACLE_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# §2.12 — text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents (north-star op)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = TXT.token_count(t)
    mean_wlen = F.length(F.regexp_replace(t, r"\s+", "")) / F.greatest(
        n_tok, F.lit(1)
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length(t).alias("len_chars"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        TXT.quality_score(t).alias("quality"),
    )


ORACLE_TEXT_STATS = r"""
WITH base AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
         length(text) AS len_chars,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_tokens, len_chars,
       round(CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1), 4) AS mean_word_len,
       (CAST(n_tokens >= 5 AND n_tokens <= 100000 AS DOUBLE)
        + CAST(CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1) >= 2.0
               AND CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1) <= 12.0 AS DOUBLE)
        + CAST(CAST(n_punct AS DOUBLE) / greatest(length(text), 1) <= 0.3 AS DOUBLE)
       ) / 3.0 AS quality
FROM base
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID heuristic (north-star op)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TXT.lang_id("text").alias("lang_guess"))


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TXT.STOPWORDS[lang])
    return (
        f"len(list_filter(toks, x -> list_contains([{words}], x))) AS s_{lang}"
    )


ORACLE_LANG_ID = rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), hits AS (
  SELECT doc_id,
         {_lang_hits_sql('en')},
         {_lang_hits_sql('es')},
         {_lang_hits_sql('de')},
         {_lang_hits_sql('fr')}
  FROM toks
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
            WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) THEN 'fr'
            WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
            WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
            ELSE 'de' END AS lang_guess
FROM hits
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via md5 of normalized text (north-star op).

    (The engine's fast path is xxhash64 — functions/text.py:fingerprint —
    md5 is used here because both engines expose it for oracle parity.)"""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fp"))


ORACLE_FINGERPRINT = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# §2.12 — deduplication
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep lowest doc_id per normalized-text hash."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        docs.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


ORACLE_DEDUP_EXACT = r"""
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.2)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.2).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


ORACLE_NGRAM_JACCARD = _SHINGLE_JACCARD_CTES.format(extra_ctes="") + r"""
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, emitted as a DETERMINISTIC
    acceptance row so the sketch is oracle-gateable: the signature
    internals (seeded xxhash64) are not SQL-expressible, but the
    sketch's CONTRACT is — every pair with exact word-3-gram Jaccard
    ≥ 0.8 must be recalled (measured 1.0 at sf0.001/sf0.01; banded
    collision at b=8,r=4 gives P≈0.985+ per such pair and the hashing
    is deterministic) and the signature estimate must sit within 0.15
    of exact Jaccard on the found pairs (measured ≤ 0.06).  The oracle
    recomputes the exact pair count in SQL and pins the booleans TRUE.
    Underlying production operator: operators/dedup.minhash_near_dups
    (banded equi-join, no CartesianProduct — plan-guarded in tests)."""
    docs = load_table(spark, sf_dir, "documents")
    mh = dedup.minhash_near_dups(
        docs, num_hashes=32, bands=8, threshold=0.4
    )
    return _minhash_acceptance(docs, mh)


def _minhash_acceptance(docs: DataFrame, mh: DataFrame) -> DataFrame:
    """The MinHash acceptance-row gate, factored out so the adversarial
    fixture tests can drive it with a crippled sketch and prove it goes
    RED (a silently dead sketch must not pass vacuously)."""
    exact_hi = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    joined = exact_hi.join(mh, ["id_a", "id_b"], "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact_hi"),
        # coalesce: an empty exact set makes the ratio NULL (0/0); the
        # contract is vacuously satisfied, matching the oracle's TRUE
        # try_divide: ANSI mode (Spark 4 default) makes 0/0 THROW, not
        # NULL — the vacuous-pass contract needs the NULL back
        F.coalesce(
            F.try_divide(F.count("est_jaccard"), F.count(F.lit(1))) >= 0.9,
            F.lit(True),
        ).alias("recall_ok"),
        F.coalesce(
            F.max(F.abs(F.col("est_jaccard") - F.col("jaccard"))) <= 0.15,
            F.lit(True),
        ).alias("est_err_ok"),
    )


# the exact-pair CTE extends the SAME shared shingle block at the
# high-similarity threshold the sketch contract is stated over
_ORACLE_EXACT_HI_PAIRS = _SHINGLE_JACCARD_CTES.format(
    extra_ctes=r""", hi AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
)"""
)

ORACLE_DEDUP_MINHASH = (
    _ORACLE_EXACT_HI_PAIRS
    + """
SELECT CAST(count(*) AS BIGINT) AS n_exact_hi,
       TRUE AS recall_ok, TRUE AS est_err_ok
FROM hi
"""
)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup detection as a deterministic acceptance row
    (same gating pattern as dedup_minhash): with 64-bit SimHash,
    hamming ≤ 3, 4 bands, the banding is pigeonhole-complete for the
    hamming radius, and the CONTRACT gated here is recall ≥ 0.5 of
    exact-Jaccard ≥ 0.8 pairs (measured 0.60/0.75 — SimHash is the
    weaker sketch on short texts by design) and precision ≥ 0.7
    against exact Jaccard ≥ 0.5 (measured 0.88/0.78).  Underlying
    operator: operators/dedup.simhash_near_dups."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.simhash_near_dups(docs, max_hamming=3, bands=4)
    return _simhash_acceptance(docs, sh)


def _simhash_acceptance(docs: DataFrame, sh: DataFrame) -> DataFrame:
    """The SimHash acceptance-row gate, factored out for the same
    adversarial-fixture reason as :func:`_minhash_acceptance`."""
    exact_hi = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.8)
    exact_mid = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)
    recall = (
        exact_hi.join(sh, ["id_a", "id_b"], "left_semi").agg(
            F.count(F.lit(1)).alias("n_found")
        )
    )
    n_hi = exact_hi.agg(F.count(F.lit(1)).alias("n_exact_hi"))
    prec = sh.join(exact_mid, ["id_a", "id_b"], "left").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count("jaccard").alias("n_precise"),
    )
    return (
        n_hi.crossJoin(recall)
        .crossJoin(prec)
        .select(
            "n_exact_hi",
            # coalesce: empty denominators (no exact pairs / no sketch
            # pairs) are vacuous passes, matching the oracle's TRUE
            F.coalesce(
                F.try_divide(F.col("n_found"), F.col("n_exact_hi")) >= 0.5,
                F.lit(True),
            ).alias("recall_ok"),
            F.coalesce(
                F.try_divide(F.col("n_precise"), F.col("n_pairs")) >= 0.7,
                F.lit(True),
            ).alias("precision_ok"),
        )
    )


ORACLE_DEDUP_SIMHASH = (
    _ORACLE_EXACT_HI_PAIRS
    + """
SELECT CAST(count(*) AS BIGINT) AS n_exact_hi,
       TRUE AS recall_ok, TRUE AS precision_ok
FROM hi
"""
)


# ---------------------------------------------------------------------------
# §2.12 — similarity search
# ---------------------------------------------------------------------------


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for query vectors vec_id < 8.

    Dot/norm accumulate in index order with explicit double casts on both
    sides → bit-identical IEEE results; score rounded to 6 as belt-and-braces.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank"
    )


ORACLE_ANN = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_sum(list_transform(range(1, len(qv) + 1),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
                  i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))) AS score
  FROM c CROSS JOIN q
  WHERE neighbor_id <> query_id
), ranked AS (
  SELECT query_id, neighbor_id, round(score, 6) AS score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
              AS INTEGER) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 10
"""






def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN, emitted as a deterministic acceptance row
    (the xxhash64-derived hyperplanes are not SQL-expressible; the
    recall CONTRACT is): mean recall@10 vs the in-query brute-force
    exact top-10 must be ≥ 0.4 (measured 0.56/0.61 at sf0.001/sf0.01
    on the unclustered embeddings table; 0.994 on the clustered
    fixture — tools/recall_report.py).  Underlying production
    operator: operators/similarity.lsh_topk (bucket equi-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    approx = similarity.lsh_topk(emb, queries, dim=64, k=10, num_planes=4)
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    return _ann_recall_gate(approx, exact, bound=0.4)


ORACLE_ANN_LSH = _ORACLE_ANN_EXACT_HEAD


# ---------------------------------------------------------------------------
# §2.12 — multimodal columns
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: payload bytes + typed metadata extraction.
    Text stands in for the opaque payload (see multimodal/ for the decode
    stubs); the plan shape — binary col + metadata struct — is the real thing.
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
        F.lit("text/plain").alias("mime"),
    )


ORACLE_MULTIMODAL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       'text/plain' AS mime
FROM documents
"""


# ---------------------------------------------------------------------------
# §2.1 — sources/sinks: CSV round-trip (S11 + S12)
# ---------------------------------------------------------------------------


def q_s11_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/S12 (pseudoace.py:147-153, QUOTE_ALL report CSV): write the
    nation dim as a quoted CSV, read it back with an explicit schema.

    Written under a stable per-sf path and read back LAZILY — no collect
    inside the declared query (the report is tiny, but a declared query
    should never materialize driver-side; VERDICT r1)."""
    nation = load_table(spark, sf_dir, "nation")
    path = _fx(sf_dir, "s11_csv")
    (
        nation.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
    return spark.read.schema(
        "n_nationkey INT, n_name STRING, n_regionkey INT"
    ).option("header", True).csv(path)


ORACLE_S11 = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


# ---------------------------------------------------------------------------
# §2.3-ext — as-of join (custom operator Spark lacks; union+carry-forward)
# ---------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior click.
    One shuffle + window (operators/relational.py:asof_join) — never a
    range theta-join."""
    ev = load_table(spark, sf_dir, "events")
    clicks = relational.last_write_wins(
        ev.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("last_click_ts"),
            F.col("event_id").alias("last_click_id"),
        ),
        ["user_id", "last_click_ts"],
        [F.desc("last_click_id")],
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    return relational.asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="last_click_ts",
        right_cols=["last_click_id", "last_click_ts"],
    )


ORACLE_ASOF = """
WITH c0 AS (
  SELECT user_id, ts AS last_click_ts, event_id AS last_click_id,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'click'
), c AS (
  SELECT user_id, last_click_ts, last_click_id FROM c0 WHERE rn = 1
), p AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id, p.ts, p.value, c.last_click_id, c.last_click_ts
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.ts >= c.last_click_ts
"""


# ---------------------------------------------------------------------------
# §2.4-ext — rollup / approx distinct
# ---------------------------------------------------------------------------


def q_a4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (SURVEY §2.4: exposed built-ins): order counts
    with subtotals per priority and a grand total."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


ORACLE_A4 = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_a5_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct, emitted as a deterministic acceptance
    row (the sketch registers are engine-specific; the error CONTRACT
    is not): exact distinct counts plus booleans pinning the HLL
    estimate within 10% relative error (measured ≤ 6.4% across
    sf0.001–0.1; Spark's default rsd is 5% and the hashing is
    deterministic, so the booleans are fixture-stable).  The oracle
    recomputes the exact counts and pins the booleans TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    return agg.select(
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("ap") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.10
        ).alias("parts_within_10pct"),
        (
            F.abs(F.col("ao") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= 0.10
        ).alias("orders_within_10pct"),
    )


ORACLE_A5 = """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS parts_within_10pct,
       TRUE AS orders_within_10pct
FROM lineitem
"""


# ---------------------------------------------------------------------------
# §2.9 X3 — schema-driven typed normalization
# ---------------------------------------------------------------------------

_X3_SCHEMA = {
    "l_quantity": "long",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "date",
}


def q_x3_typed_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (prepare-import): models-schema-driven casts over the datom
    stream — stringly v → typed columns, CASE-compiled, no shuffle."""
    datoms = _melted_lineitem(spark, sf_dir).select("e", "a", "v")
    return eav.typed_cast(datoms, _X3_SCHEMA)


ORACLE_X3 = f"""
SELECT e, a, v,
       CASE WHEN a = 'l_quantity' THEN CAST(v AS BIGINT) END AS v_long,
       CASE WHEN a = 'l_shipdate' THEN CAST(v AS DATE) END AS v_date
FROM ({_ORACLE_MELT_BODY})
"""


# ---------------------------------------------------------------------------
# §2.8-ext — misc scalar suite (F4, F10, F11, F13, F14) + JSON extraction
# ---------------------------------------------------------------------------


def q_f_misc_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 format, F10/F11 math, F13 base64/decode, F14 struct→JSON, and
    JSON field extraction from the events props column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.format_string("%s-%05d", F.col("event_type"), F.col("event_id")).alias(
            "tag"
        ),
        F.base64(F.encode(F.col("event_type"), "UTF-8")).alias("b64"),
        F.decode(F.unbase64(F.base64(F.encode("event_type", "UTF-8"))), "UTF-8").alias(
            "roundtrip"
        ),
        F.round(F.abs(F.col("value") - 250.0), 2).alias("abs_dev"),
        F.greatest("user_id", "event_id").alias("gr"),
        F.floor(F.col("value")).cast("long").alias("value_floor"),
        F.get_json_object("props", "$.k").alias("prop_k"),
        F.to_json(
            F.struct(F.col("event_type").alias("t"), F.col("user_id").alias("u"))
        ).alias("payload"),
    )


ORACLE_F_MISC = """
SELECT event_id,
       printf('%s-%05d', event_type, event_id) AS tag,
       base64(encode(event_type)) AS b64,
       decode(from_base64(base64(encode(event_type)))) AS roundtrip,
       round(abs(value - 250.0), 2) AS abs_dev,
       greatest(user_id, event_id) AS gr,
       CAST(floor(value) AS BIGINT) AS value_floor,
       json_extract_string(props, '$.k') AS prop_k,
       CAST(to_json(struct_pack(t := event_type, u := user_id)) AS VARCHAR) AS payload
FROM events
"""


# ---------------------------------------------------------------------------
# §2.3 J2 — versions lookup join (util.py:270-276, install.py:173-176)
# ---------------------------------------------------------------------------

_VERSIONS = [
    ("click", "1.0"),
    ("view", "1.1"),
    ("purchase", "2.0"),
    ("signup", "2.1"),
    ("error", "0.9"),
]


def q_j2_versions_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: tiny versions table broadcast-joined onto the fact stream —
    the versions.ini lookup as a dim join."""
    ev = load_table(spark, sf_dir, "events")
    versions = spark.createDataFrame(_VERSIONS, "event_type STRING, version STRING")
    return ev.join(F.broadcast(versions), "event_type").select(
        "event_id", "event_type", "version"
    )


ORACLE_J2 = """
SELECT event_id, e.event_type, version
FROM events e
JOIN (VALUES ('click','1.0'), ('view','1.1'), ('purchase','2.0'),
             ('signup','2.1'), ('error','0.9')) AS v(event_type, version)
  ON e.event_type = v.event_type
"""


def q_range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join: events matched to overlapping campaign
    windows (6-day windows every 5 days, derived from region — adjacent
    campaigns overlap so multi-match is exercised).  Runs the bucketed
    range join (relational.range_join): interval side explodes into day
    buckets, facts equi-join on their bucket, exact predicate refines —
    never the nested-loop plan a raw range predicate compiles to."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    base = F.to_date(F.lit("2024-01-01"))
    iv = load_table(spark, sf_dir, "region").select(
        F.format_string("CAMP_%d", F.col("r_regionkey")).alias("campaign"),
        F.to_timestamp(
            F.date_add(base, (F.col("r_regionkey") * 5).cast("int"))
        ).alias("c_start"),
        F.to_timestamp(
            F.date_add(base, (F.col("r_regionkey") * 5 + 6).cast("int"))
        ).alias("c_end"),
    )
    out = relational.range_join(ev, iv, "ts", "c_start", "c_end")
    return out.select("event_id", "campaign")


ORACLE_RANGE_JOIN = """
SELECT e.event_id, 'CAMP_' || r.r_regionkey AS campaign
FROM events e
JOIN region r
  ON e.ts >= TIMESTAMP '2024-01-01' + r.r_regionkey * 5 * INTERVAL 1 DAY
 AND e.ts <  TIMESTAMP '2024-01-01' + (r.r_regionkey * 5 + 6) * INTERVAL 1 DAY
"""


def q_f_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via Spark 4's VARIANT type: ``parse_json``
    once, then typed ``variant_get`` extraction — the shredded-JSON path a
    training-data metadata column takes (vs per-access get_json_object
    re-parsing, covered by f_misc_suite)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "long").alias("k_long"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.variant_get(v, "$.missing", "string").alias("absent"),
    )


ORACLE_VARIANT = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
       json_extract_string(props, '$.k') AS k_str,
       json_extract_string(props, '$.missing') AS absent
FROM events
"""


def q_j_salted_hot_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join under the oracle gate: events (user_id is the
    hot-key-prone fact side) ⋈ a small per-user dim built from customer.
    The salted plan must produce exactly the plain-join result — the
    oracle IS the plain join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            (F.col("c_custkey") % 500).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
        .groupBy("user_id")
        .agg(F.max("segment").alias("segment"))
    )
    return relational.salted_join(ev, dim, on="user_id", salt=8)


ORACLE_SALTED = """
WITH dim AS (
  SELECT c_custkey % 500 AS user_id, max(c_mktsegment) AS segment
  FROM customer GROUP BY 1
)
SELECT e.event_id, e.user_id, e.event_type, d.segment
FROM events e JOIN dim d ON e.user_id = d.user_id
"""


def q_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup — the per-(lang, source) summary a training-data
    release ships with: doc and token counts, exact-dup rate, mean quality
    score.  One composed plan: per-doc map stage (tokens, fingerprint,
    quality) → two-level aggregate; shuffles carry per-doc scalars only."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        "source",
        "doc_id",
        TXT.token_count("text").alias("n_tok"),
        TXT.fingerprint("text").alias("fp"),
        TXT.quality_score("text").alias("q"),
    )
    # dup rate = 1 - distinct fingerprints / docs, per (lang, source)
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.countDistinct("fp").alias("n_unique_fp"),
            F.round(
                F.sum(F.col("q").cast("decimal(18,6)"))
                / F.count(F.lit(1)),
                6,
            ).cast("double").alias("mean_quality"),
        )
        .withColumn(
            "dup_rate",
            F.round(
                F.lit(1.0) - F.col("n_unique_fp") / F.col("n_docs"), 6
            ),
        )
    )


ORACLE_DATACARD = r"""
WITH base AS (
  SELECT lang, source, doc_id, text,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '')) AS n_tok,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))
           AS n_punct
  FROM documents
), per_doc AS (
  SELECT lang, source, doc_id, n_tok,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
         (CAST(n_tok >= 5 AND n_tok <= 100000 AS DOUBLE)
          + CAST(CAST(n_nonspace AS DOUBLE) / greatest(n_tok, 1) >= 2.0
                 AND CAST(n_nonspace AS DOUBLE) / greatest(n_tok, 1) <= 12.0
                 AS DOUBLE)
          + CAST(CAST(n_punct AS DOUBLE) / greatest(length(text), 1) <= 0.3
                 AS DOUBLE)
         ) / 3.0 AS q
  FROM base
)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       count(DISTINCT fp) AS n_unique_fp,
       CAST(round(sum(CAST(q AS DECIMAL(18,6))) / count(*), 6) AS DOUBLE)
         AS mean_quality,
       round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6)
         AS dup_rate
FROM per_doc
GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# §2.4-ext — exact percentiles; deterministic sampling; composed pipeline
# ---------------------------------------------------------------------------


def q_a6_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles of document length per language —
    the distribution stats a data-budgeting pass needs."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


ORACLE_PERCENTILES = """
SELECT lang, count(*) AS n_docs,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample by key residue — reproducible across runs,
    partitionings, and engines (training-data splits must never depend on
    an RNG seed tied to cluster layout)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 20 == 3).select(
        "event_id", "user_id", "event_type"
    )


ORACLE_SAMPLE = """
SELECT event_id, user_id, event_type
FROM events WHERE event_id % 20 = 3
"""


def q_data_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data pass: quality-gate + exact-dedup survivorship
    in one plan (filter → fingerprint group → keep lowest id)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_tok = TXT.token_count(t)
    quality = TXT.quality_score(t)
    norm = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    gated = docs.select(
        "doc_id", n_tok.alias("n_tokens"), F.md5(norm).alias("fp")
    ).filter((quality >= 0.99) & (n_tok >= 20))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "n_tokens")
    )


ORACLE_PIPELINE_FILTER = r"""
WITH base AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
         length(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), gated AS (
  SELECT doc_id, n_tokens, fp
  FROM base
  WHERE n_tokens >= 20
    AND (CAST(n_tokens >= 5 AND n_tokens <= 100000 AS DOUBLE)
         + CAST(CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1) >= 2.0
                AND CAST(n_nonspace AS DOUBLE) / greatest(n_tokens, 1) <= 12.0 AS DOUBLE)
         + CAST(CAST(n_punct AS DOUBLE) / greatest(length(text), 1) <= 0.3 AS DOUBLE)
        ) / 3.0 >= 0.99
)
SELECT doc_id, n_tokens FROM (
  SELECT doc_id, n_tokens,
         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM gated
) WHERE rn = 1
"""


def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the CountVectorizer-style weighting
    as pure DataFrame ops: explode tokens → tf per (doc, term) → df per
    term → idf = ln(N/df) → top-3 by tfidf (term tiebreak).  Rounded to 6
    (libm ln may differ in the last ulp across engines).

    Scale notes: N rides the plan as a 1-row broadcast (no eager
    ``docs.count()`` extra job), and the tf⋈df join is left to AQE — at
    web-corpus vocabulary size the term side does NOT fit a broadcast, so
    forcing one would OOM the driver; AQE still broadcasts it when it
    actually fits."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    terms = docs.select(
        "doc_id", F.explode(TXT.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.join(df_, "term").join(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


ORACLE_TFIDF = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df_ AS (
  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks)
  GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term, tf,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN df_ ON tf.term = df_.term CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
                 AS INTEGER) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-profiling sweep over orders (row/null/distinct/min/max per
    column, one fused aggregation pass)."""
    orders = load_table(spark, sf_dir, "orders")
    return relational.profile_table(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


ORACLE_PROFILE = """
SELECT 'o_orderkey' AS column, count(*) AS n_rows,
       CAST(sum(CAST(o_orderkey IS NULL AS INT)) AS BIGINT) AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_value,
       CAST(max(o_orderkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_custkey', count(*),
       CAST(sum(CAST(o_custkey IS NULL AS INT)) AS BIGINT),
       count(DISTINCT o_custkey),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*),
       CAST(sum(CAST(o_orderstatus IS NULL AS INT)) AS BIGINT),
       count(DISTINCT o_orderstatus),
       min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*),
       CAST(sum(CAST(o_orderpriority IS NULL AS INT)) AS BIGINT),
       count(DISTINCT o_orderpriority),
       min(o_orderpriority), max(o_orderpriority)
FROM orders
"""


# ---------------------------------------------------------------------------
# §2.3/2.4-ext breadth: multi-way join, selective scan, cube, lag windows,
# semi/anti joins.  The reference's only joins are tiny reconciles
# (pseudoace.py:113-124); these declare the full Spark join/agg surface the
# engine exposes, each with an exact DuckDB oracle.
# ---------------------------------------------------------------------------


def q_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join — fact tables shuffle-join on their
    keys, every dim (supplier/nation/region) broadcasts, so the plan has
    exactly two shuffles (orders⋈customer, lineitem⋈orders) regardless of
    fact size."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("n_name"))
    )


ORACLE_Q5 = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_q6_selective_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective scan → single global agg.  All
    three predicates push to the parquet reader (row-group pruning at
    scale); map-side partial sum means the single-row exchange is bytes."""
    li = load_table(spark, sf_dir, "lineitem")
    forgone = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(forgone).cast("double").alias("forgone_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_Q6 = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
         AS forgone_revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_a7_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping-set levels in
    one pass (SURVEY §2.4 exposed built-ins beyond the reference's flat
    groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(qty).cast("double").alias("sum_qty"),
    )


ORACLE_A7 = """
SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_w4_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-over-event delta: lag/lead frames over the stream
    table (ordering key event_id is unique → deterministic across
    engines; IEEE double subtraction is bit-identical)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
    )


ORACLE_W4 = """
SELECT event_id, user_id, value,
       lag(value) OVER w AS prev_value,
       value - lag(value) OVER w AS delta,
       lead(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


def q_j4_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (the QA diff's anti-join semantics,
    SURVEY §2.6, as first-class operators): customers partitioned into
    has-order / no-order, one flag column, single shuffle per branch."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ok = load_table(spark, sf_dir, "orders").select("o_custkey")
    with_orders = customer.join(
        ok, customer.c_custkey == ok.o_custkey, "left_semi"
    ).withColumn("has_order", F.lit(True))
    without = customer.join(
        ok, customer.c_custkey == ok.o_custkey, "left_anti"
    ).withColumn("has_order", F.lit(False))
    return with_orders.unionByName(without)


ORACLE_J4 = """
SELECT c_custkey, c_name, TRUE AS has_order
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT c_custkey, c_name, FALSE AS has_order
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with session_window (30-min gap) — the same
    operator the streaming profile builder uses (SURVEY §2.10), here as a
    batch agg with an exact gaps-and-islands oracle.  One shuffle on
    user_id; merge happens inside the aggregation, not a window-function
    sort."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


# Spark sessions are half-open [first, last+gap): an event exactly `gap`
# after the previous one starts a NEW session → island break on diff >= gap
ORACLE_SESSIONIZE = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), g AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM g GROUP BY user_id, sid
"""


def q_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional aggregation — the
    two-branch CASE counts fold into one pass (no per-branch scans), and
    the cross-table predicate (shipped after ordered) filters post-join."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_linestatus
"""


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, blocked: candidate pairs only form
    inside a (lang, length-bucket) block — the standard O(n²)→blocked
    reduction — and the distance runs on a 120-char normalized prefix so
    per-pair cost is bounded.  JVM levenshtein expression; no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    base = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        F.floor(F.col("n_chars") / 20).alias("len_bucket"),
        F.substring(norm, 1, 120).alias("pfx"),
    )
    a = base.select(
        F.col("lang"), F.col("len_bucket"),
        F.col("doc_id").alias("id_a"), F.col("pfx").alias("pfx_a"),
    )
    b = base.select(
        F.col("lang"), F.col("len_bucket"),
        F.col("doc_id").alias("id_b"), F.col("pfx").alias("pfx_b"),
    )
    return (
        a.join(b, ["lang", "len_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("pfx_a", "pfx_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 10)
    )


ORACLE_LEVENSHTEIN = """
WITH base AS (
  SELECT doc_id, lang, CAST(floor(n_chars / 20.0) AS BIGINT) AS len_bucket,
         substr(lower(trim(text)), 1, 120) AS pfx
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.pfx, b.pfx) AS INTEGER) AS edit_dist
FROM base a JOIN base b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= 10
"""


def q_f_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over token arrays (F12's restructuring
    toolbox as first-class expressions): size, distinct size, slice+join,
    negative indexing, sorted-head — all JVM-side, no explode."""
    docs = load_table(spark, sf_dir, "documents")
    toks = TXT.tokens(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first3"),
        F.element_at(toks, -1).alias("last_tok"),
        F.element_at(F.array_sort(toks), 1).alias("min_tok"),
        F.array_contains(toks, "the").alias("has_the"),
    )


ORACLE_F_ARRAY = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_unique,
       array_to_string(toks[1:3], ' ') AS first3,
       toks[-1] AS last_tok,
       list_sort(toks)[1] AS min_tok,
       list_contains(toks, 'the') AS has_the
FROM t
"""


def q_emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + dimensionality over the embedding column —
    the sanity scan a similarity pipeline runs before indexing (catches
    zero/denormalized vectors).  F.aggregate accumulates index-order in
    doubles; rounded to 6 for cross-engine ulp safety."""
    from .functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(V.norm("embedding"), 6).alias("l2_norm"),
    )


ORACLE_EMB_NORMS = """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6)
         AS l2_norm
FROM embeddings
"""


# ---------------------------------------------------------------------------
# §2.12 — int8 embedding quantization (storage/serving path)
# ---------------------------------------------------------------------------


def q_emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization over ``embeddings``
    (functions/vectors.py quantize_int8): per-vector scale, int8 codes,
    and max reconstruction error — one scan, pure expressions.  The
    round-half-up is spelled ``floor(x+0.5)`` in both engines so codes
    are bit-identical (see the function docstring)."""
    from .functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("q", V.quantize_int8(F.col("embedding")))
        .select(
            "vec_id",
            F.col("q.scale").alias("scale"),
            F.col("q.qvec").alias("qvec"),
            F.when(
                F.col("q.scale") > 0,
                V.dequant_err(
                    F.col("q.qvec"), F.col("q.scale"), F.col("embedding")
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("max_abs_err"),
        )
    )


ORACLE_EMB_QUANTIZE = """
WITH b AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM b
)
SELECT vec_id, scale,
       CASE WHEN scale > 0
            THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS TINYINT))
            ELSE list_transform(v, x -> CAST(0 AS TINYINT)) END AS qvec,
       CASE WHEN scale > 0
            THEN list_max(list_transform(range(1, len(v) + 1),
                   i -> abs(CAST(floor(v[i] / scale + 0.5) AS INT) * scale - v[i])))
            ELSE 0.0 END AS max_abs_err
FROM s
"""


def q_emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→8 over ``embeddings``
    (operators/similarity.py random_projection): seeded md5-derived
    weight matrix (driver-side literals, constant-folded), index-order
    folds — bit-identical to the oracle recomputing the matrix in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_projection(
        emb, "embedding", seed="jl", dim=64, k=8
    ).select("vec_id", "proj")


ORACLE_EMB_RANDOM_PROJECTION = """
SELECT vec_id,
       list_transform(range(0, 8), r ->
         list_sum(list_transform(range(1, 65), j ->
           CAST(embedding[j] AS DOUBLE)
           * (CAST(('0x' || substr(md5('jl:' || r || ':' || j), 1, 8)) AS BIGINT)
              / 2147483648.0 - 1.0)))) AS proj
FROM embeddings
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key over lineitem
    (operators/relational.py zorder_key): interleaves ship-day and part
    buckets so range-partitioned, sorted-within-partition writes give
    parquet row groups that prune on EITHER dimension.  The declared
    query computes the key (pure integer expressions, exact oracle); the
    layout write itself is `repartitionByRange("zval").sortWithinPartitions("zval")`
    at the sink (see DEPLOY.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = F.datediff(F.col("l_shipdate"), F.lit("1995-01-01").cast("date")).cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        relational.zorder_key(a, F.col("l_partkey"), bits=16).alias("zval"),
    )


ORACLE_ZORDER = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(date_diff('day', TIMESTAMP '1995-01-01', l_shipdate) AS BIGINT) & 65535 AS za,
         l_partkey & 65535 AS zb
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CAST((((za >> 0) & 1) << 0) + (((zb >> 0) & 1) << 1) + (((za >> 1) & 1) << 2) + (((zb >> 1) & 1) << 3) + (((za >> 2) & 1) << 4) + (((zb >> 2) & 1) << 5) + (((za >> 3) & 1) << 6) + (((zb >> 3) & 1) << 7) + (((za >> 4) & 1) << 8) + (((zb >> 4) & 1) << 9) + (((za >> 5) & 1) << 10) + (((zb >> 5) & 1) << 11) + (((za >> 6) & 1) << 12) + (((zb >> 6) & 1) << 13) + (((za >> 7) & 1) << 14) + (((zb >> 7) & 1) << 15) + (((za >> 8) & 1) << 16) + (((zb >> 8) & 1) << 17) + (((za >> 9) & 1) << 18) + (((zb >> 9) & 1) << 19) + (((za >> 10) & 1) << 20) + (((zb >> 10) & 1) << 21) + (((za >> 11) & 1) << 22) + (((zb >> 11) & 1) << 23) + (((za >> 12) & 1) << 24) + (((zb >> 12) & 1) << 25) + (((za >> 13) & 1) << 26) + (((zb >> 13) & 1) << 27) + (((za >> 14) & 1) << 28) + (((zb >> 14) & 1) << 29) + (((za >> 15) & 1) << 30) + (((zb >> 15) & 1) << 31) AS BIGINT) AS zval
FROM base
"""


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus interchange (sources/jsonl.py): write ``documents``
    as gzipped JSONL shards, read back with an explicit schema, and
    profile the round-tripped corpus per (lang, source) — doc count,
    char sum, and distinct text fingerprints, so any encoding loss in
    the writer/reader (unicode escapes, line splitting) breaks the
    oracle match against the original parquet."""
    from .sources import jsonl as J

    docs = load_table(spark, sf_dir, "documents")
    path = _fx(sf_dir, "jsonl_docs")
    J.write_jsonl(docs, path, shards=8)
    back, _bad = J.quarantine_split(spark, path, J.DOCUMENTS_SCHEMA)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct(F.md5(F.col("text"))).cast("long").alias("n_fingerprints"),
    )


ORACLE_JSONL = """
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_fingerprints
FROM documents
GROUP BY lang, source
"""


def q_ace_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 through Spark's source-plugin seam: the gzipped ``.ace`` dump
    dir is read as ``spark.read.format("ace")`` — a Python DataSource
    (sources/ace_datasource.py) with file-granular partition planning —
    and profiled per (class, first tag).  Same grammar, same parser as
    the block-source path; the oracle recomputes the profile from the
    generating tables, so a partition-planning bug (file skipped, file
    read twice) or a parse divergence between the two entry points
    fails the gate."""
    from .sources import ace_datasource

    ace_datasource.register(spark)
    dump = _ensure_ace_dump(spark, sf_dir)
    recs = spark.read.format("ace").load(dump)
    return (
        recs.select(
            "class",
            F.element_at("tag_path", 1).alias("tag"),
            "obj_id",
            "value",
            "ts",
            "comment",
        )
        .groupBy("class", "tag")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("obj_id").alias("n_objs"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.sum(F.col("ts").isNotNull().cast("long")).alias("n_ts"),
            F.sum(F.col("comment").isNotNull().cast("long")).alias(
                "n_comments"
            ),
        )
    )


def q_ace_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format symmetry for S4: records parsed from the dump are written
    BACK through ``spark.write.format("ace")`` (the Python DataSource
    writer — per-partition gzip dump files, ``-O``/``-C`` annotations
    re-emitted, quote escaping) and re-read through the same format; the
    profile of the re-read records must match the oracle computed from
    the generating tables.  Write → parse is the inverse pair the
    migration engine owes its users: Datomic-side edits can be exported
    back to ``.ace`` interchange files."""
    import os

    from .sources import ace_datasource

    ace_datasource.register(spark)
    dump = _ensure_ace_dump(spark, sf_dir)
    out = _fx(sf_dir, "ace_roundtrip_sink")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        recs = spark.read.format("ace").load(dump)
        recs.repartition(8, "obj_id").write.format("ace").mode(
            "overwrite"
        ).save(out)
    back = spark.read.format("ace").load(out)
    return (
        back.select(
            "class",
            F.element_at("tag_path", 1).alias("tag"),
            "obj_id",
            "value",
            "ts",
            "comment",
        )
        .groupBy("class", "tag")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.countDistinct("obj_id").alias("n_objs"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
            F.sum(F.col("ts").isNotNull().cast("long")).alias("n_ts"),
            F.sum(F.col("comment").isNotNull().cast("long")).alias(
                "n_comments"
            ),
        )
    )


REGISTRY = (
    (q_x6_qa_report, ORACLE_X6),
    (q_a1_count_by_class, ORACLE_A1),
    (q_a2_max_widths, ORACLE_A2),
    (q_a3_distinct, ORACLE_A3),
    (q_agg_orders_stats, ORACLE_AGG_STATS),
    (q_q1_pricing_summary, ORACLE_Q1),
    (q_j1_customer_geo, ORACLE_J1),
    (q_q3_top_revenue, ORACLE_Q3),
    (q_t2_top_nations, ORACLE_T2),
    (q_t3_first_order, ORACLE_T3),
    (q_u1_union, ORACLE_U1),
    (q_u2_except, ORACLE_U2),
    (q_u3_intersect, ORACLE_U3),
    (q_p1_regex_filter, ORACLE_P1),
    (q_p2_project_cast, ORACLE_P2),
    (q_f_string_suite, ORACLE_F_STRING),
    (q_f_datetime_suite, ORACLE_F_DATETIME),
    (q_x1_eav_melt, ORACLE_X1),
    (q_x7_pivot_roundtrip, ORACLE_X7),
    (q_p6_class_subset, ORACLE_P6),
    (q_x4_apply_patches, ORACLE_X4),
    (q_w1_last_write_wins, ORACLE_W1),
    (q_w2_rank, ORACLE_W2),
    (q_w3_running_sum, ORACLE_W3),
    (q_events_hourly_rollup, ORACLE_HOURLY),
    (q_text_stats, ORACLE_TEXT_STATS),
    (q_text_lang_id, ORACLE_LANG_ID),
    (q_text_fingerprint, ORACLE_FINGERPRINT),
    (q_dedup_exact, ORACLE_DEDUP_EXACT),
    (q_dedup_ngram_jaccard, ORACLE_NGRAM_JACCARD),
    # sketch queries gate on deterministic acceptance rows: the
    # oracle recomputes the exact side and pins the bound booleans
    (q_dedup_minhash, ORACLE_DEDUP_MINHASH),
    (q_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    (q_ann_cosine_topk, ORACLE_ANN),
    (q_ann_lsh_topk, ORACLE_ANN_LSH),
    (q_multimodal_meta, ORACLE_MULTIMODAL),
    (q_s11_csv_roundtrip, ORACLE_S11),
    (q_asof_join, ORACLE_ASOF),
    (q_a4_rollup, ORACLE_A4),
    (q_a5_approx_distinct, ORACLE_A5),
    (q_x3_typed_cast, ORACLE_X3),
    (q_f_misc_suite, ORACLE_F_MISC),
    (q_j2_versions_lookup, ORACLE_J2),
    (q_range_join_campaigns, ORACLE_RANGE_JOIN),
    (q_f_variant_json, ORACLE_VARIANT),
    (q_j_salted_hot_key, ORACLE_SALTED),
    (q_corpus_datacard, ORACLE_DATACARD),
    (q_a6_percentiles, ORACLE_PERCENTILES),
    (q_sample_deterministic, ORACLE_SAMPLE),
    (q_data_pipeline_filter, ORACLE_PIPELINE_FILTER),
    (q_text_tfidf_topterms, ORACLE_TFIDF),
    (q_profile_orders, ORACLE_PROFILE),
    (q_q5_region_revenue, ORACLE_Q5),
    (q_q6_selective_sum, ORACLE_Q6),
    (q_a7_cube, ORACLE_A7),
    (q_w4_lag_delta, ORACLE_W4),
    (q_j4_semi_anti, ORACLE_J4),
    (q_events_sessionize, ORACLE_SESSIONIZE),
    (q_q12_priority_lines, ORACLE_Q12),
    (q_dedup_levenshtein, ORACLE_LEVENSHTEIN),
    (q_f_array_suite, ORACLE_F_ARRAY),
    (q_emb_norm_stats, ORACLE_EMB_NORMS),
    (q_emb_quantize, ORACLE_EMB_QUANTIZE),
    (q_emb_random_projection, ORACLE_EMB_RANDOM_PROJECTION),
    (q_zorder_layout, ORACLE_ZORDER),
    (q_jsonl_roundtrip, ORACLE_JSONL),
    (q_ace_datasource_scan, ORACLE_ACE_DATASOURCE),
    (q_ace_datasource_roundtrip, ORACLE_ACE_DATASOURCE),
)


# Every query module, in registration order.  __spark_entry__.queries()
# moves the flagship block (FLAGSHIP_ORDER) to the front; the rest of the
# registry is order-insensitive.
_MODULES = (
    sys.modules[__name__],
    # real-boundary end-to-end queries (.ace dump / models / id catalog / EDN)
    queries_e2e,
    # corpus-preparation pipeline queries (LM scoring, scrubbing, packing,
    # splits, URL dedup)
    queries_corpus,
    # hard relational patterns (EXISTS/NOT EXISTS, correlated scalar
    # subqueries, HAVING join-back, argmax, disjunctive ranges)
    queries_tpch_ext,
    # the five remaining TPC-H shapes (Q2/Q9/Q11/Q16/Q20) over a
    # lineitem-derived supply relation (no partsupp in TESTDATA.md)
    queries_tpch_close,
    # scale showcases (DPP, runtime bloom), exact distributed stats, CMS
    # heavy hitters, deterministic sampling, cohort/gap-fill time series,
    # Gopher gates, containment dedup, BPE encode, UNPIVOT
    queries_analytics,
    # recursive CTE front door, market-basket rules, RFM, A/B exact stats,
    # OHLC bars, k-core peeling, ordered-aggregate suite
    queries_advanced,
    # classical statistics in exact arithmetic (Spearman, OLS, Mann-Whitney),
    # per-node clustering coefficient, Jaccard link prediction, dyadic EWMA,
    # rolling hourly correlation
    queries_stats,
    # exact-arithmetic time-series tier (EWMA, Holt, Theil-Sen, rolling
    # correlation, changepoints, drawdown, interval concurrency,
    # autocorrelation) — split out of queries_stats
    queries_timeseries,
    # GROUP BY ALL front door, binaryFile multimodal ingestion source,
    # WIMBD-style bigram census, gazetteer entity tagging
    queries_engine,
    # portable mergeable HLL register rollups (md5-deterministic, register
    # digests hash-gated exactly cross-engine; union/intersection algebra)
    queries_sketches,
    # structured-streaming executions under the exact oracle gate
    queries_streaming,
    # lakehouse layer: zone-map skipping, exactly-once streaming sink,
    # OPTIMIZE ZORDER — the txlog table format's scale features
    queries_lakehouse,
    # geospatial grid analytics (exact-integer geometry)
    queries_geo,
    # ranked retrieval / hybrid search (BM25, postings, RRF, Dirichlet LM)
    queries_search,
    # web-text extraction + Python UDTF surface
    queries_textweb,
    # round-4 engine surface: merge_asof variants, HOF arrays, SQL PIVOT
    queries_round4,
    # data governance: k-anonymity suppression audit, l-diversity histogram
    queries_governance,
    # persisted LSH band index: incremental near-dup dedup at serving shape
    queries_dedupstore,
    # persisted graph-ANN store + incrementally-maintained adjacency MV
    queries_annstore,
    # family modules split out of this file
    queries_multimodal,
    queries_datalog,
    queries_graph_er,
    queries_engine_sql,
    queries_dedup_text,
)


def _build_registry(
    modules,
) -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    """``QUERIES`` and ``ORACLES`` from the modules' ``REGISTRY`` pairs, in
    module order then pair order.  The name is the function's ``__name__``
    without ``q_``.  A function not named ``q_*`` or a name declared twice
    raises ``ValueError`` — an overwrite would silently drop one query
    from the oracle gate."""
    queries, oracles = {}, {}
    for mod in modules:
        for fn, oracle in mod.REGISTRY:
            if not fn.__name__.startswith("q_"):
                raise ValueError(
                    f"{mod.__name__}: query function {fn.__name__!r} is not named q_*"
                )
            name = fn.__name__[2:]
            if name in queries:
                raise ValueError(f"{mod.__name__}: query {name!r} declared twice")
            queries[name] = fn
            oracles[name] = oracle
    return queries, oracles


QUERIES, ORACLES = _build_registry(_MODULES)
