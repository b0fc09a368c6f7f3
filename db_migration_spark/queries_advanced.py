"""Advanced relational + mining surface (round 3, session 7).

Six families, all exact under the DuckDB oracle gate:

* **Recursive SQL** — ``sql_recursive_cte``: Spark 4.1's ``WITH
  RECURSIVE`` run through the SQL front door on a data-derived
  hierarchy (custkey → custkey/10 parent chain), the IDENTICAL string
  executed on DuckDB.  Hierarchy walks (org charts, bill-of-materials,
  the reference's object-model containment per SURVEY §1.2) stop
  needing the driver-side loop the Datalog engine uses — Catalyst's
  recursion operator does log-bounded rounds of the same equi-join the
  manual unrolling would.
* **Market-basket mining** — ``assoc_rules``: frequent item-pair rules
  over order baskets with support/confidence/lift.  The classic
  shape: frequent-item pruning FIRST (support filter on single items
  cuts the pair space before any join), then a within-basket self-join
  on the pruned items, all counts exact integers and ratios emitted as
  integer numer/denom pairs so no float division wobbles the oracle.
* **RFM segmentation** — ``rfm_segments``: recency/frequency/monetary
  quartiles via ``ntile`` with a unique total order (metric, custkey)
  so tile boundaries are deterministic in both engines.
* **A/B statistics** — ``stats_ab_test``: deterministic hash-bucket
  assignment, per-arm exact counts and the two-proportion z-statistic's
  exact integer numerator (x1·n2 − x2·n1) — the float z-score is one
  driver-side division away, but the *data plane* stays bit-exact.
* **Time-series bars** — ``ts_ohlc_bars``: hourly OHLC per event type;
  open/close resolved by one window pass with a unique (ts, event_id)
  order — no min_by tie gambling.
* **Graph k-core** — ``graph_kcore``: iterative degree-peeling to the
  3-core of the co-purchase graph; the fixpoint is verified converged
  in-engine, and the oracle replays the SAME bounded number of peel
  rounds as nested CTEs (the PageRank unrolled-recurrence precedent,
  queries.py graph_pagerank).

Scale notes per query in the docstrings; determinism rules from
queries.py apply (decimal sums, integer ratios, unique window orders).
Reference anchors: SURVEY §2.9 X7 (hierarchy walks over the imported
object model), §2.12 (mining/analytics extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .queries_e2e import _fx

# ---------------------------------------------------------------------------
# recursive CTE through the SQL front door
# ---------------------------------------------------------------------------

# One string, two engines.  floor(k/10) spelling (not DIV/`//`) parses
# identically in Spark and DuckDB; the chain custkey → custkey/10 → … is a
# forest whose roots are the keys whose parent key is not itself a custkey,
# so every node has exactly one (root, depth) — fully deterministic.
SQL_RECURSIVE_CTE = """
WITH RECURSIVE
nodes AS (SELECT DISTINCT c_custkey AS k FROM customer),
walk AS (
  -- roots: self-parent keys, plus keys whose parent is absent.  Spelled
  -- as two branches with NOT EXISTS (not NOT IN) so the anti-join stays
  -- a HASH anti join in both engines; a null-aware NOT IN would compile
  -- to a nested-loop comparison of every key against every key.
  SELECT n.k AS k, n.k AS root, 0 AS depth
  FROM nodes n
  WHERE CAST(floor(n.k / 10) AS BIGINT) = n.k
  UNION ALL
  SELECT n.k AS k, n.k AS root, 0 AS depth
  FROM nodes n
  WHERE CAST(floor(n.k / 10) AS BIGINT) <> n.k
    AND NOT EXISTS (
      SELECT 1 FROM nodes p WHERE p.k = CAST(floor(n.k / 10) AS BIGINT)
    )
  UNION ALL
  SELECT c.k, w.root, w.depth + 1
  FROM walk w
  JOIN nodes c ON CAST(floor(c.k / 10) AS BIGINT) = w.k
                AND c.k <> w.k
)
SELECT depth, count(*) AS n_nodes,
       count(DISTINCT root) AS n_roots,
       CAST(sum(k) AS BIGINT) AS sum_keys, min(k) AS min_key, max(k) AS max_key
FROM walk
GROUP BY depth
"""


def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy walk with Spark 4.1 ``WITH RECURSIVE`` (SQL front door).

    Each recursion round is one equi-join of the frontier against the
    node set — exactly the doubling-free variant of datalog.py's
    ancestor walk, but compiled by Catalyst's recursion operator
    instead of a driver loop.  Rounds = tree depth (≤ log₁₀ max key):
    at 100 TB the per-round shuffle is the only cost and the frontier
    shrinks geometrically.  The oracle is the IDENTICAL SQL string on
    DuckDB (same semantics, same UNION ALL recursion)."""
    # the engine's recursion safety valve defaults to 1M rows; the walk
    # emits one row per key, so size it to the INPUT with headroom
    # (found at the x100 run: 1.5M keys tripped the 1M default).  The
    # row count comes from the parquet FOOTER (driver-side metadata, no
    # Spark job — query construction stays job-free), and the conf is
    # set on a CLONED session (same SparkContext, isolated SQLConf)
    # whose DataFrame carries it through lazy execution — the parent
    # session's valve is never mutated.
    import glob as _glob

    import pyarrow.parquet as _pq

    path = f"{sf_dir}/customer.parquet"
    pieces = [path] if path.endswith(".parquet") and not _glob.os.path.isdir(path) else _glob.glob(f"{path}/*.parquet")
    n_keys = sum(_pq.ParquetFile(p).metadata.num_rows for p in pieces)
    scoped = spark.newSession()
    scoped.conf.set(
        "spark.sql.cteRecursionRowLimit", str(max(1_000_000, 4 * n_keys))
    )
    load_table(scoped, sf_dir, "customer").createOrReplaceTempView("customer")
    return scoped.sql(SQL_RECURSIVE_CTE)


# ---------------------------------------------------------------------------
# market-basket association rules
# ---------------------------------------------------------------------------

MIN_ITEM_SUPPORT = 10  # orders containing the item (single-item support)
MIN_PAIR_SUPPORT = 3  # orders containing both items


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (support / confidence / lift) over order baskets.

    A-priori's first pruning level, distributed: single-item support is
    computed with one (orderkey,partkey)-distinct aggregation, items
    below MIN_ITEM_SUPPORT are dropped *before* the within-basket
    self-join (the pair space falls quadratically in the pruned
    fraction), and the item-count dim rides as a broadcast.  Counts are
    exact integers; confidence/lift are emitted as integer
    numerator/denominator pairs (conf = pair/cnt1, lift =
    pair·N / (cnt1·cnt2)) so the gate needs no float division.  The
    within-basket join shuffles (orderkey, partkey) ids only — at
    100 TB the basket side is hash-partitioned by orderkey and the
    skew valve is MIN_ITEM_SUPPORT itself (a universally-bought item
    is exactly the hot key the support floor exists to keep useful)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    freq = (
        items.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("item_cnt"))
        .filter(F.col("item_cnt") >= MIN_ITEM_SUPPORT)
    )
    pruned = items.join(F.broadcast(freq), "l_partkey").select(
        "l_orderkey", "l_partkey", "item_cnt"
    )
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
            F.col("a.item_cnt").alias("cnt1"),
            F.col("b.item_cnt").alias("cnt2"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= MIN_PAIR_SUPPORT)
    )
    return pairs.join(F.broadcast(n_orders)).select(
        "p1",
        "p2",
        "pair_cnt",
        "cnt1",
        "cnt2",
        (F.col("pair_cnt") * F.col("n_orders")).alias("lift_num"),
        (F.col("cnt1") * F.col("cnt2")).alias("lift_den"),
    )


ORACLE_ASSOC = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), freq AS (
  SELECT l_partkey, count(*) AS item_cnt FROM items
  GROUP BY l_partkey HAVING count(*) >= 10
), pruned AS (
  SELECT i.l_orderkey, i.l_partkey, f.item_cnt
  FROM items i JOIN freq f ON i.l_partkey = f.l_partkey
), n AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM items
)
SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       count(*) AS pair_cnt,
       a.item_cnt AS cnt1, b.item_cnt AS cnt2,
       count(*) * (SELECT n_orders FROM n) AS lift_num,
       a.item_cnt * b.item_cnt AS lift_den
FROM pruned a
JOIN pruned b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey
GROUP BY a.l_partkey, b.l_partkey, a.item_cnt, b.item_cnt
HAVING count(*) >= 3
"""


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of customers.

    Recency = whole days since the customer's last order (anchored at
    the dataset's own max order date so the query is reproducible),
    frequency = order count, monetary = decimal-exact spend.  Each
    metric is cut into quartiles by ``ntile(4)`` over a UNIQUE total
    order (metric, custkey) — ties broken identically in both engines,
    so tile membership is bit-deterministic.  Output: one row per
    (r,f,m) segment with size and spend.

    Scale: ``ntile`` over an un-partitioned window is a global sort —
    right for a customer-dim-sized input (dims are small next to
    facts).  Above ``_FACTSCALE_THRESHOLD`` keyed rows this query
    DELEGATES to the rank-boundary plan (q_rfm_segments_factscale —
    two-level prefix sum, no single-task sort), which shares this
    oracle; the threshold branch costs one count() of the keyed
    aggregate, the same planner-state precedent as maxscore's θ."""
    o = load_table(spark, sf_dir, "orders")
    # localCheckpoint BEFORE the threshold count so the keyed aggregate
    # is computed once and REUSED by whichever branch runs (the count
    # would otherwise cost a full extra aggregation over orders)
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    ).localCheckpoint(eager=False)
    if per_cust.count() > _FACTSCALE_THRESHOLD:
        return q_rfm_segments_factscale(spark, sf_dir, per_cust=per_cust)
    anchor = per_cust.agg(F.max("last_date").alias("anchor"))
    per_cust = per_cust.join(F.broadcast(anchor)).withColumn(
        "recency_days", F.datediff(F.col("anchor"), F.col("last_date"))
    )
    w_r = Window.orderBy("recency_days", "o_custkey")
    w_f = Window.orderBy(F.col("frequency").desc(), "o_custkey")
    w_m = Window.orderBy(F.col("monetary").desc(), "o_custkey")
    tiled = per_cust.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(w_r).alias("r_tile"),
        F.ntile(4).over(w_f).alias("f_tile"),
        F.ntile(4).over(w_m).alias("m_tile"),
    )
    # exact decimal agg internally, DOUBLE boundary (unscaled < 2^53 →
    # bit-equal conversion; decimal client encodings are engine-specific)
    return tiled.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("segment_spend"),
    )


ORACLE_RFM = """
WITH per_cust AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_date,
         count(*) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
), anch AS (SELECT max(last_date) AS anchor FROM per_cust),
tiled AS (
  SELECT o_custkey, monetary,
         ntile(4) OVER (ORDER BY datediff('day', last_date,
                          (SELECT anchor FROM anch)), o_custkey) AS r_tile,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_tile,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_tile
  FROM per_cust
)
SELECT r_tile, f_tile, m_tile,
       count(*) AS n_customers,
       CAST(sum(monetary) AS DOUBLE) AS segment_spend
FROM tiled GROUP BY r_tile, f_tile, m_tile
"""


# ---------------------------------------------------------------------------
# A/B test exact statistics
# ---------------------------------------------------------------------------


def q_stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm experiment readout with exact integer statistics.

    Arm assignment is the production-deterministic kind: user_id parity
    (any fixed hash works; parity keeps the oracle trivial).  Per arm:
    users, converters (a ``purchase`` event), exposure events.  The
    cross-arm row carries the two-proportion z-statistic's exact
    numerator ``x1·n2 − x2·n1`` and the pooled denominator pieces —
    integer-exact, so the gate never compares floats.  One distinct +
    two tiny aggregations; conversion state per user is a groupBy
    (user) max — map-side combinable, no window."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
        F.sum("n_events").alias("n_events"),
    )
    a0 = arms.filter(F.col("arm") == 0).alias("a0")
    a1 = arms.filter(F.col("arm") == 1).alias("a1")
    return (
        a0.join(F.broadcast(a1))
        .select(
            F.col("a0.n_users").alias("n0"),
            F.col("a0.n_converted").alias("x0"),
            F.col("a1.n_users").alias("n1"),
            F.col("a1.n_converted").alias("x1"),
            (
                F.col("a0.n_converted") * F.col("a1.n_users")
                - F.col("a1.n_converted") * F.col("a0.n_users")
            ).alias("delta_num"),
            (F.col("a0.n_converted") + F.col("a1.n_converted")).alias(
                "pooled_x"
            ),
            (F.col("a0.n_users") + F.col("a1.n_users")).alias("pooled_n"),
        )
    )


ORACLE_AB_TEST = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted,
         count(*) AS n_events,
         CAST(user_id % 2 AS INT) AS arm
  FROM events GROUP BY user_id
), arms AS (
  SELECT arm, count(*) AS n_users, sum(converted) AS n_converted,
         sum(n_events) AS n_events
  FROM per_user GROUP BY arm
)
SELECT a0.n_users AS n0, CAST(a0.n_converted AS BIGINT) AS x0,
       a1.n_users AS n1, CAST(a1.n_converted AS BIGINT) AS x1,
       CAST(a0.n_converted * a1.n_users - a1.n_converted * a0.n_users AS BIGINT) AS delta_num,
       CAST(a0.n_converted + a1.n_converted AS BIGINT) AS pooled_x,
       a0.n_users + a1.n_users AS pooled_n
FROM (SELECT * FROM arms WHERE arm = 0) a0,
     (SELECT * FROM arms WHERE arm = 1) a1
"""


# ---------------------------------------------------------------------------
# hourly OHLC bars
# ---------------------------------------------------------------------------


def q_ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type.

    Open/close are selected by ONE window pass with the unique order
    (ts, event_id) — row_number ascending and descending in the same
    window spec, so Spark evaluates a single sort per (bar, type)
    partition (plan: one Window node, two functions).  High/low/count
    are plain aggregates; raw values are never arithmetically combined
    (min/max/first of doubles is exact), and the volume sum is decimal.
    At 100 TB bars partition by (hour, type) — the window never sees
    unbounded state."""
    ev = load_table(spark, sf_dir, "events")
    bars = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
        "event_type",
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("bar_ts", "event_type").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("bar_ts", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = bars.select(
        "bar_ts",
        "event_type",
        "value",
        F.row_number().over(w).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
    )
    return marked.groupBy("bar_ts", "event_type").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_trades"),
        # exact decimal sum, DOUBLE boundary (unscaled < 2^53)
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("volume"),
    )


ORACLE_OHLC = """
WITH bars AS (
  SELECT date_trunc('hour', ts) AS bar_ts, event_type, ts, event_id, value,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT bar_ts, event_type,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_trades,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume
FROM bars GROUP BY bar_ts, event_type
"""


# ---------------------------------------------------------------------------
# graph k-core decomposition
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_MAX_ROUNDS = 12


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated co-purchase edges (p1 < p2, together in ≥2 orders).

    Shuffles ids only; the per-order self-join is the triangle
    pipeline's edge builder (queries_tpch_ext copurchase_triangles) —
    baskets hash-partition by orderkey, so edge generation is one
    shuffle regardless of scale.  The ≥2-orders floor keeps the graph
    at the sparsity where a 3-core is discriminating (single
    co-occurrence edges make every node trivially high-degree)."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            # fact-scale on BOTH sides: pin a shuffled hash join so the
            # basket stream is never broadcast (×100 scale find)
            b.hint("shuffle_hash"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph by iterative degree peeling.

    Each round: undirected degree per node (one hash aggregate over the
    symmetrized edge list), drop nodes with degree < k, restrict edges
    to survivors (two broadcast-or-shuffle semi-joins).  The loop runs
    until no node is dropped and *asserts* convergence within
    KCORE_MAX_ROUNDS — the oracle replays exactly that many peel rounds
    as nested CTEs (the unrolled-recurrence pattern proven on
    graph_pagerank), so both engines compute the identical fixpoint.
    Peeling is the textbook distributed k-core: per-round cost is two
    shuffles on a strictly shrinking edge set; rounds needed in
    practice ≈ graph degeneracy steps, and each survivor set is
    localCheckpointed so lineage stays O(1) (the connected-components
    lesson, dedup.py)."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint()
    for rnd in range(KCORE_MAX_ROUNDS):
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("u")
        pruned = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        if pruned.count() == edges.count():
            edges = pruned
            break
        edges = pruned
    else:
        raise AssertionError(
            f"k-core did not converge in {KCORE_MAX_ROUNDS} rounds"
        )
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    return sym.groupBy("u").agg(F.count(F.lit(1)).alias("core_deg"))


def _kcore_oracle() -> str:
    """Nested-CTE unrolled peeling, same round count as the engine."""
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references its predecessor ~5 times — un-materialized, the
    # expansion is 5^rounds scans of lineitem.
    base = """
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e0 AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
)"""
    rounds = []
    prev = "e0"
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        rounds.append(
            f""",
k{i} AS MATERIALIZED (
  SELECT u FROM (
    SELECT u, count(*) AS deg FROM (
      SELECT u, v FROM {prev} UNION ALL SELECT v AS u, u AS v FROM {prev}
    ) s GROUP BY u
  ) d WHERE deg >= {KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT u FROM k{i}) AND v IN (SELECT u FROM k{i})
)"""
        )
        prev = f"e{i}"
    return (
        base
        + "".join(rounds)
        + f"""
SELECT u, count(*) AS core_deg FROM (
  SELECT u, v FROM {prev} UNION ALL SELECT v AS u, u AS v FROM {prev}
) s GROUP BY u
"""
    )


ORACLE_KCORE = _kcore_oracle()


# ---------------------------------------------------------------------------
# ordered / positional aggregate suite
# ---------------------------------------------------------------------------


def q_f_aggorder_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set and positional aggregates, one pass per language.

    ``listagg … WITHIN GROUP (ORDER BY …)`` (Spark 4's ANSI ordered-set
    aggregate) with a unique (source, doc_id) order vs DuckDB's
    ``string_agg(… ORDER BY …)``; ``max_by`` keyed on the unique doc_id
    (no tie gambling); ``count_if``; ``bool_and``/``bool_or``;
    ``bit_xor`` (order-free by algebra); exact ``median`` of integers
    (both engines interpolate the even-count midpoint — (a+b)/2 of
    integers is exact in binary doubles).  All map-side-combinable
    except listagg, whose per-group payload is bounded by the group's
    own row count — the usual reporting-tier contract."""
    docs = load_table(spark, sf_dir, "documents")
    capped = docs.filter(F.col("doc_id") % 97 == 0)
    return capped.groupBy("lang").agg(
        F.expr(
            "listagg(source, '|') WITHIN GROUP (ORDER BY source, doc_id)"
        ).alias("sources_ordered"),
        F.expr("max_by(source, doc_id)").alias("latest_source"),
        F.expr("count_if(n_chars > 500)").alias("n_long"),
        F.expr("bool_and(n_chars > 0)").alias("all_nonempty"),
        F.expr("bool_or(n_chars > 2000)").alias("any_huge"),
        F.expr("bit_xor(doc_id)").alias("id_xor"),
        F.expr("median(n_chars)").alias("median_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_AGGORDER = """
SELECT lang,
       string_agg(source, '|' ORDER BY source, doc_id) AS sources_ordered,
       arg_max(source, doc_id) AS latest_source,
       count(*) FILTER (WHERE n_chars > 500) AS n_long,
       bool_and(n_chars > 0) AS all_nonempty,
       bool_or(n_chars > 2000) AS any_huge,
       bit_xor(doc_id) AS id_xor,
       median(n_chars) AS median_chars,
       count(*) AS n_docs
FROM documents
WHERE doc_id % 97 = 0
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Datomic tx-range log view
# ---------------------------------------------------------------------------


def q_eav_tx_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic's ``(d/tx-range log t0 t1)`` analog: the datom log sliced
    to a tx interval and summarized per tx bucket — the shape an
    auditor/replayer reads (SURVEY §2.9; the raw log IS the history
    database, eav_as_of's point).  The log derivation matches
    eav_as_of's (tx = event_id, assert/retract from event_id % 3); the
    range filter is a pushed-down scan predicate — on a tx-partitioned
    log at 100 TB it prunes to the touched partitions only, which is
    the entire reason Datomic stores the log tx-ordered."""
    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        (F.col("event_id") % 5).cast("string").alias("v"),
        F.col("event_id").alias("tx"),
        (F.col("event_id") % 3 != 0).alias("op"),
    )
    sliced = datoms.filter((F.col("tx") >= 1000) & (F.col("tx") < 6000))
    return (
        sliced.withColumn("tx_bucket", (F.col("tx") / 500).cast("bigint"))
        .groupBy("tx_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_datoms"),
            F.sum(F.col("op").cast("long")).alias("n_asserts"),
            F.sum((~F.col("op")).cast("long")).alias("n_retracts"),
            F.countDistinct("e").alias("n_entities"),
            F.min("tx").alias("first_tx"),
            F.max("tx").alias("last_tx"),
        )
    )


ORACLE_EAV_TX_LOG = """
SELECT CAST(floor(event_id / 500) AS BIGINT) AS tx_bucket,
       count(*) AS n_datoms,
       CAST(sum(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_asserts,
       CAST(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_retracts,
       count(DISTINCT user_id) AS n_entities,
       min(event_id) AS first_tx,
       max(event_id) AS last_tx
FROM events
WHERE event_id >= 1000 AND event_id < 6000
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# seasonal-naive forecast with exact error
# ---------------------------------------------------------------------------


def q_ts_seasonal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast (ŷ_t = y_{t−168h}) with exact decimal
    error — the baseline every forecasting system is benchmarked
    against.  Hourly decimal totals self-join on ``hour = hour − 7
    days`` (an equi-join on the computed timestamp, not a row-offset
    lag, so irregular gaps cannot misalign the pairing); the join key
    is the hour itself, so at 100 TB both sides hash-partition by time
    and AQE handles the tail.  Absolute error stays in DECIMAL."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total"),
        F.count(F.lit(1)).alias("n_events"),
    )
    prev = hourly.select(
        (F.col("hour") + F.expr("INTERVAL 168 HOURS")).alias("hour"),
        F.col("total").alias("forecast"),
    )
    # exact decimal math internally, DOUBLE boundary (unscaled < 2^53 →
    # bit-equal conversion; decimal client encodings are engine-specific)
    return hourly.join(prev, "hour").select(
        "hour",
        F.col("total").cast("double").alias("actual"),
        F.col("forecast").cast("double").alias("forecast"),
        F.abs(F.col("total") - F.col("forecast"))
        .cast("double")
        .alias("abs_err"),
        "n_events",
    )


ORACLE_SEASONAL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         sum(CAST(value AS DECIMAL(18,6))) AS total,
         count(*) AS n_events
  FROM events GROUP BY 1
)
SELECT h.hour, CAST(h.total AS DOUBLE) AS actual,
       CAST(p.total AS DOUBLE) AS forecast,
       CAST(abs(h.total - p.total) AS DOUBLE) AS abs_err, h.n_events
FROM hourly h
JOIN hourly p ON h.hour = p.hour + INTERVAL 168 HOUR
"""


# ---------------------------------------------------------------------------
# reified transactions (tx metadata entities)
# ---------------------------------------------------------------------------


def q_eav_tx_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic's reified transactions: every tx is itself an entity
    carrying ``:db/txInstant`` (and here an author attr), so provenance
    queries are ordinary joins against the tx partition — no separate
    audit infrastructure (SURVEY §2.9; the tace ``-C`` comments ride
    into exactly this tx-metadata stream).  Fact datoms join their tx
    entity and profile per author; the tx dim is orders of magnitude
    smaller than the datom log, so Spark broadcasts it."""
    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        F.col("event_id").alias("tx"),
    )
    tx_meta = ev.select(
        F.col("event_id").alias("tx"),
        F.col("ts").alias("tx_instant"),
        F.concat(F.lit("user:"), (F.col("user_id") % 7).cast("string")).alias(
            "tx_author"
        ),
    )
    return (
        datoms.join(tx_meta, "tx")
        .groupBy("tx_author")
        .agg(
            F.count(F.lit(1)).alias("n_datoms"),
            F.countDistinct("tx").alias("n_txs"),
            F.min("tx_instant").alias("first_instant"),
            F.max("tx_instant").alias("last_instant"),
        )
    )


ORACLE_EAV_TX_META = """
SELECT 'user:' || CAST(user_id % 7 AS VARCHAR) AS tx_author,
       count(*) AS n_datoms,
       count(DISTINCT event_id) AS n_txs,
       min(ts) AS first_instant,
       max(ts) AS last_instant
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# fixed-width file source
# ---------------------------------------------------------------------------

# offsets: orderkey[0:12) zero-padded, status[12:13), cents[13:25)
# zero-padded, date[25:33) yyyyMMdd, priority[33:48) right-padded
FW_LINE = 48


def q_fixedwidth_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width (COBOL/mainframe) file roundtrip as a data source:
    orders are serialized to 48-char fixed-offset records with pure JVM
    expressions (lpad/rpad/date_format — one map stage, text sink) and
    read back by substring slicing + casts — schema-on-read over a
    format Spark has no built-in reader for, the classic enterprise
    ingest.  Money crosses as zero-padded integer cents.  The oracle
    recomputes the aggregate straight from ``orders``, so a one-column
    offset slip, a truncated pad, or a bad sign convention breaks the
    gate.  Scale: text-source splits parallelize by line; the parse is
    codegen substring math, no UDF."""
    import os

    o = load_table(spark, sf_dir, "orders")
    path = _fx(sf_dir, "orders_fixedwidth")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        lines = o.select(
            F.concat(
                F.lpad(F.col("o_orderkey").cast("string"), 12, "0"),
                F.col("o_orderstatus"),
                F.lpad(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")
                    .cast("string"),
                    12,
                    "0",
                ),
                F.date_format(F.col("o_orderdate"), "yyyyMMdd"),
                F.rpad(F.col("o_orderpriority"), 15, " "),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    parsed = raw.select(
        F.substring("value", 1, 12).cast("long").alias("orderkey"),
        F.substring("value", 13, 1).alias("status"),
        F.substring("value", 14, 12).cast("long").alias("cents"),
        F.to_date(F.substring("value", 26, 8), "yyyyMMdd").alias("odate"),
        F.trim(F.substring("value", 34, 15)).alias("priority"),
    )
    return parsed.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
        F.min("odate").alias("first_date"),
        F.max("odate").alias("last_date"),
        F.countDistinct("priority").alias("n_priorities"),
        F.sum("orderkey").alias("key_checksum"),
    )


ORACLE_FIXEDWIDTH = """
SELECT o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(CAST(o_orderdate AS DATE)) AS first_date,
       max(CAST(o_orderdate AS DATE)) AS last_date,
       count(DISTINCT o_orderpriority) AS n_priorities,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM orders
GROUP BY o_orderstatus
"""




# ---------------------------------------------------------------------------
# Datomic lookup refs
# ---------------------------------------------------------------------------


def q_eav_lookup_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic lookup-ref patches: orders arrive addressed by CUSTOMER
    NAME (``[:c_name "Customer#…"]``), not eid; eav.resolve_lookup_refs
    binds them against the unique-identity index (broadcast — identity
    dims are tiny next to the patch stream), then last-write-wins per
    entity picks each customer's latest order.  The oracle resolves the
    same refs relationally.  The window order (tx DESC, v DESC) is a
    unique total order, so the winner is deterministic."""
    from .operators.eav import resolve_lookup_refs

    cust = load_table(spark, sf_dir, "customer")
    identity = cust.select(
        F.col("c_custkey").alias("e"), F.col("c_name").alias("v")
    )
    orders = load_table(spark, sf_dir, "orders")
    patches = orders.join(
        cust.select("c_custkey", "c_name"),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        F.col("c_name").alias("ref_val"),
        F.lit("last_order").alias("a"),
        F.col("o_orderkey").cast("string").alias("v"),
        F.col("o_orderdate").alias("tx"),
    )
    resolved = resolve_lookup_refs(patches, identity)
    w = Window.partitionBy("e", "a").orderBy(
        F.col("tx").desc(), F.col("v").desc()
    )
    return (
        resolved.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("e", "a", "v", "tx")
    )


ORACLE_EAV_LOOKUP_REF = """
WITH resolved AS (
  SELECT c.c_custkey AS e, 'last_order' AS a,
         CAST(o.o_orderkey AS VARCHAR) AS v, o.o_orderdate AS tx
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ranked AS (
  SELECT e, a, v, tx,
         row_number() OVER (PARTITION BY e, a ORDER BY tx DESC, v DESC)
           AS rn
  FROM resolved
)
SELECT e, a, v, tx FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# regex function suite
# ---------------------------------------------------------------------------


def q_f_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface parity, one pass per language: extract-all with a
    capture group, global replace (Spark's default == DuckDB's 'g'
    flag), regex split counts, anchored extract.  All JVM codegen —
    regex ops are the workhorse of corpus cleaning, and at 100 TB they
    run scan-side with zero shuffles beyond the bounded group agg."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.sum(
            F.size(F.expr("regexp_extract_all(text, '[aeiou]{2}', 0)"))
        ).alias("n_vowel_pairs"),
        F.sum(
            F.length(F.regexp_replace(F.col("text"), "[aeiou]", ""))
        ).alias("devoweled_chars"),
        F.sum(F.size(F.split(F.col("text"), "\\s+"))).alias("n_tokens"),
        F.min(F.regexp_extract(F.col("text"), "^(\\w+)", 1)).alias(
            "first_word"
        ),
        F.sum(
            F.size(
                # DataFrame-API form: the pattern bypasses SQL-string
                # backslash escaping (F.expr would need quadruple-\)
                F.regexp_extract_all(
                    F.col("text"), F.lit(r"(\w)o"), F.lit(1)
                )
            )
        ).alias("n_before_o"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_F_REGEX = r"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '[aeiou]{2}', 0))) AS BIGINT) AS n_vowel_pairs,
       CAST(sum(length(regexp_replace(text, '[aeiou]', '', 'g'))) AS BIGINT) AS devoweled_chars,
       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
       min(regexp_extract(text, '^(\w+)', 1)) AS first_word,
       CAST(sum(len(regexp_extract_all(text, '(\w)o', 1))) AS BIGINT) AS n_before_o,
       count(*) AS n_docs
FROM documents
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# date/interval function suite
# ---------------------------------------------------------------------------


def q_f_interval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-arithmetic surface parity per order priority: add_months
    (end-of-month clamping included), last_day, ISO week truncation,
    day-of-week (normalized to DuckDB's 0=Sunday base), day spans.
    Aggregate first, then apply the calendar functions to the bounded
    group row — the scan only carries (priority, date)."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("dmin"),
        F.max(F.col("o_orderdate").cast("date")).alias("dmax"),
        F.count(F.lit(1)).alias("n"),
    )
    return g.select(
        F.col("o_orderpriority").alias("priority"),
        "n",
        F.add_months(F.col("dmin"), 3).alias("plus3m"),
        F.last_day(F.col("dmax")).alias("month_end"),
        F.date_trunc("week", F.col("dmin")).cast("date").alias("week_start"),
        (F.dayofweek(F.col("dmax")) - 1).alias("dow_max"),
        F.datediff(F.col("dmax"), F.col("dmin")).alias("span_days"),
    )


ORACLE_F_INTERVAL = """
WITH g AS (
  SELECT o_orderpriority AS priority,
         min(CAST(o_orderdate AS DATE)) AS dmin,
         max(CAST(o_orderdate AS DATE)) AS dmax,
         count(*) AS n
  FROM orders GROUP BY 1
)
SELECT priority, n,
       CAST(dmin + INTERVAL 3 MONTH AS DATE) AS plus3m,
       last_day(dmax) AS month_end,
       CAST(date_trunc('week', dmin) AS DATE) AS week_start,
       dayofweek(dmax) AS dow_max,
       datediff('day', dmin, dmax) AS span_days
FROM g
"""


# ---------------------------------------------------------------------------
# linear quality classifier (model scoring as expressions)
# ---------------------------------------------------------------------------


def q_text_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference as pure codegen: a linear quality classifier
    (fixed integer weights over corpus-cleaning features — token count,
    mean word length, stopword hits, digit/upper ratios) scored in ONE
    map stage, thresholded in integer micro-units so both engines agree
    bit-for-bit.  This is the fasttext-style quality-filter shape:
    at 100 TB, scoring is scan-speed and the only shuffle is the
    per-language verdict rollup."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), "\\s+"))
    # \b must reach the regex engine intact: an SQL string literal
    # unescapes it to backspace (found by review — BOTH engines agreed
    # on the dead feature, so the gate could not see it); the lit()
    # column form bypasses SQL-literal unescaping (the f_regex_suite
    # workaround)
    stop_hits = F.size(
        F.regexp_extract_all(
            F.col("text"),
            F.lit(r"\b(the|and|of|to|in|is)\b"),
            F.lit(0),
        )
    )
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    uppers = F.length(F.regexp_replace(F.col("text"), "[^A-Z]", ""))
    # integer micro-unit score: w·f scaled by 1e6 / len where needed
    score = (
        F.lit(250000) * toks
        + F.lit(900000) * stop_hits
        - F.lit(400000) * digits
        - F.lit(150000) * uppers
    )
    scored = docs.select(
        "lang",
        score.alias("score_micro"),
        (score > F.lit(2000000)).alias("keep"),
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum("score_micro").alias("sum_score"),
        F.min("score_micro").alias("min_score"),
        F.max("score_micro").alias("max_score"),
    )


ORACLE_QUALITY_LOGIT = r"""
WITH scored AS (
  SELECT lang,
         250000 * len(string_split_regex(text, '\s+'))
         + 900000 * len(regexp_extract_all(text,
               '\b(the|and|of|to|in|is)\b', 0))
         - 400000 * length(regexp_replace(text, '[^0-9]', '', 'g'))
         - 150000 * length(regexp_replace(text, '[^A-Z]', '', 'g'))
           AS score_micro
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN score_micro > 2000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST(sum(score_micro) AS BIGINT) AS sum_score,
       min(score_micro) AS min_score,
       max(score_micro) AS max_score
FROM scored GROUP BY lang
"""


# ---------------------------------------------------------------------------
# CSV with embedded newlines/quotes (multiLine roundtrip)
# ---------------------------------------------------------------------------


def q_csv_multiline_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV case that breaks naive splitters: fields containing
    embedded NEWLINES and QUOTES.  A derived field with both is written
    through Spark's quoting CSV sink and read back with
    ``multiLine=true`` (records span physical lines, quotes escaped by
    doubling per RFC 4180); the aggregate checksum must survive the
    roundtrip exactly, which the oracle recomputes from ``orders``
    directly.  Scale note: multiLine CSV is the documented trade — a
    quoted-newline file cannot be split mid-record, so such inputs
    parallelize per-FILE, which is why the engine's own sinks are
    parquet and this path exists for interchange fidelity."""
    import os

    o = load_table(spark, sf_dir, "orders")
    path = _fx(sf_dir, "orders_multiline_csv")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        rows = o.select(
            "o_orderkey",
            F.concat(
                F.lit('note "'),
                F.col("o_orderpriority"),
                F.lit('"\nline2 for '),
                F.col("o_orderstatus"),
            ).alias("note"),
            F.col("o_totalprice"),
        )
        rows.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("inferSchema", False)
        .csv(path)
    )
    return back.select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("note"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("k").alias("key_sum"),
        F.sum(F.length("note")).alias("note_chars"),
        F.sum(
            F.size(F.split(F.col("note"), "\n", -1)) - 1
        ).alias("embedded_newlines"),
        # exact decimal sum, DOUBLE boundary (unscaled < 2^53)
        F.sum("price").cast("double").alias("price_sum"),
    )


ORACLE_CSV_MULTILINE = """
SELECT count(*) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(length('note "' || o_orderpriority || '"' || chr(10)
           || 'line2 for ' || o_orderstatus)) AS BIGINT) AS note_chars,
       count(*) AS embedded_newlines,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
FROM orders
"""




# ---------------------------------------------------------------------------
# chi-square independence (exact integer deviations)
# ---------------------------------------------------------------------------


def q_stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan (lang × source) with EXACT integer
    statistics: per cell, observed count, margins, and the deviation
    numerator n·O − R·C (whose square over R·C sums to n·χ²) — all
    integers, so the gate compares exactly; the float χ² is one driver
    division away.  Shape: one hash agg for cells, two broadcast margin
    dims back onto the cells — contingency tables are bounded by
    category cardinality, never by data size."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("obs")
    )
    rows = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("row_tot"))
    cols = docs.groupBy("source").agg(F.count(F.lit(1)).alias("col_tot"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    return (
        cells.join(F.broadcast(rows), "lang")
        .join(F.broadcast(cols), "source")
        .join(F.broadcast(n))
        .select(
            "lang",
            "source",
            "obs",
            "row_tot",
            "col_tot",
            "n",
            (F.col("n") * F.col("obs") - F.col("row_tot") * F.col("col_tot"))
            .alias("dev_num"),
        )
    )


ORACLE_CHI_SQUARE = """
WITH cells AS (
  SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2
), r AS (SELECT lang, count(*) AS row_tot FROM documents GROUP BY 1),
c AS (SELECT source, count(*) AS col_tot FROM documents GROUP BY 1),
t AS (SELECT count(*) AS n FROM documents)
SELECT cells.lang, cells.source, obs, row_tot, col_tot, n,
       n * obs - row_tot * col_tot AS dev_num
FROM cells
JOIN r ON cells.lang = r.lang
JOIN c ON cells.source = c.source
CROSS JOIN t
"""


# ---------------------------------------------------------------------------
# rollup hierarchy sharing one exchange (ReusedExchange)
# ---------------------------------------------------------------------------


def q_mv_reuse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation-hierarchy reuse: daily and weekly revenue grains both
    derive from the same per-(day) partial aggregate, and Catalyst
    proves it — the physical plan carries ONE exchange for the shared
    subtree plus a ReusedExchange node for the second consumer
    (plan-guarded).  This is the materialized-view-lite pattern that
    matters at 100 TB: the fact scan and its shuffle happen once, every
    coarser grain is a re-aggregation of the finer one.

    Revenue crosses the oracle boundary as integer cents (BIGINT): the
    round-4 driver hash-red on this query was a decimal-canonicalization
    sensitivity (values verified equal), and integers are the one
    numeric type every canonicalizer agrees on — the same recipe that
    drove the round-3 HUGEINT class to driver-green."""
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).alias("day")
    ).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("rev_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    by_day = daily.select(
        F.lit("day").alias("grain"),
        F.col("day").cast("date").alias("period"),
        "rev_cents",
        "n",
    )
    by_week = (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("wk"))
        .agg(F.sum("rev_cents").alias("rev_cents"), F.sum("n").alias("n"))
        .select(
            F.lit("week").alias("grain"),
            F.col("wk").cast("date").alias("period"),
            "rev_cents",
            "n",
        )
    )
    return by_day.unionByName(by_week)


ORACLE_MV_REUSE = """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS day,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents,
         count(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT 'day' AS grain, CAST(day AS DATE) AS period, rev_cents, n FROM daily
UNION ALL
SELECT 'week', CAST(date_trunc('week', day) AS DATE),
       CAST(sum(rev_cents) AS BIGINT), CAST(sum(n) AS BIGINT)
FROM daily GROUP BY 2
"""




# ---------------------------------------------------------------------------
# skyline (Pareto frontier)
# ---------------------------------------------------------------------------


def q_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query (maximize date AND price, per order status): an
    order is on the frontier iff nothing else in its group is at least
    as late AND at least as expensive with one strict.  The naive form
    is an O(n²) NOT-EXISTS self-join; the engine computes it in one
    sort: per-date column maxima, then a running later-date maximum —
    a row survives iff it tops its own date and strictly beats every
    later date.  The ORACLE is the independent brute-force NOT EXISTS
    (on a sampled subset so DuckDB's quadratic stays cheap), so the
    window reformulation is proven equivalent, not assumed.  Prices
    cross as integer cents.  Scale: two window passes partitioned by
    (status[, date]), no self-join, no pair blowup."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 7 == 0
    )
    pts = o.select(
        "o_orderstatus",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    w_date = Window.partitionBy("o_orderstatus", "odate")
    w_later = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("odate").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # per-date max first, then the running max over strictly-later dates
    date_max = pts.withColumn("dmax", F.max("cents").over(w_date))
    dates = (
        date_max.select("o_orderstatus", "odate", "dmax")
        .distinct()
        .withColumn("later_max", F.max("dmax").over(w_later))
    )
    return (
        date_max.join(dates, ["o_orderstatus", "odate", "dmax"])
        .filter(
            (F.col("cents") == F.col("dmax"))
            & (
                F.col("later_max").isNull()
                | (F.col("cents") > F.col("later_max"))
            )
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            "o_orderkey",
            "odate",
            "cents",
        )
    )


ORACLE_SKYLINE = """
WITH pts AS (
  SELECT o_orderstatus AS status, o_orderkey,
         CAST(o_orderdate AS DATE) AS odate,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT p.status, p.o_orderkey, p.odate, p.cents
FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.status = p.status
    AND q.odate >= p.odate AND q.cents >= p.cents
    AND (q.odate > p.odate OR q.cents > p.cents)
)
"""




# ---------------------------------------------------------------------------
# multiset (ALL) set operations
# ---------------------------------------------------------------------------


def q_u6_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the multiset semantics U2's
    set-variants don't exercise: duplicates carry multiplicity
    min(m, n) and m − n respectively.  Priorities of open vs finished
    orders as the two multisets; both engines compute the native ALL
    operators (Spark intersectAll/exceptAll ↔ DuckDB INTERSECT ALL /
    EXCEPT ALL), profiled by value so the result is order-free."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("v")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("v")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    exc = (
        a.exceptAll(b)
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return inter.unionByName(exc).select("op", "v", "n")


ORACLE_U6_SETOPS = """
WITH a AS (SELECT o_orderpriority AS v FROM orders WHERE o_orderstatus='O'),
b AS (SELECT o_orderpriority AS v FROM orders WHERE o_orderstatus='F'),
i AS (SELECT v FROM a INTERSECT ALL SELECT v FROM b),
e AS (SELECT v FROM a EXCEPT ALL SELECT v FROM b)
SELECT 'intersect_all' AS op, v, count(*) AS n FROM i GROUP BY v
UNION ALL
SELECT 'except_all', v, count(*) FROM e GROUP BY v
"""


# ---------------------------------------------------------------------------
# window function suite 2 (positional / null-aware / distribution)
# ---------------------------------------------------------------------------


def q_f_window_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window forms w1–w8 leave out: ``nth_value`` over the full
    frame, ``first``/``last`` with IGNORE NULLS (nulls planted
    deterministically at n_chars %% 3 == 0), and ``cume_dist``
    aggregated in exact thousandths.  Full-frame values are constant
    per partition, so the bounded per-language rollup is deterministic;
    the (doc_id) order is unique."""
    docs = load_table(spark, sf_dir, "documents")
    x = F.when(F.col("n_chars") % 3 == 0, None).otherwise(F.col("n_chars"))
    w_full = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_ord = Window.partitionBy("lang").orderBy("doc_id")
    marked = docs.select(
        "lang",
        F.nth_value("source", 2).over(w_full).alias("second_source"),
        F.first(x, ignorenulls=True).over(w_full).alias("first_nn"),
        F.last(x, ignorenulls=True).over(w_full).alias("last_nn"),
        F.floor(F.cume_dist().over(w_ord) * 1000).alias("cume_k"),
    )
    return marked.groupBy("lang").agg(
        F.max("second_source").alias("second_source"),
        F.max("first_nn").alias("first_nn"),
        F.max("last_nn").alias("last_nn"),
        F.sum("cume_k").alias("cume_sum"),
        F.count(F.lit(1)).alias("n_docs"),
    )


ORACLE_F_WINDOW2 = """
WITH marked AS (
  SELECT lang,
         nth_value(source, 2) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_source,
         first_value(CASE WHEN n_chars % 3 = 0 THEN NULL ELSE n_chars END
             IGNORE NULLS) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS first_nn,
         last_value(CASE WHEN n_chars % 3 = 0 THEN NULL ELSE n_chars END
             IGNORE NULLS) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_nn,
         CAST(floor(cume_dist() OVER (PARTITION BY lang ORDER BY doc_id)
              * 1000) AS BIGINT) AS cume_k
  FROM documents
)
SELECT lang, max(second_source) AS second_source,
       max(first_nn) AS first_nn, max(last_nn) AS last_nn,
       CAST(sum(cume_k) AS BIGINT) AS cume_sum, count(*) AS n_docs
FROM marked GROUP BY lang
"""




# ---------------------------------------------------------------------------
# Datomic schema alteration (cardinality one → many at a tx boundary)
# ---------------------------------------------------------------------------

ALTER_TX = 5000


def q_eav_schema_alter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic schema alteration: an attribute installed card-ONE is
    altered to card-MANY at tx ALTER_TX (``:db/cardinality`` is itself
    just a datom on the attribute entity, so the alteration is part of
    the log).  Replay semantics: facts transacted before the boundary
    keep upserting (last-write-wins per (e,a) among tx < T), facts at or
    after it accumulate per (e,a,v) — the union is the entity's current
    value set.  One window pass for the card-one era, one distinct for
    the card-many era; both partition by entity, so the replay
    distributes by the same key the log is stored under."""
    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.lit("tag").alias("a"),
        (F.col("event_id") % 7).cast("string").alias("v"),
        F.col("event_id").alias("tx"),
    )
    pre = datoms.filter(F.col("tx") < ALTER_TX)
    w = Window.partitionBy("e", "a").orderBy(
        F.col("tx").desc(), F.col("v").desc()
    )
    pre_winner = (
        pre.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("e", "a", "v")
    )
    post_values = (
        datoms.filter(F.col("tx") >= ALTER_TX).select("e", "a", "v").distinct()
    )
    current = pre_winner.unionByName(post_values).distinct()
    return current.groupBy("e").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


ORACLE_SCHEMA_ALTER = """
WITH datoms AS (
  SELECT user_id AS e, 'tag' AS a, CAST(event_id % 7 AS VARCHAR) AS v,
         event_id AS tx
  FROM events
), pre AS (
  SELECT e, a, v FROM (
    SELECT e, a, v,
           row_number() OVER (PARTITION BY e, a
                              ORDER BY tx DESC, v DESC) AS rn
    FROM datoms WHERE tx < 5000
  ) WHERE rn = 1
), post AS (
  SELECT DISTINCT e, a, v FROM datoms WHERE tx >= 5000
), current AS (
  SELECT DISTINCT e, a, v FROM (
    SELECT * FROM pre UNION ALL SELECT * FROM post
  )
)
SELECT e, count(*) AS n_values, min(v) AS min_v, max(v) AS max_v
FROM current GROUP BY e
"""


# ---------------------------------------------------------------------------
# training-shard manifest
# ---------------------------------------------------------------------------

N_SHARDS = 64


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: documents are assigned to 64 shards by a
    deterministic multiplicative hash (layout-independent — the same
    contract as sample_stratified), and the manifest row per shard
    carries count, byte budget, id checksum (xor — order-free by
    algebra) and id span.  This is the file a downstream dataloader
    reads INSTEAD of listing 100 TB of objects; producing it is one
    hash-bounded aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(1 << 31)
    ) % F.lit(N_SHARDS)
    return (
        docs.select(
            shard.alias("shard"),
            "doc_id",
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("byte_budget"),
            F.expr("bit_xor(doc_id)").alias("id_checksum"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


ORACLE_SHARD_MANIFEST = """
SELECT (doc_id * 2654435761) % 2147483648 % 64 AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS byte_budget,
       bit_xor(doc_id) AS id_checksum,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM documents
GROUP BY 1
"""




# ---------------------------------------------------------------------------
# incremental view maintenance (delta merge == full recompute)
# ---------------------------------------------------------------------------

IVM_SPLIT_TX = 6000


def q_ivm_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, proven equal to recompute: the
    hourly rollup is built as base (events with id < T) MERGED with the
    late delta batch (id ≥ T) by summing partial aggregates on the
    group key — the batch analog of the streaming foreachBatch MERGE
    (stream_merge_upsert), and the contract every IVM system must hold.
    The ORACLE is the single-pass aggregate over ALL events, so the
    gate literally checks incremental == batch.  Merging partials is a
    full-outer sum on the bounded group-key dim — at 100 TB the delta
    never re-touches base FACTS, only the view."""
    ev = load_table(spark, sf_dir, "events")
    def rollup(df):
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias(
                "value_micro"
            ),
        )

    base = rollup(ev.filter(F.col("event_id") < IVM_SPLIT_TX))
    delta = rollup(ev.filter(F.col("event_id") >= IVM_SPLIT_TX))
    b, d = base.alias("b"), delta.alias("d")
    return (
        b.join(
            d,
            (F.col("b.hour").eqNullSafe(F.col("d.hour")))
            & (F.col("b.event_type").eqNullSafe(F.col("d.event_type"))),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.hour"), F.col("d.hour")).alias("hour"),
            F.coalesce(F.col("b.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            (
                F.coalesce(F.col("b.n_events"), F.lit(0))
                + F.coalesce(F.col("d.n_events"), F.lit(0))
            ).alias("n_events"),
            (
                F.coalesce(F.col("b.value_micro"), F.lit(0))
                + F.coalesce(F.col("d.value_micro"), F.lit(0))
            ).alias("value_micro"),
        )
    )


ORACLE_IVM = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
FROM events
GROUP BY 1, 2
"""


def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-view incremental maintenance (the delta-join rule): the
    per-customer revenue view V = γ(orders ⋈ lineitem) is maintained
    under deltas to BOTH base tables without recomputing the old×old
    join — ΔV = γ(ΔO⋈L₀) ⊎ γ(O₀⋈ΔL) ⊎ γ(ΔO⋈ΔL), merged into the
    stored V₀ = γ(O₀⋈L₀) by summing partials on the group key.  This
    is the join tier of the IVM contract (``ivm_delta_merge`` is the
    aggregate tier; DBSP/differential-dataflow give the same rule its
    algebraic form).  The deltas here are independent slices (orders
    by key residue, lineitem by line number), so all three delta terms
    are non-empty — the oracle is the single-pass join+agg over the
    FULL tables, so the gate literally checks incremental == batch.

    Exactness: per-line revenue quantizes to integer cents at the leaf
    (floor(p·(1−d)·100 + 0.5) of identical IEEE doubles), so every
    partial and the merge are associative BIGINT sums.  Scale: the
    three delta joins touch only delta-sided rows — ΔO⋈L₀ and O₀⋈ΔL
    broadcast the delta batch against the base's join-key layout
    (bucketed/co-partitioned on orderkey at 100 TB, so no base
    shuffle), ΔO⋈ΔL is batch×batch; V₀ is never rebuilt and O₀⋈L₀ is
    never re-executed after bootstrap — the per-batch cost is
    O(|Δ| + |view partials touched|), independent of base size."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")

    o_old = orders.filter(F.col("o_orderkey") % 7 != 0)
    o_dlt = orders.filter(F.col("o_orderkey") % 7 == 0)
    l_old = li.filter(F.col("l_linenumber") < 4)
    l_dlt = li.filter(F.col("l_linenumber") >= 4)

    def view(o, l):
        return (
            o.select("o_orderkey", "o_custkey")
            .join(
                l.select("l_orderkey", cents.alias("cents")),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum("cents").alias("rev_cents"),
            )
        )

    v0 = view(o_old, l_old)
    dv = (
        view(o_dlt, l_old)
        .unionByName(view(o_old, l_dlt))
        .unionByName(view(o_dlt, l_dlt))
        .groupBy("o_custkey")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("rev_cents").alias("rev_cents"),
        )
    )
    b, d = v0.alias("b"), dv.alias("d")
    return b.join(
        d, F.col("b.o_custkey") == F.col("d.o_custkey"), "full_outer"
    ).select(
        F.coalesce(F.col("b.o_custkey"), F.col("d.o_custkey")).alias(
            "o_custkey"
        ),
        (
            F.coalesce(F.col("b.n_lines"), F.lit(0))
            + F.coalesce(F.col("d.n_lines"), F.lit(0))
        ).alias("n_lines"),
        (
            F.coalesce(F.col("b.rev_cents"), F.lit(0))
            + F.coalesce(F.col("d.rev_cents"), F.lit(0))
        ).alias("rev_cents"),
    )


ORACLE_IVM_JOIN = """
SELECT o_custkey,
       count(*) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                     AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# bitemporal state (valid time x transaction time)
# ---------------------------------------------------------------------------


def q_eav_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal query: facts carry BOTH a validity interval (business
    time, derived here as [ts, ts+3 days]) and a transaction id; the
    question is "what did we BELIEVE (tx ≤ T) was true AT valid time
    V?" — the two-axis cut every audited store must answer (Datomic
    gives the tx axis natively, SCD2 gives the valid axis; this
    composes them).  Resolution: filter both axes, then
    latest-transacted fact wins per entity.  Axis filters are scan
    predicates (pushdown), the winner is one window — on a tx-sorted
    log both prune before any shuffle."""
    ev = load_table(spark, sf_dir, "events")
    facts = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("v"),
        F.col("event_id").alias("tx"),
        F.col("ts").alias("valid_from"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("valid_to"),
    )
    as_of_tx = 8000
    valid_at = "2024-01-15 00:00:00"
    cut = facts.filter(
        (F.col("tx") <= as_of_tx)
        & (F.col("valid_from") <= F.lit(valid_at).cast("timestamp"))
        & (F.col("valid_to") > F.lit(valid_at).cast("timestamp"))
    )
    w = Window.partitionBy("e").orderBy(F.col("tx").desc())
    current = (
        cut.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("e", "v", "tx")
    )
    return current.groupBy("v").agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.min("e").alias("min_e"),
        F.max("tx").alias("latest_tx"),
    )


ORACLE_BITEMPORAL = """
WITH cut AS (
  SELECT user_id AS e, event_type AS v, event_id AS tx
  FROM events
  WHERE event_id <= 8000
    AND ts <= TIMESTAMP '2024-01-15 00:00:00'
    AND ts + INTERVAL 3 DAY > TIMESTAMP '2024-01-15 00:00:00'
), cur AS (
  SELECT e, v, tx FROM (
    SELECT e, v, tx,
           row_number() OVER (PARTITION BY e ORDER BY tx DESC) AS rn
    FROM cut
  ) WHERE rn = 1
)
SELECT v, count(*) AS n_entities, min(e) AS min_e, max(tx) AS latest_tx
FROM cur GROUP BY v
"""




# ---------------------------------------------------------------------------
# first-order Markov transitions over user event sequences
# ---------------------------------------------------------------------------


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: one lag window in (ts, event_id) unique order produces
    (prev_type → type) pairs, one hash agg counts them, and the
    row-total rides back as an integer denominator (probabilities are
    numer/denom pairs, bit-exact).  The sequence-model statistic behind
    next-event prediction and funnel diagnostics; the window partitions
    by user, so state never exceeds one user's history."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type", "to_type", "n", "row_total"
    )


ORACLE_MARKOV = """
WITH seq AS (
  SELECT user_id, event_type AS to_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total
FROM pairs
"""


# ---------------------------------------------------------------------------
# ABC / Pareto classification by cumulative revenue share
# ---------------------------------------------------------------------------


def q_orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification: customers sorted by spend, running
    cumulative share computed in integer cents (cum·10000 vs total —
    no float division), class A = first 80%% of revenue, B = to 95%%,
    C = the tail.  One global sort over the customer DIM (bounded next
    to facts — same contract as rfm_segments); above
    ``_FACTSCALE_THRESHOLD`` keyed rows it DELEGATES to the bucketed
    running-total plan (q_orders_abc_factscale, same oracle).
    Output: per class, customers and spend."""
    o = load_table(spark, sf_dir, "orders")
    # localCheckpoint BEFORE the threshold count: one keyed aggregate,
    # reused by whichever branch runs
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    ).localCheckpoint(eager=False)
    if per_cust.count() > _FACTSCALE_THRESHOLD:
        return q_orders_abc_factscale(spark, sf_dir, per_cust=per_cust)
    total = per_cust.agg(F.sum("cents").alias("total_cents"))
    w = Window.orderBy(F.col("cents").desc(), F.col("o_custkey"))
    ranked = (
        per_cust.join(F.broadcast(total))
        .withColumn("cum_cents", F.sum("cents").over(w))
        .withColumn(
            "abc",
            F.when(
                F.col("cum_cents") * 100 <= F.col("total_cents") * 80, "A"
            )
            .when(
                F.col("cum_cents") * 100 <= F.col("total_cents") * 95, "B"
            )
            .otherwise("C"),
        )
    )
    return ranked.groupBy("abc").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").alias("class_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


ORACLE_ABC = """
WITH per_cust AS (
  SELECT o_custkey,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
), t AS (SELECT sum(cents) AS total_cents FROM per_cust),
ranked AS (
  SELECT o_custkey, cents,
         sum(cents) OVER (ORDER BY cents DESC, o_custkey) AS cum_cents,
         (SELECT total_cents FROM t) AS total_cents
  FROM per_cust
), classed AS (
  SELECT *,
         CASE WHEN cum_cents * 100 <= total_cents * 80 THEN 'A'
              WHEN cum_cents * 100 <= total_cents * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc, count(*) AS n_customers, CAST(sum(cents) AS BIGINT) AS class_cents,
       CAST(min(cents) AS BIGINT) AS min_cents, CAST(max(cents) AS BIGINT) AS max_cents
FROM classed GROUP BY abc
"""




# ---------------------------------------------------------------------------
# small-file compaction roundtrip
# ---------------------------------------------------------------------------


def q_sink_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The small-files problem, end to end: orders deliberately written
    as 64 shards (the pathological ingest layout a streaming or
    per-task writer produces), compacted to 4 with one repartition
    pass (cli.py compact's kernel), re-read and profiled — the oracle
    recomputes from the source table, so compaction provably loses and
    duplicates nothing.  pytest pins the file-count drop.  At 100 TB
    file-count hygiene IS a performance feature: listing, footer reads,
    and task scheduling all scale with file count, not bytes."""
    import glob
    import os

    o = load_table(spark, sf_dir, "orders")
    frag = _fx(sf_dir, "orders_fragmented")
    compacted = _fx(sf_dir, "orders_compacted")
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        o.repartition(64).write.mode("overwrite").parquet(frag)
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        spark.read.parquet(frag).repartition(4).write.mode(
            "overwrite"
        ).parquet(compacted)
    back = spark.read.parquet(compacted)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


ORACLE_COMPACTION = """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       count(DISTINCT o_custkey) AS n_custs
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Datomic :db/noHistory
# ---------------------------------------------------------------------------


def q_eav_nohistory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``:db/noHistory``: attributes flagged noHistory retain
    only their CURRENT fact — superseded values are physically dropped
    at (the analog of) indexing, while normal attributes keep full
    history.  The retained-log profile per attribute proves the split:
    noHistory attrs count == their entity count (one fact each),
    history attrs keep every version.  One window pass keyed (e, a) —
    the same LWW machinery as x4, applied as a retention policy."""
    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        (F.col("event_id") % 9).cast("string").alias("v"),
        F.col("event_id").alias("tx"),
    )
    nohistory = ("view", "click")
    w = Window.partitionBy("e", "a").orderBy(F.col("tx").desc())
    marked = datoms.withColumn("rn", F.row_number().over(w))
    retained = marked.filter(
        (~F.col("a").isin(*nohistory)) | (F.col("rn") == 1)
    )
    return retained.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_retained"),
        F.countDistinct("e").alias("n_entities"),
        F.max("tx").alias("latest_tx"),
    )


ORACLE_NOHISTORY = """
WITH datoms AS (
  SELECT user_id AS e, event_type AS a, CAST(event_id % 9 AS VARCHAR) AS v,
         event_id AS tx,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY event_id DESC) AS rn
  FROM events
)
SELECT a, count(*) AS n_retained, count(DISTINCT e) AS n_entities,
       max(tx) AS latest_tx
FROM datoms
WHERE a NOT IN ('view', 'click') OR rn = 1
GROUP BY a
"""


# ---------------------------------------------------------------------------
# array set-operation suite
# ---------------------------------------------------------------------------


def q_f_array_suite2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array SET operations (intersect/union/except), position lookup
    and nesting flatten — canonicalized by sort before comparison so
    both engines' internal orderings cancel out.  Token arrays per doc
    vs a fixed stop-set; one map stage + bounded rollup."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 53 == 0
    )
    toks = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(x) for x in ("the", "and", "of")])
    return docs.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.array_intersect(F.array_distinct(toks), stop)),
            ",",
        ).alias("stop_hits"),
        F.size(
            F.array_distinct(F.array_union(F.slice(toks, 1, 5), stop))
        ).alias("n_union"),
        F.size(F.array_except(F.array_distinct(toks), stop)).alias(
            "n_content"
        ),
        F.array_position(toks, "the").alias("first_the"),
        F.size(F.flatten(F.array(F.slice(toks, 1, 2), stop))).alias(
            "n_flat"
        ),
    )


ORACLE_F_ARRAY2 = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 53 = 0
)
SELECT doc_id,
       coalesce(array_to_string(
         list_sort(list_intersect(list_distinct(toks),
                                  ['the', 'and', 'of'])), ','), '')
         AS stop_hits,
       len(list_distinct(list_distinct(
           list_concat(toks[1:5], ['the', 'and', 'of'])))) AS n_union,
       len(list_filter(list_distinct(toks),
           x -> NOT list_contains(['the', 'and', 'of'], x))) AS n_content,
       CAST(coalesce(list_position(toks, 'the'), 0) AS BIGINT)
         AS first_the,
       len(flatten([toks[1:2], ['the', 'and', 'of']])) AS n_flat
FROM d
"""




# ---------------------------------------------------------------------------
# exact discrete percentiles (value AT rank, no interpolation)
# ---------------------------------------------------------------------------


def q_a9_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles — the EXACT member value at rank
    ceil(p·n) — per language, computed with one window rank pass and a
    conditional min (no interpolation anywhere, so unlike a6's
    continuous form the result is integer-exact by construction and
    immune to float-division drift).  The form audits and SLA
    reporting want: "the actual p95 document"."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    # rk cast to LONG: row_number() is int32 and rk*100 wraps past
    # ~21M rows per language (the Spearman-rank lesson)
    ranked = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).cast("long").alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("lang"))
        .alias("n"),
    )
    def at(p_num, p_den):
        # value at rank ceil(p*n): smallest n_chars whose rk*den >= n*num
        return F.min(
            F.when(
                F.col("rk") * p_den >= F.col("n") * p_num, F.col("n_chars")
            )
        )

    return ranked.groupBy("lang").agg(
        at(50, 100).alias("p50"),
        at(90, 100).alias("p90"),
        at(95, 100).alias("p95"),
        at(99, 100).alias("p99"),
        F.max("n").alias("n_docs"),
    )


ORACLE_PCT_DISC = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       min(CASE WHEN rk * 100 >= n * 50 THEN n_chars END) AS p50,
       min(CASE WHEN rk * 100 >= n * 90 THEN n_chars END) AS p90,
       min(CASE WHEN rk * 100 >= n * 95 THEN n_chars END) AS p95,
       min(CASE WHEN rk * 100 >= n * 99 THEN n_chars END) AS p99,
       max(n) AS n_docs
FROM ranked GROUP BY lang
"""




# ---------------------------------------------------------------------------
# Datomic composite-tuple attribute (auto-derived, unique-identity upsert)
# ---------------------------------------------------------------------------


def q_eav_tuple_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic composite tuples: a ``:db/tupleAttrs`` attribute is
    auto-derived from its component attributes and, marked
    ``:db.unique/identity``, makes the COMPOSITE the upsert key — "one
    current order per (customer, year)".  The engine derives the tuple
    column in the same scan and resolves identity with one window over
    the tuple (latest tx wins, unique total order).  Output: per
    customer, how many (customer, year) identities exist and the
    surviving orders' checksum — so a wrong tuple derivation or a
    non-composite upsert key shifts the counts.  The tuple is the
    partition key at scale: identity resolution shuffles once on
    exactly the column the store would index."""
    o = load_table(spark, sf_dir, "orders")
    datoms = o.select(
        F.col("o_orderkey").alias("e"),
        F.col("o_custkey").alias("cust"),
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderdate").alias("tx"),
    ).withColumn(
        "tup", F.concat_ws("|", F.col("cust"), F.col("yr"))
    )
    w = Window.partitionBy("tup").orderBy(
        F.col("tx").desc(), F.col("e").desc()
    )
    current = (
        datoms.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return current.groupBy("cust").agg(
        F.count(F.lit(1)).alias("n_identities"),
        F.sum("e").alias("surviving_key_sum"),
        F.min("yr").alias("first_year"),
        F.max("yr").alias("last_year"),
    )


ORACLE_TUPLE_ATTR = """
WITH datoms AS (
  SELECT o_orderkey AS e, o_custkey AS cust,
         CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderdate AS tx,
         row_number() OVER (
           PARTITION BY o_custkey, year(o_orderdate)
           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT cust, count(*) AS n_identities,
       CAST(sum(e) AS BIGINT) AS surviving_key_sum,
       min(yr) AS first_year, max(yr) AS last_year
FROM datoms WHERE rn = 1
GROUP BY cust
"""




# ---------------------------------------------------------------------------
# categorical profiling via exact Gini impurity
# ---------------------------------------------------------------------------


def q_profile_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling with EXACT concentration statistics: for each
    categorical column, distinct count plus Gini impurity as an integer
    numerator/denominator pair (gini = 1 − Σnᵢ²/n² ⇒ num = n² − Σnᵢ²,
    den = n²) — the entropy-class statistic without the float log.
    Long-shape output (one row per column) so adding a column never
    changes the schema.  Two bounded aggs per column over one scan."""
    docs = load_table(spark, sf_dir, "documents")
    outs = []
    for colname in ("lang", "source"):
        counts = docs.groupBy(F.col(colname).alias("v")).agg(
            F.count(F.lit(1)).alias("n_i")
        )
        prof = counts.agg(
            F.lit(colname).alias("column"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("n_i").alias("n_rows"),
            (
                F.sum("n_i") * F.sum("n_i") - F.sum(F.col("n_i") * F.col("n_i"))
            ).alias("gini_num"),
            (F.sum("n_i") * F.sum("n_i")).alias("gini_den"),
            F.max("n_i").alias("mode_count"),
        )
        outs.append(prof)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


ORACLE_PROFILE_GINI = """
WITH l AS (SELECT lang AS v, count(*) AS n_i FROM documents GROUP BY 1),
s AS (SELECT source AS v, count(*) AS n_i FROM documents GROUP BY 1)
SELECT 'lang' AS "column", count(*) AS n_distinct,
       CAST(sum(n_i) AS BIGINT) AS n_rows,
       CAST(sum(n_i) * sum(n_i) - sum(n_i * n_i) AS BIGINT) AS gini_num,
       CAST(sum(n_i) * sum(n_i) AS BIGINT) AS gini_den,
       max(n_i) AS mode_count
FROM l
UNION ALL
SELECT 'source', count(*), CAST(sum(n_i) AS BIGINT),
       CAST(sum(n_i) * sum(n_i) - sum(n_i * n_i) AS BIGINT),
       CAST(sum(n_i) * sum(n_i) AS BIGINT), max(n_i)
FROM s
"""


# ---------------------------------------------------------------------------
# bitwise function suite
# ---------------------------------------------------------------------------


def q_f_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise surface parity (masks, shifts, xor-fold, popcount) —
    the arithmetic under every hash/bloom/sketch operator in the repo,
    pinned directly.  One scan, bounded rollup per status."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.sum(k.bitwiseAND(F.lit(0xFF))).alias("sum_low_byte"),
        F.sum(k.bitwiseOR(F.lit(0x10))).alias("sum_or"),
        F.expr("bit_xor(shiftleft(o_orderkey, 3))").alias("xor_shl3"),
        F.sum(F.shiftright(k, 4)).alias("sum_shr4"),
        F.sum(F.bit_count(k)).alias("popcount_sum"),
        F.count(F.lit(1)).alias("n"),
    )


ORACLE_F_BITWISE = """
SELECT o_orderstatus,
       CAST(sum(o_orderkey & 255) AS BIGINT) AS sum_low_byte,
       CAST(sum(o_orderkey | 16) AS BIGINT) AS sum_or,
       bit_xor(o_orderkey << 3) AS xor_shl3,
       CAST(sum(o_orderkey >> 4) AS BIGINT) AS sum_shr4,
       CAST(sum(bit_count(o_orderkey)) AS BIGINT) AS popcount_sum,
       count(*) AS n
FROM orders GROUP BY o_orderstatus
"""




# ---------------------------------------------------------------------------
# time-weighted / volume-weighted averages (exact numer/denom)
# ---------------------------------------------------------------------------


def q_ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each observation is
    weighted by how long it was current (lead(ts) − ts inside the
    user's sequence — one lag/lead window in a unique order), with
    value in integer micro-units and duration in whole seconds, so the
    TWAP crosses the gate as an exact numerator/denominator pair.  The
    metric that turns an event log into an exposure average (billing,
    risk, utilization).  Window partitions by user; nothing global."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spans = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") * 1000000).cast("long").alias("v_micro"),
            F.lead("ts").over(w).alias("next_ts"),
        )
        .filter(F.col("next_ts").isNotNull())
        .withColumn(
            "dur_s",
            (
                F.unix_timestamp("next_ts") - F.unix_timestamp("ts")
            ).cast("long"),
        )
    )
    return spans.groupBy("user_id").agg(
        F.sum(F.col("v_micro") * F.col("dur_s")).alias("twap_num"),
        F.sum("dur_s").alias("twap_den"),
        F.count(F.lit(1)).alias("n_spans"),
    )


ORACLE_TWAP = """
WITH spans AS (
  SELECT user_id, ts,
         CAST(floor(value * 1000000) AS BIGINT) AS v_micro,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_ts
  FROM events
)
SELECT user_id,
       CAST(sum(v_micro * CAST(date_diff('second', ts, next_ts) AS BIGINT)) AS BIGINT) AS twap_num,
       CAST(sum(CAST(date_diff('second', ts, next_ts) AS BIGINT)) AS BIGINT) AS twap_den,
       count(*) AS n_spans
FROM spans WHERE next_ts IS NOT NULL
GROUP BY user_id
"""


def q_ts_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per ship-day (lineitem):
    Σ(extendedprice)/Σ(quantity) carried as one exact DECIMAL pair —
    map-side-combinable, one scan, calendar-bounded output."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).cast("date").alias("day")
    ).agg(
        # exact decimal sums, DOUBLE boundary (unscaled < 2^53)
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("vwap_num"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("vwap_den"),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_VWAP = """
SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS vwap_num,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS vwap_den,
       count(*) AS n_lines
FROM lineitem GROUP BY 1
"""




# ---------------------------------------------------------------------------
# degree assortativity (exact sufficient statistics over edges)
# ---------------------------------------------------------------------------


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph as EXACT integer
    sufficient statistics: for each edge endpoint pair (dᵤ, dᵥ) —
    counted once per direction, the standard symmetrization — emit
    n, Σx, Σx², Σxy; the Pearson r is one driver-side division away,
    but the data plane never leaves ℤ (the stats_moments discipline
    applied to graph structure).  Shape: degree dim joined twice onto
    the edge list — both joins broadcast at dim scale, hash at fact
    scale; no wedge blowup anywhere."""
    # three consumers (degree agg + two dim joins) — materialize the
    # expensive basket self-join once (the copurchase_triangles lesson)
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dv"))
    pairs = sym.join(du, "u").join(dv, "v")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_endpoints"),
        F.sum("du").alias("sum_x"),
        F.sum(F.col("du") * F.col("du")).alias("sum_x2"),
        F.sum(F.col("du") * F.col("dv")).alias("sum_xy"),
    )


ORACLE_ASSORTATIVITY = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u, count(*) AS deg FROM sym GROUP BY u
)
SELECT count(*) AS n_endpoints,
       CAST(sum(x.deg) AS BIGINT) AS sum_x,
       CAST(sum(x.deg * x.deg) AS BIGINT) AS sum_x2,
       CAST(sum(x.deg * y.deg) AS BIGINT) AS sum_xy
FROM sym JOIN deg x ON sym.u = x.u JOIN deg y ON sym.v = y.u
"""


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------


def q_orders_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    classic fabricated-numbers screen: per leading digit, observed
    count plus the exact χ²-style deviation numerator against Benford
    expectation.  Benford probabilities log₁₀(1+1/d) are irrational, so
    exactness comes from scaling: expected share is carried as a
    PRE-COMPUTED integer per-million constant (same table in both
    engines), making dev = n_total·share_ppm − obs·1 000 000 an exact
    integer.  First digit extracted from integer cents with pure string
    ops — no float log in the data plane."""
    ppm = {
        1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
        6: 66947, 7: 57992, 8: 51153, 9: 45757,
    }
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("obs")
    )
    total = counts.agg(F.sum("obs").alias("n_total"))
    # a literal dim (no scans): the nine-way union over `total` embedded
    # the whole counts subtree per branch just to hang constants on it
    ppm_df = spark.createDataFrame(
        sorted(ppm.items()), "digit int, share_ppm int"
    )
    return (
        counts.join(F.broadcast(ppm_df), "digit")
        .join(F.broadcast(total))
        .select(
            "digit",
            "obs",
            "share_ppm",
            (
                F.col("n_total") * F.col("share_ppm")
                - F.col("obs") * F.lit(1000000)
            ).alias("dev_ppm_num"),
        )
    )


ORACLE_BENFORD = """
WITH ppm(digit, share_ppm) AS (VALUES
  (1,301030),(2,176091),(3,124939),(4,96910),(5,79181),
  (6,66947),(7,57992),(8,51153),(9,45757)
), counts AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                     AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS obs
  FROM orders GROUP BY 1
), t AS (SELECT sum(obs) AS n_total FROM counts)
SELECT c.digit, c.obs, p.share_ppm,
       CAST((SELECT n_total FROM t) * p.share_ppm - c.obs * 1000000 AS BIGINT) AS dev_ppm_num
FROM counts c JOIN ppm p ON c.digit = p.digit
"""


# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# fact-scale twins of the two dim-sized global-window reporting plans
# ---------------------------------------------------------------------------

# above this keyed-row count the window-form reporting queries delegate
# to the rank-boundary plans: one task sorting 5M+ rows three times is
# where the global-window plan's ceiling starts to show (SCALE.md ×100
# row), and the boundary plan is already cheaper at 1.5M
_FACTSCALE_THRESHOLD = 5_000_000


def q_rfm_segments_factscale(
    spark: SparkSession, sf_dir: str, per_cust: DataFrame | None = None
) -> DataFrame:
    """rfm_segments at FACT SCALE: identical output (ORACLE_RFM
    verbatim), no un-partitioned per-row window.  ``ntile(4)`` needs
    only the three tile BOUNDARY tuples per metric; those come from
    operators/relational.exact_rank_boundaries — the two-level prefix
    sum (collapsed bucket domain → bucket-partitioned in-bucket rank)
    — and tile membership is then a map-only lexicographic comparison
    against nine broadcast-literal tuples.  The single count() and the
    9 collected boundary rows are the planner state (the θ/maxscore
    precedent).  This is the plan to default to when the keyed
    relation exceeds dim size (SCALE.md:303 measured the ntile cliff:
    one task sorts 10⁹ customers); rfm_segments keeps the window form
    for the dim-sized reporting tier."""
    from .operators.relational import exact_rank_boundaries, ntile_cut_ranks

    if per_cust is None:  # delegation passes its cached aggregate in
        o = load_table(spark, sf_dir, "orders")
        per_cust = o.groupBy("o_custkey").agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_date"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "monetary"
            ),
        )
    anchor = per_cust.agg(F.max("last_date").alias("anchor"))
    pc = (
        per_cust.join(F.broadcast(anchor))
        .withColumn(
            "recency_days", F.datediff(F.col("anchor"), F.col("last_date"))
        )
        .withColumn("neg_f", (-F.col("frequency")).cast("long"))
        .withColumn(
            "neg_m", (-(F.col("monetary") * 100)).cast("long")
        )
        .localCheckpoint(eager=False)
    )
    ranks = ntile_cut_ranks(pc.count(), 4)

    # days/order-counts collapse hard (tiny domains); cents need wide
    # buckets so the bucket domain stays value-range-bounded.  The
    # three metrics' boundary probes union into ONE job (9 rows out).
    parts = []
    for tag, col, bits in (
        ("r", "recency_days", 2),
        ("f", "neg_f", 2),
        ("m", "neg_m", 20),
    ):
        parts.append(
            exact_rank_boundaries(
                pc, col, "o_custkey", ranks, bucket_bits=bits
            ).withColumn("metric", F.lit(tag))
        )
    rows = parts[0].unionByName(parts[1]).unionByName(parts[2]).collect()
    by = {(r.metric, r["rank"]): (r.sv, r.idv) for r in rows}
    b_r = [by[("r", r)] for r in ranks]
    b_f = [by[("f", r)] for r in ranks]
    b_m = [by[("m", r)] for r in ranks]

    def tile(sv_col: str, bs: list[tuple[int, int]]) -> F.Column:
        e = F.lit(1)
        for bsv, bid in bs:
            after = (F.col(sv_col) > F.lit(bsv)) | (
                (F.col(sv_col) == F.lit(bsv))
                & (F.col("o_custkey") > F.lit(bid))
            )
            e = e + after.cast("int")
        return e

    tiled = pc.select(
        "o_custkey",
        "monetary",
        tile("recency_days", b_r).alias("r_tile"),
        tile("neg_f", b_f).alias("f_tile"),
        tile("neg_m", b_m).alias("m_tile"),
    )
    return tiled.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("double").alias("segment_spend"),
    )


def q_orders_abc_factscale(
    spark: SparkSession, sf_dir: str, per_cust: DataFrame | None = None
) -> DataFrame:
    """orders_abc_pareto at FACT SCALE: identical output (ORACLE_ABC
    verbatim), the global running-total window replaced by the same
    two-level prefix sum.  Rows bucket by spend rank order
    (-cents >> 20); the cumulative spend of WHOLE buckets runs over
    the collapsed bucket domain; a bucket is wholly A when even its
    last row's running total is ≤ 80% (cum_below + bucket_sum vs the
    threshold), wholly C when even its first row's is past 95%
    (cum_below alone suffices: totals are strictly positive), wholly B
    between — and only the ≤ 2 boundary-crossing buckets compute
    per-row running totals, inside a bucket-PARTITIONED window with
    the bucket's carry-in.  total_cents rides driver-side (1 row, the
    planner's θ)."""
    if per_cust is None:  # delegation passes its cached aggregate in
        o = load_table(spark, sf_dir, "orders")
        per_cust = o.groupBy("o_custkey").agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("cents")
        ).localCheckpoint(eager=False)
    total = per_cust.agg(F.sum("cents")).collect()[0][0]
    b = per_cust.withColumn(
        "bkt", F.shiftright(-F.col("cents"), 20)
    )
    per = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("c"), F.sum("cents").alias("s")
    )
    wb = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per.withColumn(
        "cum_below", F.coalesce(F.sum("s").over(wb), F.lit(0))
    ).localCheckpoint(eager=False)
    # bucket-level classification; NULL marks a boundary bucket
    whole = cum.withColumn(
        "bclass",
        F.when((F.col("cum_below") + F.col("s")) * 100 <= total * 80, "A")
        .when(
            (F.col("cum_below") * 100 >= total * 80)
            & ((F.col("cum_below") + F.col("s")) * 100 <= total * 95),
            "B",
        )
        .when(F.col("cum_below") * 100 >= total * 95, "C"),
    )
    settled = b.join(
        F.broadcast(whole.filter(F.col("bclass").isNotNull())), "bkt"
    ).select("o_custkey", "cents", F.col("bclass").alias("abc"))
    boundary = b.join(
        F.broadcast(
            whole.filter(F.col("bclass").isNull()).select(
                "bkt", "cum_below"
            )
        ),
        "bkt",
    )
    wr = (
        Window.partitionBy("bkt")
        .orderBy(F.col("cents").desc(), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    exact = boundary.withColumn(
        "cum_cents", F.col("cum_below") + F.sum("cents").over(wr)
    ).select(
        "o_custkey",
        "cents",
        F.when(F.col("cum_cents") * 100 <= total * 80, "A")
        .when(F.col("cum_cents") * 100 <= total * 95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return (
        settled.unionByName(exact)
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("class_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


REGISTRY = (
    (q_ivm_join_delta, ORACLE_IVM_JOIN),
    (q_eav_tx_log, ORACLE_EAV_TX_LOG),
    (q_ts_seasonal_forecast, ORACLE_SEASONAL),
    (q_eav_tx_metadata, ORACLE_EAV_TX_META),
    (q_fixedwidth_source, ORACLE_FIXEDWIDTH),
    (q_eav_lookup_ref, ORACLE_EAV_LOOKUP_REF),
    (q_f_regex_suite, ORACLE_F_REGEX),
    (q_f_interval_suite, ORACLE_F_INTERVAL),
    (q_text_quality_logit, ORACLE_QUALITY_LOGIT),
    (q_csv_multiline_roundtrip, ORACLE_CSV_MULTILINE),
    (q_stats_chi_square, ORACLE_CHI_SQUARE),
    (q_mv_reuse_rollup, ORACLE_MV_REUSE),
    (q_orders_skyline, ORACLE_SKYLINE),
    (q_u6_setops_all, ORACLE_U6_SETOPS),
    (q_f_window_suite2, ORACLE_F_WINDOW2),
    (q_eav_schema_alter, ORACLE_SCHEMA_ALTER),
    (q_shard_manifest, ORACLE_SHARD_MANIFEST),
    (q_ivm_delta_merge, ORACLE_IVM),
    (q_eav_bitemporal, ORACLE_BITEMPORAL),
    (q_events_markov_transitions, ORACLE_MARKOV),
    (q_orders_abc_pareto, ORACLE_ABC),
    (q_sink_compaction_roundtrip, ORACLE_COMPACTION),
    (q_eav_nohistory, ORACLE_NOHISTORY),
    (q_f_array_suite2, ORACLE_F_ARRAY2),
    (q_a9_percentile_disc, ORACLE_PCT_DISC),
    (q_eav_tuple_attr, ORACLE_TUPLE_ATTR),
    (q_profile_gini, ORACLE_PROFILE_GINI),
    (q_f_bitwise_suite, ORACLE_F_BITWISE),
    (q_ts_twap, ORACLE_TWAP),
    (q_ts_vwap, ORACLE_VWAP),
    (q_graph_assortativity, ORACLE_ASSORTATIVITY),
    (q_orders_benford, ORACLE_BENFORD),
    (q_sql_recursive_cte, SQL_RECURSIVE_CTE),
    (q_assoc_rules, ORACLE_ASSOC),
    (q_rfm_segments, ORACLE_RFM),
    (q_rfm_segments_factscale, ORACLE_RFM),
    (q_orders_abc_factscale, ORACLE_ABC),
    (q_stats_ab_test, ORACLE_AB_TEST),
    (q_ts_ohlc_bars, ORACLE_OHLC),
    (q_graph_kcore, ORACLE_KCORE),
    (q_f_aggorder_suite, ORACLE_AGGORDER),
)
