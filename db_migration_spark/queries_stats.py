"""Statistical-test, regression, and graph-metric declared queries.

Eighth-wave surface: the classical analyst statistics the reference's
downstream QA consumers compute off-engine today (SURVEY §1.3's
"report" tier, runcommand.py:221-255 exports feed spreadsheets), done
in-engine as exact integer/decimal arithmetic so every query crosses
the DuckDB gate bit-for-bit:

* **Spearman rank correlation** — ``stats_spearman``: per-nation rank
  correlation between a customer's order count and total spend.  Ranks
  are a permutation (ties broken by custkey: a unique total order), so
  rho = 1 − 6·Σd²/(n(n²−1)) has exact BIGINT numerator/denominator.
* **OLS regression** — ``stats_linreg``: per-returnflag slope of
  extendedprice on quantity via exact sufficient statistics in cents
  (n, Σx, Σy, Σxy, Σx²) — one map-side-combinable aggregate, slope as
  a DECIMAL(38,0) numerator/denominator pair.
* **Mann-Whitney U** — ``stats_mann_whitney``: URGENT vs non-URGENT
  order values per market segment.  Computed on the *distinct-value*
  aggregate (counts per value, cumulative-below window over distinct
  values only) — the 100 TB-safe shape: no per-row global rank; the
  window runs over the collapsed value domain.  Tie handling is the
  average-rank convention kept exact by carrying 2·R₁ (always an
  integer: 2·avgrank = 2·cum_below + c_all + 1 per tie group).
* **Local clustering coefficient** — ``graph_clustering_coeff``:
  per-node triangle counts from the degree-ordered oriented wedge join
  (same O(m^1.5) bound as copurchase_triangles), coefficient as the
  exact pair (2·tri, deg·(deg−1)) plus a ppm integer-division ratio.
* **Jaccard link prediction** — ``graph_jaccard_linkpred``: common
  neighbours of non-adjacent part pairs, Jaccard = cn/(d_u+d_w−cn) as
  an exact ppm via integer division.  Wedge enumeration is inherent to
  exact CN (Σ C(d_c,2) work) — a ``max_center_degree`` valve caps hub
  centers at scale, disabled here so the oracle matches exactly.
* **Trailing EWMA** — ``ts_ewma``: dyadic-weight (α=1/2) trailing
  8-point exponential average per user as an exact scaled-integer
  numerator/denominator pair (weights 2^k: the halving-decay EWMA is
  representable exactly; no float recurrence).
* **Rolling correlation** — ``ts_rolling_corr``: 24-hour rolling
  Pearson correlation between hourly view and purchase counts via
  integer sufficient statistics (counts are integers, so nΣxy − ΣxΣy
  and the variance numerators are exact BIGINTs).  The window runs
  over the *aggregated* hourly series — tiny regardless of raw scale.

No counterpart files exist in the reference (it ships these numbers to
spreadsheets); parity anchor is SURVEY §2.4/§2.7's aggregate+window
surface these reduce to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .queries_shared import _melted_lineitem


# ---------------------------------------------------------------------------
# Spearman rank correlation (per nation)
# ---------------------------------------------------------------------------


def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rho between order count and spend (cents).

    Both rank assignments use (metric, custkey) — a unique total order —
    so ranks are permutations and the classic d²-formula applies with no
    tie correction; numerator n(n²−1) − 6Σd² and denominator n(n²−1)
    are exact BIGINTs.  Windows partition by nation; at 100 TB the rank
    assignment inside a giant partition would move to the two-pass
    repartitionByRange + offset pattern (operators/corpus.py dense_ids),
    which computes identical ranks distributively."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
                "spend_cents"
            ),
        )
        .join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"), "c_nationkey"
            ),
            "o_custkey",
        )
    )
    wx = Window.partitionBy("c_nationkey").orderBy("n_orders", "o_custkey")
    wy = Window.partitionBy("c_nationkey").orderBy(
        "spend_cents", "o_custkey"
    )
    # ranks cast to LONG before differencing: row_number() is int32 and
    # (rx-ry)^2 wraps (or ANSI-faults) past |d| = 46340 — reachable at
    # fact-scale nation partitions; the oracle's BIGINT ranks never wrap
    ranked = per_cust.select(
        "c_nationkey",
        F.row_number().over(wx).cast("long").alias("rx"),
        F.row_number().over(wy).cast("long").alias("ry"),
    )
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum(d2).cast("long").alias("sum_d2")
    )
    nn = F.col("n").cast("long") * (
        F.col("n").cast("long") * F.col("n") - 1
    )
    return agg.select(
        "c_nationkey",
        "n",
        "sum_d2",
        (nn - 6 * F.col("sum_d2")).alias("rho_num"),
        nn.alias("rho_den"),
    )


ORACLE_SPEARMAN = """
WITH per_cust AS (
  SELECT c_nationkey, o_custkey,
         count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_nationkey, o_custkey
), ranked AS (
  SELECT c_nationkey,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY n_orders, o_custkey) AS rx,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY spend_cents, o_custkey) AS ry
  FROM per_cust
)
SELECT c_nationkey,
       count(*) AS n,
       CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
       CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) * count(*) - 1)
         - 6 * CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS rho_num,
       CAST(count(*) AS BIGINT) * (CAST(count(*) AS BIGINT) * count(*) - 1)
         AS rho_den
FROM ranked GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# OLS slope via exact sufficient statistics
# ---------------------------------------------------------------------------


def q_stats_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS slope of extendedprice (cents) on quantity
    (centi-units): ONE hash aggregate of five sufficient statistics —
    the map-side-combinable regression shape (each partial carries 5
    numbers; no second pass, no float accumulation-order wobble).
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) emitted as a DECIMAL(38,0)
    numerator/denominator pair."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_quantity") * 100).cast("decimal(38,0)")
    y = F.floor(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("decimal(38,0)").alias("sx"),
        F.sum(y).cast("decimal(38,0)").alias("sy"),
        F.sum(x * y).cast("decimal(38,0)").alias("sxy"),
        F.sum(x * x).cast("decimal(38,0)").alias("sx2"),
    )
    # boundary types: linear cent-sums fit BIGINT at any realistic scale
    # and cross as such; the second-order numerators ride DECIMAL(38,0)
    # internally and cross as canonical decimal STRINGS — exact at any
    # width, and the one client encoding every engine agrees on
    # (decimal client canonicalization is engine-specific: DuckDB's
    # float64 vs Spark's Decimal objects)
    n = F.col("n").cast("decimal(38,0)")
    return agg.select(
        "l_returnflag",
        "n",
        F.col("sx").cast("bigint").alias("sx"),
        F.col("sy").cast("bigint").alias("sy"),
        (n * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("slope_num"),
        (n * F.col("sx2") - F.col("sx") * F.col("sx"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("slope_den"),
    )


ORACLE_LINREG = """
WITH pts AS (
  SELECT l_returnflag,
         CAST(floor(l_quantity * 100) AS DECIMAL(38,0)) AS x,
         CAST(floor(l_extendedprice * 100) AS DECIMAL(38,0)) AS y
  FROM lineitem
), s AS (
  SELECT l_returnflag, count(*) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sx2
  FROM pts GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
       CAST(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DECIMAL(38,0))
         AS VARCHAR) AS slope_num,
       CAST(CAST(CAST(n AS DECIMAL(38,0)) * sx2 - sx * sx AS DECIMAL(38,0))
         AS VARCHAR) AS slope_den
FROM s
"""


# ---------------------------------------------------------------------------
# Mann-Whitney U on the distinct-value aggregate
# ---------------------------------------------------------------------------


def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum of URGENT vs non-URGENT order values per
    market segment, computed WITHOUT per-row ranks: aggregate to counts
    per distinct value first, then one cumulative window over the
    collapsed value domain.  2·R₁ = Σ_values c_a·(2·cum_below + c_all
    + 1) (average-rank tie convention, doubled to stay integral);
    2·U₁ = 2·R₁ − n₁(n₁+1).  The heavy input collapses in a hash
    aggregate before any window — the rank statistic at 100 TB without
    a global sort of raw rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    vals = (
        orders.join(
            cust.select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .select(
            "c_mktsegment",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
            (F.col("o_orderpriority") == "1-URGENT").cast("long").alias(
                "is_a"
            ),
        )
        .groupBy("c_mktsegment", "v")
        .agg(
            F.count(F.lit(1)).alias("c_all"),
            F.sum("is_a").alias("c_a"),
        )
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.withColumn(
        "cum_below", F.coalesce(F.sum("c_all").over(w), F.lit(0))
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.sum("c_a").alias("n1"),
        (F.sum("c_all") - F.sum("c_a")).alias("n2"),
        F.sum(
            F.col("c_a")
            * (2 * F.col("cum_below") + F.col("c_all") + 1)
        ).alias("r1_x2"),
    )
    return agg.select(
        "c_mktsegment",
        "n1",
        "n2",
        "r1_x2",
        (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).alias("u1_x2"),
    )


ORACLE_MANN_WHITNEY = """
WITH vals AS (
  SELECT c_mktsegment,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
         count(*) AS c_all,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_a
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, CAST(floor(o_totalprice * 100) AS BIGINT)
), ranked AS (
  SELECT *, COALESCE(sum(c_all) OVER (PARTITION BY c_mktsegment ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_below
  FROM vals
), agg AS (
  SELECT c_mktsegment,
         CAST(sum(c_a) AS BIGINT) AS n1,
         CAST(sum(c_all) - sum(c_a) AS BIGINT) AS n2,
         CAST(sum(c_a * (2 * cum_below + c_all + 1)) AS BIGINT) AS r1_x2
  FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment, n1, n2, r1_x2,
       r1_x2 - n1 * (n1 + 1) AS u1_x2
FROM agg
"""


# ---------------------------------------------------------------------------
# local clustering coefficient (degree-ordered triangle enumeration)
# ---------------------------------------------------------------------------


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (lo < hi) co-purchase edge list — the same edge builder
    as copurchase_triangles (queries_tpch_ext.py)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("x"), li.alias("y")
    return (
        a.join(
            # fact-scale on BOTH sides: pin a shuffled hash join so the
            # basket stream is never broadcast (×100 scale find)
            b.hint("shuffle_hash"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").alias("lo"),
            F.col("y.l_partkey").alias("hi"),
        )
        .distinct()
    )


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by local clustering coefficient 2·tri/(d(d−1)).

    Per-node triangle counts come from the degree-ordered oriented wedge
    join (O(m^1.5) like copurchase_triangles) — each triangle is found
    once as (src, wa, wb) and credited to all three corners via one
    explode.  The coefficient crosses the gate as the exact pair
    (2·tri, d(d−1)) plus cc_ppm = (2·tri·10⁶) div (d(d−1)) — integer
    division, identical in both engines — which also gives the
    deterministic ordering."""
    und = _copurchase_edges(spark, sf_dir)
    deg = (
        und.select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # node- and edge-scale relations grow with the graph: pin shuffled hash
    # joins so no side is ever broadcast (found at the ×100 scale run —
    # AQE's size estimate let the edge list slip under the 64 MiB broadcast
    # threshold and the deserialized build blew the driver; at 100 TB
    # broadcasting any graph-scale relation is never the right plan)
    e = und.join(
        deg.select(F.col("node").alias("lo"), F.col("d").alias("d_lo")).hint(
            "shuffle_hash"
        ),
        "lo",
    ).join(
        deg.select(F.col("node").alias("hi"), F.col("d").alias("d_hi")).hint(
            "shuffle_hash"
        ),
        "hi",
    )
    lo_first = F.struct(F.col("d_lo"), F.col("lo")) < F.struct(
        F.col("d_hi"), F.col("hi")
    )
    oriented = e.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
        F.when(lo_first, F.col("d_hi")).otherwise(F.col("d_lo")).alias(
            "dst_d"
        ),
    ).localCheckpoint(eager=False)  # three references below —
    # materialized once at first action (lazily: no job at construction)
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    tri_triples = (
        o1.join(
            o2.hint("shuffle_hash"),  # edge-scale: never broadcast
            (F.col("o1.src") == F.col("o2.src"))
            & (
                F.struct(F.col("o1.dst_d"), F.col("o1.dst"))
                < F.struct(F.col("o2.dst_d"), F.col("o2.dst"))
            ),
        )
        .select(
            F.col("o1.src").alias("a"),
            F.col("o1.dst").alias("wa"),
            F.col("o2.dst").alias("wb"),
        )
        .join(
            o3.hint("shuffle_hash"),  # edge-scale: never broadcast
            (F.col("wa") == F.col("o3.src"))
            & (F.col("wb") == F.col("o3.dst")),
            "left_semi",
        )
    )
    tri_per_node = (
        tri_triples.select(
            F.explode(F.array("a", "wa", "wb")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    dd = F.col("d").cast("long") * (F.col("d") - 1)
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri_per_node, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
            "d",
            F.expr(
                "(2 * coalesce(tri, 0) * 1000000)"
                " div (CAST(d AS BIGINT) * (d - 1))"
            ).alias("cc_ppm"),
        )
        .orderBy(F.desc("cc_ppm"), F.desc("tri"), F.asc("node"))
        .limit(20)
    )


ORACLE_CLUSTERING = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi FROM edges
  ) GROUP BY node
), tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM edges e1
  JOIN edges e2 ON e1.hi = e2.lo
  JOIN edges e3 ON e1.lo = e3.lo AND e2.hi = e3.hi
), tpn AS (
  SELECT node, count(*) AS tri FROM (
    SELECT a AS node FROM tri UNION ALL
    SELECT b FROM tri UNION ALL
    SELECT c FROM tri
  ) GROUP BY node
)
SELECT deg.node,
       CAST(COALESCE(tpn.tri, 0) AS BIGINT) AS tri,
       deg.d,
       (2 * COALESCE(tpn.tri, 0) * 1000000)
         // (CAST(deg.d AS BIGINT) * (deg.d - 1)) AS cc_ppm
FROM deg LEFT JOIN tpn ON deg.node = tpn.node
WHERE deg.d >= 2
ORDER BY cc_ppm DESC, tri DESC, deg.node ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Jaccard link prediction (common neighbours of non-adjacent pairs)
# ---------------------------------------------------------------------------


def q_graph_jaccard_linkpred(
    spark: SparkSession,
    sf_dir: str,
    max_center_degree: int | None = 64,
) -> DataFrame:
    """Top-20 predicted links: non-adjacent part pairs ranked by exact
    Jaccard neighbourhood overlap cn/(d_u + d_w − cn), carried as a ppm
    integer division so ordering needs no float.

    The ``max_center_degree`` hub valve (default 64) is ON in the
    declared query AND replicated verbatim in the oracle, so the gate
    stays exact: common neighbours are counted via non-hub centers only
    (the standard link-prediction practice — super-connector centers
    carry no signal and quadratic cost), while the Jaccard denominator
    keeps FULL degrees.  Unset it for the uncapped statistic.

    Exact common-neighbour counting inherently enumerates wedges
    (Σ_c C(d_c, 2)); at 100 TB the ``max_center_degree`` valve drops
    hub centers (the max_df idiom from dedup_ngram_jaccard) — unset
    here so the DuckDB oracle is reproduced exactly.  The candidate
    shuffle carries only (u, w) id pairs; adjacency is removed with a
    broadcast-able anti-join on the canonical edge list."""
    und = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = und.select(
        F.col("lo").alias("c"), F.col("hi").alias("nbr")
    ).unionAll(und.select(F.col("hi").alias("c"), F.col("lo").alias("nbr")))
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    # wedge enumeration WITHOUT a self-join: collect each center's sorted
    # neighbour list in one exchange, then explode the C(d,2) pairs with
    # a codegen comprehension — the wedge row count is identical but the
    # second shuffle of adj and the join machinery disappear (measured
    # 56 s -> ~20 s at ×10)
    nbrs = adj.groupBy("c").agg(
        F.sort_array(F.collect_list("nbr")).alias("ns")
    )
    if max_center_degree is not None:
        nbrs = nbrs.filter(F.size("ns") <= max_center_degree)
    pairs = nbrs.select(
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) ->"
                " transform(slice(ns, i + 2, size(ns) - i - 1),"
                "           y -> struct(x AS u, y AS w))))"
            )
        ).alias("p")
    ).select("p.u", "p.w")
    cn = (
        pairs.groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(
            und,
            (F.col("u") == F.col("lo")) & (F.col("w") == F.col("hi")),
            "left_anti",
        )
    )
    scored = (
        cn.join(deg.select(F.col("c").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("c").alias("w"), F.col("d").alias("dw")), "w")
        .select(
            "u",
            "w",
            "cn",
            (F.col("du") + F.col("dw") - F.col("cn")).alias("union_d"),
            F.expr("(cn * 1000000) div (du + dw - cn)").alias("jac_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("jac_ppm"), F.desc("cn"), F.asc("u"), F.asc("w")
    ).limit(20)


ORACLE_JACCARD_LP = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), adj AS (
  SELECT lo AS c, hi AS nbr FROM edges
  UNION ALL SELECT hi, lo FROM edges
), deg AS (
  SELECT c, count(*) AS d FROM adj GROUP BY c
), small_adj AS (
  -- the max_center_degree = 64 hub valve, replicated from the query
  SELECT a.* FROM adj a JOIN deg ON a.c = deg.c WHERE deg.d <= 64
), cn AS (
  SELECT p.nbr AS u, q.nbr AS w, count(*) AS cn
  FROM small_adj p JOIN small_adj q ON p.c = q.c AND p.nbr < q.nbr
  GROUP BY p.nbr, q.nbr
), nonadj AS (
  SELECT cn.* FROM cn
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.lo = cn.u AND e.hi = cn.w
  )
)
SELECT n.u, n.w, CAST(n.cn AS BIGINT) AS cn,
       CAST(du.d + dw.d - n.cn AS BIGINT) AS union_d,
       (n.cn * 1000000) // (du.d + dw.d - n.cn) AS jac_ppm
FROM nonadj n
JOIN deg du ON du.c = n.u
JOIN deg dw ON dw.c = n.w
ORDER BY jac_ppm DESC, cn DESC, u ASC, w ASC
LIMIT 20
"""


def q_stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    standard drift monitor a data pipeline runs between yesterday's
    and today's crawl (PSI = Σ_bins (p−q)·ln(p/q); > 0.2 is the
    conventional "investigate" line).  Snapshots here are the
    deterministic even/odd doc_id split; features are the language
    distribution and the 500-char length bin.

    Exactness: counts are add-one-smoothed exact integers; each bin's
    PSI term is quantized ONCE to nano-units from the single IEEE
    expression ((c/N_c) − (r/N_r)) · ln((c·N_r)/(r·N_c)) of those
    integers, so per-bin rows AND any downstream total are associative
    BIGINT sums.  Plan: one corpus pass per feature to a ≤|bins|-row
    conditional-sum aggregate (ref/cur counts ride the same shuffle —
    the DSIR fit shape); totals re-aggregate the bin frame.  At 100 TB
    the output is bounded by the feature cardinality at any volume."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("doc_id") % 2 == 0).alias("is_ref"),
    )

    def feature_psi(df: DataFrame, feat_name: str, bin_col) -> DataFrame:
        # NULL feature values are ONE bin, named explicitly so the
        # cross-engine sort/compare never depends on NULL ordering
        binned = df.select(
            F.lit(feat_name).alias("feature"),
            F.coalesce(bin_col.cast("string"), F.lit("(null)")).alias(
                "bin"
            ),
            "is_ref",
        )
        stats = binned.groupBy("feature", "bin").agg(
            (
                F.sum(F.when(F.col("is_ref"), 1).otherwise(0)) + F.lit(1)
            ).alias("ref_n"),
            (
                F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)) + F.lit(1)
            ).alias("cur_n"),
        )
        tot = stats.agg(
            F.sum("ref_n").alias("ref_tot"), F.sum("cur_n").alias("cur_tot")
        )
        return stats.join(F.broadcast(tot)).select(
            "feature",
            "bin",
            (F.col("ref_n") - F.lit(1)).alias("ref_n"),
            (F.col("cur_n") - F.lit(1)).alias("cur_n"),
            F.floor(
                F.lit(1e9)
                * (
                    F.col("cur_n").cast("double")
                    / F.col("cur_tot").cast("double")
                    - F.col("ref_n").cast("double")
                    / F.col("ref_tot").cast("double")
                )
                * F.log(
                    (F.col("cur_n").cast("double") * F.col("ref_tot").cast("double"))
                    / (F.col("ref_n").cast("double") * F.col("cur_tot").cast("double"))
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_nano"),
        )

    out = feature_psi(docs, "lang", F.col("lang")).unionByName(
        feature_psi(docs, "len500", F.floor(F.col("n_chars") / 500))
    )
    return out.orderBy("feature", "bin")


# totals are summed over the SMOOTHED per-bin stats frame (never a
# separate corpus pass with its own NULL-bin semantics) — bit-identical
# to the Spark side, which aggregates stats then re-sums the bin frame
_PSI_FEAT_SQL = """
stats_{src} AS (
  SELECT feature, bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) + 1 AS BIGINT)
           AS ref_n,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) + 1 AS BIGINT)
           AS cur_n
  FROM {src} GROUP BY 1, 2
),
psi_{src} AS (
  -- inner scope computes the term from the SMOOTHED columns; the
  -- outer scope renames to the raw counts, so no output alias ever
  -- shadows a column the term expression reads (lateral-alias
  -- precedence differs between engines)
  SELECT feature, bin, ref_s - 1 AS ref_n, cur_s - 1 AS cur_n, term_nano
  FROM (
    SELECT feature, bin, ref_n AS ref_s, cur_n AS cur_s,
           CAST(floor(1e9 *
               (cur_n::DOUBLE / cur_tot::DOUBLE
                - ref_n::DOUBLE / ref_tot::DOUBLE)
               * ln((cur_n::DOUBLE * ref_tot::DOUBLE)
                    / (ref_n::DOUBLE * cur_tot::DOUBLE))
               + 0.5) AS BIGINT) AS term_nano
    FROM stats_{src} CROSS JOIN (
      SELECT CAST(sum(ref_n) AS BIGINT) AS ref_tot,
             CAST(sum(cur_n) AS BIGINT) AS cur_tot
      FROM stats_{src}
    ) t
  )
)
"""

ORACLE_PSI = (
    """
WITH base AS (
  SELECT doc_id, lang, n_chars, doc_id % 2 = 0 AS is_ref FROM documents
),
langf AS (
  SELECT 'lang' AS feature,
         coalesce(CAST(lang AS VARCHAR), '(null)') AS bin, is_ref
  FROM base
),
lenf AS (
  SELECT 'len500' AS feature,
         coalesce(CAST(CAST(floor(n_chars / 500) AS BIGINT) AS VARCHAR),
                  '(null)') AS bin,
         is_ref
  FROM base
),
"""
    + _PSI_FEAT_SQL.format(src="langf")
    + ","
    + _PSI_FEAT_SQL.format(src="lenf")
    + """
SELECT * FROM psi_langf UNION ALL
SELECT * FROM psi_lenf
ORDER BY feature, bin
"""
)


# ---------------------------------------------------------------------------
# stats_permutation_fdr — seeded permutation tests + Benjamini–Hochberg
# ---------------------------------------------------------------------------

_PERM_B = 32       # permutations per test (cost bound: B × rows, map-only)
_FDR_ALPHA_MILLI = 100  # α = 0.10 in milli-units


def q_stats_permutation_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing at scale: per event_type, a PERMUTATION test of
    "does mean(value) differ between even- and odd-user_id traffic?",
    then Benjamini–Hochberg step-up across the m tests.  Everything is
    integer-exact and seeded, so the DuckDB oracle replays it bit for
    bit:

    * test statistic T = |n1·S0 − n0·S1| in cents-scaled integers
      (= n0·n1·|mean0 − mean1|, no division);
    * permutation b relabels each row by the parity of the first 8 md5
      hex digits of 'perm:b:event_id' — the standard randomization
      test, B = 32 draws, p̂_micro = floor((1 + #{T_b ≥ T})·10⁶/(B+1))
      (the add-one estimator, never zero);
    * BH: reject tests with rank r (p ascending, ties by name) where
      some r' ≥ r has m·p_(r') ≤ r'·α — the step-up computed with a
      reversed running max over the m-row collapsed frame.

    Scale shape: the permutation frame is rows × B but map-only into a
    (event_type, b) hash aggregate — no window, no shuffle beyond
    m·(B+1) aggregate rows; BH itself runs on m rows.  Cost is bounded
    by B, chosen per budget.  No counterpart in the reference; extends
    the §2.12 classical-stats family to multiple-testing control."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type",
        "event_id",
        (F.col("user_id") % 2).cast("int").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )

    def stat(df: DataFrame, label) -> DataFrame:
        agg = df.groupBy(*df.columns[:1] if False else ["event_type"]).agg(
            F.sum(F.when(label == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(label == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(label == 0, F.col("cents")).otherwise(0)).alias(
                "s0"
            ),
            F.sum(F.when(label == 1, F.col("cents")).otherwise(0)).alias(
                "s1"
            ),
        )
        return agg.select(
            "event_type",
            F.abs(
                F.col("n1") * F.col("s0") - F.col("n0") * F.col("s1")
            ).alias("t"),
        )

    obs = stat(rows, F.col("g"))
    b = rows.crossJoin(
        F.broadcast(
            spark.range(1, _PERM_B + 1).select(F.col("id").alias("b"))
        )
    )
    perm_label = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("perm"),
                        F.col("b").cast("string"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    perm = (
        b.groupBy("event_type", "b")
        .agg(
            F.sum(F.when(perm_label == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(perm_label == 1, 1).otherwise(0)).alias("n1"),
            F.sum(
                F.when(perm_label == 0, F.col("cents")).otherwise(0)
            ).alias("s0"),
            F.sum(
                F.when(perm_label == 1, F.col("cents")).otherwise(0)
            ).alias("s1"),
        )
        .select(
            "event_type",
            F.abs(
                F.col("n1") * F.col("s0") - F.col("n0") * F.col("s1")
            ).alias("tb"),
        )
    )
    p = (
        perm.join(F.broadcast(obs), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("tb") >= F.col("t"), 1).otherwise(0)
            ).alias("n_ge")
        )
        .select(
            "event_type",
            F.floor(
                (F.lit(1) + F.col("n_ge"))
                * 1000000
                / F.lit(_PERM_B + 1)
            )
            .cast("long")
            .alias("p_micro"),
        )
    )
    m = F.count(F.lit(1)).over(Window.partitionBy())
    wr = Window.orderBy("p_micro", "event_type")
    ranked = p.select(
        "event_type",
        "p_micro",
        F.row_number().over(wr).cast("long").alias("rank"),
        m.alias("m"),
    )
    # BH step-up: ok(r) = [m·p_(r)·1000 <= r·α_milli·10⁶]; significant
    # iff ANY r' >= r has ok(r') — a reversed running max on m rows
    ok = (
        F.col("m") * F.col("p_micro") * 1000
        <= F.col("rank") * _FDR_ALPHA_MILLI * 1000000
    ).cast("int")
    wrev = Window.orderBy(F.desc("rank")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return ranked.select(
        "event_type",
        "p_micro",
        "rank",
        (F.max(ok).over(wrev) == 1).alias("significant"),
    )


def _perm_fdr_oracle() -> str:
    return f"""
WITH rows_ AS (
  SELECT event_type, event_id,
         CAST(user_id % 2 AS INTEGER) AS g,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
), obs AS (
  SELECT event_type,
         abs(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
             * sum(CASE WHEN g = 0 THEN cents ELSE 0 END)
             - sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
             * sum(CASE WHEN g = 1 THEN cents ELSE 0 END)) AS t
  FROM rows_ GROUP BY 1
), perm AS (
  SELECT event_type, b,
         abs(sum(CASE WHEN pl = 1 THEN 1 ELSE 0 END)
             * sum(CASE WHEN pl = 0 THEN cents ELSE 0 END)
             - sum(CASE WHEN pl = 0 THEN 1 ELSE 0 END)
             * sum(CASE WHEN pl = 1 THEN cents ELSE 0 END)) AS tb
  FROM (
    SELECT r.event_type, r.cents, bb.b,
           CAST(('0x' || substr(md5('perm:' || CAST(bb.b AS VARCHAR)
                 || ':' || CAST(r.event_id AS VARCHAR)), 1, 8))::UBIGINT
                % 2 AS INTEGER) AS pl
    FROM rows_ r CROSS JOIN (SELECT unnest(range(1, {_PERM_B + 1})) AS b) bb
  ) GROUP BY 1, 2
), p AS (
  SELECT perm.event_type,
         CAST(floor((1 + sum(CASE WHEN tb >= t THEN 1 ELSE 0 END))
              * 1000000 / {_PERM_B + 1}) AS BIGINT) AS p_micro
  FROM perm JOIN obs ON perm.event_type = obs.event_type
  GROUP BY 1
), ranked AS (
  SELECT event_type, p_micro,
         CAST(row_number() OVER (ORDER BY p_micro, event_type) AS BIGINT)
             AS rank,
         count(*) OVER () AS m
  FROM p
)
SELECT event_type, p_micro, rank,
       max(CASE WHEN m * p_micro * 1000
                     <= rank * {_FDR_ALPHA_MILLI} * 1000000
                THEN 1 ELSE 0 END)
           OVER (ORDER BY rank DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
           AS significant
FROM ranked
"""


ORACLE_PERM_FDR = _perm_fdr_oracle()


# ---------------------------------------------------------------------------
# Datomic-style attribute statistics over the datom store
# ---------------------------------------------------------------------------


def q_eav_attr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-attribute index statistics over the melted datom store — the
    Datomic ``db.stats``/attribute-cardinality surface (datom count,
    distinct entities, distinct values, value range) a query planner
    reads before choosing an index walk.

    Two distincts in one groupBy would compile to an Expand (3× the
    datom stream through one shuffle — measured 126 s at ×100); instead
    each distinct pre-aggregates on its own narrow (a, x) pair with
    map-side combine and the three 4-row results join at the end
    (AQE broadcasts them).  The melt is deliberately NOT checkpointed:
    it is a map-only projection of the parquet scan, so re-running it
    per branch costs three cheap scans, while materializing the full
    datom stream would hold |rows|×|attrs| strings in memory."""
    datoms = _melted_lineitem(spark, sf_dir)
    base = datoms.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_datoms"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    ents = (
        datoms.select("a", "e")
        .distinct()
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )
    vals = (
        datoms.select("a", "v")
        .distinct()
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n_values"))
    )
    return base.join(ents, "a").join(vals, "a").select(
        "a", "n_datoms", "n_entities", "n_values", "min_v", "max_v"
    )


ORACLE_ATTR_STATS = """
WITH datoms AS (
  SELECT l_orderkey * 8 + l_linenumber AS e, 'l_quantity' AS a,
         CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS v
  FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 'l_returnflag', l_returnflag
  FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 'l_linestatus', l_linestatus
  FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 'l_shipdate',
         CAST(CAST(l_shipdate AS DATE) AS VARCHAR)
  FROM lineitem
)
SELECT a,
       count(*) AS n_datoms,
       count(DISTINCT e) AS n_entities,
       count(DISTINCT v) AS n_values,
       min(v) AS min_v,
       max(v) AS max_v
FROM datoms GROUP BY a
"""


# ---------------------------------------------------------------------------
# interpolated percentiles as exact rationals
# ---------------------------------------------------------------------------


def q_a10_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_CONT quartiles per returnflag, EXACT: with p = k/4 the
    interpolated percentile is v_lo + (pos − lo)·(v_hi − v_lo) at
    pos = k(n−1)/4, so 4·percentile = 4·v_lo + rem·(v_hi − v_lo) is an
    exact integer in cents (rem = k(n−1) mod 4).

    100 TB shape: NO per-row ranks.  The raw table collapses to
    per-(group, value) counts in one hash aggregate, the cumulative
    window runs over the collapsed value domain (the Mann-Whitney
    trick), and each target rank locates its value with a broadcast
    range probe — cum_below < rank ≤ cum_below + count.  (The naive
    row_number() variant was 90 s at ×100 — one single-threaded sort
    task per group; this form is 3 s.)  Ties need no break because tied
    ranks carry tied values."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    vc = vals.groupBy("l_returnflag", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vc.withColumn(
        "cum_below", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    counts = vals.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    ks = spark.range(1, 4).select(F.col("id").cast("int").alias("k"))
    pos = F.broadcast(
        counts.crossJoin(ks).select(
            "l_returnflag",
            "k",
            "n",
            (F.expr("k * (n - 1) div 4") + 1).alias("lo_rn"),
            F.expr("k * (n - 1) % 4").alias("rem"),
        )
    )
    cc, pp = cum.alias("cc"), pos.alias("pp")
    lo = cc.join(
        pp,
        (F.col("cc.l_returnflag") == F.col("pp.l_returnflag"))
        & (F.col("pp.lo_rn") > F.col("cc.cum_below"))
        & (F.col("pp.lo_rn") <= F.col("cc.cum_below") + F.col("cc.c")),
    ).select(
        F.col("pp.l_returnflag").alias("l_returnflag"),
        F.col("pp.k").alias("k"),
        F.col("pp.n").alias("n"),
        F.col("pp.rem").alias("rem"),
        F.col("cc.v").alias("v_lo"),
    )
    hi = cc.join(
        pp,
        (F.col("cc.l_returnflag") == F.col("pp.l_returnflag"))
        & (F.col("pp.lo_rn") + 1 > F.col("cc.cum_below"))
        & (F.col("pp.lo_rn") + 1 <= F.col("cc.cum_below") + F.col("cc.c")),
    ).select(
        F.col("pp.l_returnflag").alias("l_returnflag"),
        F.col("pp.k").alias("k"),
        F.col("cc.v").alias("v_hi"),
    )
    return lo.join(hi, ["l_returnflag", "k"], "left").select(
        "l_returnflag",
        "k",
        "n",
        (
            4 * F.col("v_lo")
            + F.col("rem")
            * (F.coalesce(F.col("v_hi"), F.col("v_lo")) - F.col("v_lo"))
        ).alias("p4_cents"),
    )


ORACLE_P_CONT = """
WITH vals AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn
  FROM vals
), counts AS (
  SELECT l_returnflag, count(*) AS n FROM vals GROUP BY l_returnflag
), pos AS (
  SELECT c.l_returnflag, k.k, c.n,
         (k.k * (c.n - 1)) // 4 + 1 AS lo_rn,
         (k.k * (c.n - 1)) % 4 AS rem
  FROM counts c CROSS JOIN (SELECT unnest([1, 2, 3]) AS k) k
)
SELECT p.l_returnflag,
       CAST(p.k AS INTEGER) AS k,
       p.n,
       4 * lo.v + p.rem * (COALESCE(hi.v, lo.v) - lo.v) AS p4_cents
FROM pos p
JOIN ranked lo ON lo.l_returnflag = p.l_returnflag AND lo.rn = p.lo_rn
LEFT JOIN ranked hi ON hi.l_returnflag = p.l_returnflag
                   AND hi.rn = p.lo_rn + 1
"""


# ---------------------------------------------------------------------------
# Kruskal-Wallis sufficient statistics (k-group rank test)
# ---------------------------------------------------------------------------


def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis rank sums for the k = 5 order-priority groups per
    market segment — the k-group generalization of stats_mann_whitney,
    same 100 TB-safe shape: all ranks come from ONE cumulative window
    over the collapsed (segment, value) domain; per-(group, value)
    counts then weight the average ranks.  2·R_j = Σ_v c_jv·(2·cum_below
    + c_all + 1) stays integral under ties.  The float H statistic is
    one driver-side formula away (the stats_ab_test discipline: the
    data plane carries exact integer sufficient statistics)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    ).select(
        "c_mktsegment",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    per_val = base.groupBy("c_mktsegment", "v").agg(
        F.count(F.lit(1)).alias("c_all")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_val.withColumn(
        "cum_below", F.coalesce(F.sum("c_all").over(w), F.lit(0))
    )
    per_grp_val = base.groupBy("c_mktsegment", "o_orderpriority", "v").agg(
        F.count(F.lit(1)).alias("c_g")
    )
    joined = per_grp_val.join(cum, ["c_mktsegment", "v"])
    totals = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    return (
        joined.groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.sum("c_g").alias("n_g"),
            F.sum(
                F.col("c_g") * (2 * F.col("cum_below") + F.col("c_all") + 1)
            ).alias("r_x2"),
        )
        .join(totals, "c_mktsegment")
    )


ORACLE_KRUSKAL = """
WITH base AS (
  SELECT c_mktsegment, o_orderpriority,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
), per_val AS (
  SELECT c_mktsegment, v, count(*) AS c_all
  FROM base GROUP BY c_mktsegment, v
), cum AS (
  SELECT *, COALESCE(sum(c_all) OVER (PARTITION BY c_mktsegment ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cum_below
  FROM per_val
), per_grp_val AS (
  SELECT c_mktsegment, o_orderpriority, v, count(*) AS c_g
  FROM base GROUP BY c_mktsegment, o_orderpriority, v
), totals AS (
  SELECT c_mktsegment, count(*) AS n_total FROM base GROUP BY c_mktsegment
)
SELECT g.c_mktsegment, g.o_orderpriority,
       CAST(sum(g.c_g) AS BIGINT) AS n_g,
       CAST(sum(g.c_g * (2 * c.cum_below + c.c_all + 1)) AS BIGINT) AS r_x2,
       t.n_total
FROM per_grp_val g
JOIN cum c ON g.c_mktsegment = c.c_mktsegment AND g.v = c.v
JOIN totals t ON g.c_mktsegment = t.c_mktsegment
GROUP BY g.c_mktsegment, g.o_orderpriority, t.n_total
"""


# ---------------------------------------------------------------------------
# approximate quantiles (mergeable sketch; rows-only by design, like a5)
# ---------------------------------------------------------------------------


def q_a11_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles per returnflag via Spark's
    ``approx_percentile`` (a Greenwald-Khanna-style summary that
    combines map-side — the sketch a 100 TB pipeline actually runs when
    the exact collapsed-value pass of a10 is too hot).  accuracy=10000
    bounds rank error at n/10000.  Gated as a deterministic acceptance
    row: each approximate quartile must sit within 1% relative error of
    the exact percentile computed in the same pass (measured ≤ 0.4%
    across sf0.001–0.1; the summary is deterministic, so the booleans
    are fixture-stable).  The oracle recomputes the group sizes and
    pins the booleans TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(CAST(floor(l_extendedprice * 100) AS BIGINT),"
            " array(0.25, 0.5, 0.75), 10000)"
        ).alias("ap"),
        F.expr(
            "percentile(CAST(floor(l_extendedprice * 100) AS BIGINT),"
            " array(0.25, 0.5, 0.75))"
        ).alias("ex"),
        F.count(F.lit(1)).alias("n"),
    )
    ok = lambda i: (  # noqa: E731
        F.abs(F.element_at("ap", i) - F.element_at("ex", i))
        / F.element_at("ex", i)
        <= 0.01
    )
    return agg.select(
        "l_returnflag",
        "n",
        ok(1).alias("q25_ok"),
        ok(2).alias("q50_ok"),
        ok(3).alias("q75_ok"),
    )


ORACLE_A11 = """
SELECT l_returnflag, count(*) AS n,
       TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Welch t-test sufficient statistics
# ---------------------------------------------------------------------------


def q_stats_welch_suffstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t sufficient statistics per market segment —
    URGENT vs non-URGENT order values in cents: per arm n, Σx, Σx² as
    exact BIGINTs from ONE map-side-combinable aggregate (conditional
    sums, no second pass).  The float t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂) is
    one driver-side formula away; the data plane ships the exact
    integers (the stats_ab_test discipline)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    ).select(
        "c_mktsegment",
        (F.col("o_orderpriority") == "1-URGENT").alias("is_a"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    a = F.col("is_a").cast("long")
    b = 1 - a
    vd = F.col("v").cast("decimal(38,0)")
    # squared-cents sums overflow BIGINT beyond ~sf0.1 (v^2 ~ 2.5e15 per
    # row) — they ride DECIMAL(38,0) like the linreg sufficient stats
    return base.groupBy("c_mktsegment").agg(
        F.sum(a).alias("n1"),
        F.sum(b).alias("n2"),
        F.sum(a * F.col("v")).alias("sx1"),
        F.sum(b * F.col("v")).alias("sx2"),
        F.sum(a.cast("decimal(38,0)") * vd * vd)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sxx1"),
        F.sum(b.cast("decimal(38,0)") * vd * vd)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sxx2"),
    )


ORACLE_WELCH = """
SELECT c_mktsegment,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS n1,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END)
            AS BIGINT) AS n2,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sx1,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0
                ELSE CAST(floor(o_totalprice * 100) AS BIGINT)
                END) AS BIGINT) AS sx2,
       CAST(CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(floor(o_totalprice * 100) AS DECIMAL(38,0))
                     * CAST(floor(o_totalprice * 100) AS DECIMAL(38,0))
                ELSE 0 END) AS DECIMAL(38,0)) AS VARCHAR) AS sxx1,
       CAST(CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0
                ELSE CAST(floor(o_totalprice * 100) AS DECIMAL(38,0))
                     * CAST(floor(o_totalprice * 100) AS DECIMAL(38,0))
                END) AS DECIMAL(38,0)) AS VARCHAR) AS sxx2
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# degree distribution census (log2 bins)
# ---------------------------------------------------------------------------


def q_graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree distribution of the co-purchase graph — the
    graph-census primitive behind hub detection and valve sizing (the
    max_center_degree default comes from exactly this view).  Two hash
    aggregates: degrees, then bins; the bin is floor(log2(d)) computed
    in integer space both engines (width_bucket-free: bit_length−1)."""
    und = _copurchase_edges(spark, sf_dir)
    deg = (
        und.select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # floor(log2(d)) as the bit position of the highest set bit
    bin_ = (
        F.floor(F.log2(F.col("d").cast("double"))).cast("int")
    )
    return (
        deg.groupBy(bin_.alias("log2_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
            F.sum("d").alias("sum_d"),
        )
    )


ORACLE_DEGREE_HIST = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi FROM edges
  ) GROUP BY node
)
SELECT CAST(floor(log2(CAST(d AS DOUBLE))) AS INTEGER) AS log2_bin,
       count(*) AS n_nodes,
       min(d) AS min_d,
       max(d) AS max_d,
       CAST(sum(d) AS BIGINT) AS sum_d
FROM deg
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# modularity of a labelled partition (exact rational)
# ---------------------------------------------------------------------------


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition over the co-purchase
    graph, exact: Q = Σ_c [L_c/m − (d_c/2m)²] is emitted as the integer
    pair (Σ_c (4m·L_c − d_c²), 4m²) — no float anywhere.  Communities
    come from part.p_brand (a broadcast dim join); per-community
    intra-edge counts and degree sums are two hash aggregates over the
    edge list.  The community-quality score behind Louvain/Leiden
    acceptance tests, as one exact query."""
    und = _copurchase_edges(spark, sf_dir).localCheckpoint()
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_brand")
    )
    lab = part.withColumnRenamed("p_partkey", "node")
    m_row = und.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        und.select(F.explode(F.array("lo", "hi")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d_c = (
        deg.join(F.broadcast(lab), "node")
        .groupBy("p_brand")
        .agg(F.sum("d").alias("d_c"))
    )
    intra = (
        und.join(
            F.broadcast(lab.withColumnRenamed("node", "lo")).withColumnRenamed(
                "p_brand", "b_lo"
            ),
            "lo",
        )
        .join(
            F.broadcast(lab.withColumnRenamed("node", "hi")).withColumnRenamed(
                "p_brand", "b_hi"
            ),
            "hi",
        )
        .filter(F.col("b_lo") == F.col("b_hi"))
        .groupBy(F.col("b_lo").alias("p_brand"))
        .agg(F.count(F.lit(1)).alias("l_c"))
    )
    per_c = d_c.join(intra, "p_brand", "left").select(
        "p_brand",
        F.coalesce(F.col("l_c"), F.lit(0)).alias("l_c"),
        "d_c",
    )
    return per_c.crossJoin(F.broadcast(m_row)).select(
        "p_brand",
        "l_c",
        "d_c",
        (4 * F.col("m") * F.col("l_c") - F.col("d_c") * F.col("d_c")).alias(
            "q_num_c"
        ),
        (4 * F.col("m") * F.col("m")).alias("q_den"),
    )


ORACLE_MODULARITY = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
), m AS (
  SELECT count(*) AS m FROM edges
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT lo AS node FROM edges UNION ALL SELECT hi FROM edges
  ) GROUP BY node
), d_c AS (
  SELECT p_brand, CAST(sum(d) AS BIGINT) AS d_c
  FROM deg JOIN part ON node = p_partkey
  GROUP BY p_brand
), intra AS (
  SELECT pl.p_brand, count(*) AS l_c
  FROM edges e
  JOIN part pl ON e.lo = pl.p_partkey
  JOIN part ph ON e.hi = ph.p_partkey
  WHERE pl.p_brand = ph.p_brand
  GROUP BY pl.p_brand
)
SELECT d_c.p_brand,
       CAST(COALESCE(intra.l_c, 0) AS BIGINT) AS l_c,
       d_c.d_c,
       4 * m.m * COALESCE(intra.l_c, 0) - d_c.d_c * d_c.d_c AS q_num_c,
       4 * m.m * m.m AS q_den
FROM d_c LEFT JOIN intra ON d_c.p_brand = intra.p_brand
CROSS JOIN m
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap (deterministic hash resampling, one pass)
# ---------------------------------------------------------------------------

_BOOT_B = 16
# Poisson(1) CDF thresholds scaled to 2^20: P(0)=.3679, P(<=1)=.7358,
# P(<=2)=.9197, P(<=3)=.9810 — tail collapsed into w=4
_BOOT_T0, _BOOT_T1, _BOOT_T2, _BOOT_T3 = 385774, 771548, 964458, 1028765


def q_stats_bootstrap_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap over order values — THE scalable CI technique:
    instead of resampling rows (impossible distributed), each row draws
    an independent Poisson(1) weight per replicate from a deterministic
    multiplicative hash, and all B = 16 replicate sums accumulate in
    ONE pass (explode over the replicate index; the shuffle carries
    (b, partial sums) only).  Replicate means are exact rational pairs
    (sum_cents, n_eff); the CI is a driver-side quantile over 16
    numbers.  Hash and CDF thresholds are replicated verbatim in the
    oracle."""
    orders = load_table(spark, sf_dir, "orders")
    b = F.col("b")
    h = (
        (F.col("o_orderkey") * F.lit(2654435761) + b * F.lit(40503))
        % F.lit(1048576)
    )
    w = (
        F.when(h < _BOOT_T0, 0)
        .when(h < _BOOT_T1, 1)
        .when(h < _BOOT_T2, 2)
        .when(h < _BOOT_T3, 3)
        .otherwise(4)
        .cast("long")
    )
    v = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        orders.select(
            "o_orderkey",
            v.alias("v"),
            F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        )
        .select(b.alias("b"), (w * F.col("v")).alias("wv"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").alias("n_eff"),
            F.sum("wv").alias("sum_cents"),
        )
    )


ORACLE_BOOTSTRAP = f"""
WITH reps AS (
  SELECT o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
         unnest(range(0, {_BOOT_B})) AS b
  FROM orders
), weighted AS (
  SELECT b,
         CASE WHEN (o_orderkey * 2654435761 + b * 40503) % 1048576
                   < {_BOOT_T0} THEN 0
              WHEN (o_orderkey * 2654435761 + b * 40503) % 1048576
                   < {_BOOT_T1} THEN 1
              WHEN (o_orderkey * 2654435761 + b * 40503) % 1048576
                   < {_BOOT_T2} THEN 2
              WHEN (o_orderkey * 2654435761 + b * 40503) % 1048576
                   < {_BOOT_T3} THEN 3
              ELSE 4 END AS w,
         v
  FROM reps
)
SELECT b,
       CAST(sum(w) AS BIGINT) AS n_eff,
       CAST(sum(w * v) AS BIGINT) AS sum_cents
FROM weighted
GROUP BY b
"""


# ---------------------------------------------------------------------------
# median absolute deviation (exact, collapsed-value probes twice)
# ---------------------------------------------------------------------------


def _disc_median(df, group_col: str, val_col: str):
    """Lower discrete median per group via the collapsed-value
    cumulative + range probe (no per-row ranks)."""
    vc = df.groupBy(group_col, val_col).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vc.withColumn(
        "cum_below", F.coalesce(F.sum("c").over(w), F.lit(0))
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    pos = F.broadcast(
        counts.select(
            group_col, ((F.col("n") + 1) / 2).cast("long").alias("target")
        )
    )
    cc, pp = cum.alias("cc"), pos.alias("pp")
    return cc.join(
        pp,
        (F.col(f"cc.{group_col}") == F.col(f"pp.{group_col}"))
        & (F.col("pp.target") > F.col("cc.cum_below"))
        & (F.col("pp.target") <= F.col("cc.cum_below") + F.col("cc.c")),
    ).select(
        F.col(f"pp.{group_col}").alias(group_col),
        F.col(f"cc.{val_col}").alias("med"),
    )


def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per returnflag, exact: the lower
    discrete median (rank ⌈n/2⌉) via the collapsed-value range probe,
    then the same probe again over |v − med| — two aggregate+window
    passes over collapsed domains, never a per-row rank.  The robust
    dispersion statistic outlier pipelines want where stddev is
    poisoned by the outliers themselves."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    med = _disc_median(vals, "l_returnflag", "v")
    absdev = vals.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", F.abs(F.col("v") - F.col("med")).alias("v"),
    )
    mad = _disc_median(absdev, "l_returnflag", "v").withColumnRenamed(
        "med", "mad_cents"
    )
    return med.join(mad, "l_returnflag").select(
        "l_returnflag", F.col("med").alias("median_cents"), "mad_cents"
    )


ORACLE_MAD = """
WITH vals AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), med AS (
  SELECT l_returnflag,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)
           AS med
  FROM vals GROUP BY l_returnflag
), absdev AS (
  SELECT vals.l_returnflag, abs(v - med) AS av
  FROM vals JOIN med ON vals.l_returnflag = med.l_returnflag
), mad AS (
  SELECT l_returnflag,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY av) AS BIGINT)
           AS mad_cents
  FROM absdev GROUP BY l_returnflag
)
SELECT med.l_returnflag, med.med AS median_cents, mad.mad_cents
FROM med JOIN mad ON med.l_returnflag = mad.l_returnflag
"""


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index (exact rational)
# ---------------------------------------------------------------------------


def q_stats_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration HHI per nation over supplier revenue
    (lineitem extendedprice attributed via l_suppkey), exact: with
    shares s_i = r_i/T, HHI·T² = Σ r_i² — the numerator/denominator
    pair is exact DECIMAL(38,0) (squares overflow BIGINT at fact
    scale, the Welch lesson).  Two hash aggregates: per-supplier
    revenue, then per-nation sums — the anti-trust / vendor-risk
    metric as one exact query."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100).cast("long")
            ).alias("r")
        )
        .join(
            F.broadcast(
                sup.select(
                    F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
                )
            ),
            "l_suppkey",
        )
    )
    # hhi_num exceeds int64 even at sf0.01 (~1e20): it rides
    # DECIMAL(38,0) internally and crosses the boundary as a canonical
    # decimal STRING — exact at any width, engine-agnostic encoding
    rd = F.col("r").cast("decimal(38,0)")
    return rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("r").alias("total_cents"),
        F.sum(rd * rd)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("hhi_num"),
    )


ORACLE_HHI = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS r
  FROM lineitem GROUP BY l_suppkey
), tagged AS (
  SELECT rev.*, s_nationkey FROM rev
  JOIN supplier ON l_suppkey = s_suppkey
)
SELECT s_nationkey,
       count(*) AS n_suppliers,
       CAST(sum(r) AS BIGINT) AS total_cents,
       CAST(CAST(sum(CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)))
            AS DECIMAL(38,0)) AS VARCHAR) AS hhi_num
FROM tagged
GROUP BY s_nationkey
"""


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (exact integer sufficient statistics)
# ---------------------------------------------------------------------------


def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs-test sufficient statistics per customer segment: the
    order sequence (by date, keyed uniquely) becomes a binary series
    (URGENT vs not); n_runs = 1 + Σ[x_t ≠ x_{t−1}] from one lag
    window, plus the n₁/n₂ counts the null distribution needs — the
    z-score is a driver-side formula (the stats_ab_test discipline).
    Randomness-of-sequence auditing for event feeds, exact."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    base = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    ).select(
        "c_mktsegment",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("x"),
        "o_orderdate",
        "o_orderkey",
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        "o_orderdate", "o_orderkey"
    )
    flagged = base.withColumn("prev", F.lag("x").over(w))
    return flagged.groupBy("c_mktsegment").agg(
        F.sum("x").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("x")).cast("long").alias("n2"),
        (
            1
            + F.sum(
                (F.col("prev").isNotNull() & (F.col("x") != F.col("prev")))
                .cast("long")
            )
        ).alias("n_runs"),
    )


ORACLE_RUNS = """
WITH base AS (
  SELECT c_mktsegment,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x,
         o_orderdate, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey
), flagged AS (
  SELECT c_mktsegment, x,
         lag(x) OVER (PARTITION BY c_mktsegment
                      ORDER BY o_orderdate, o_orderkey) AS prev
  FROM base
)
SELECT c_mktsegment,
       CAST(sum(x) AS BIGINT) AS n1,
       CAST(count(*) - sum(x) AS BIGINT) AS n2,
       CAST(1 + sum(CASE WHEN prev IS NOT NULL AND x <> prev
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
FROM flagged
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Gini inequality coefficient (collapsed-value exact)
# ---------------------------------------------------------------------------


def q_stats_gini_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value inequality per segment, exact:
    Σᵢⱼ|xᵢ−xⱼ| = 2·Σ_v c_v·(v·below_n − below_sum) computed on the
    COLLAPSED value domain (counts + two cumulative sums — never a
    per-row rank), carried in DECIMAL(38,0) because the double sum
    passes BIGINT at fact scale.  Gini = absdiff / (2n·total) is the
    driver-side division; the data plane ships the exact triple
    (absdiff_num, n, total_cents) — the inequality metric economics
    and data-balance audits want."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    vals = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    ).select(
        "c_mktsegment",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    vc = vals.groupBy("c_mktsegment", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vc.select(
        "c_mktsegment",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("below_n"),
        F.coalesce(F.sum(F.col("c") * F.col("v")).over(w), F.lit(0)).alias(
            "below_sum"
        ),
    )
    cd = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    contrib = cd(F.col("c")) * (
        cd(F.col("v")) * cd(F.col("below_n")) - cd(F.col("below_sum"))
    )
    # absdiff_num passes BIGINT at fact scale: DECIMAL(38,0) internally,
    # canonical decimal STRING at the boundary (exact, engine-agnostic)
    return cum.groupBy("c_mktsegment").agg(
        (2 * F.sum(contrib))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("absdiff_num"),
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.col("v")).alias("total_cents"),
    )


ORACLE_GINI_INEQ = """
WITH vals AS (
  SELECT c_mktsegment,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
  FROM orders JOIN customer ON o_custkey = c_custkey
), vc AS (
  SELECT c_mktsegment, v, count(*) AS c
  FROM vals GROUP BY c_mktsegment, v
), cum AS (
  SELECT *,
         COALESCE(sum(c) OVER w, 0) AS below_n,
         COALESCE(sum(c * v) OVER w, 0) AS below_sum
  FROM vc
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT c_mktsegment,
       CAST(CAST(2 * sum(CAST(c AS DECIMAL(38,0)) *
                    (CAST(v AS DECIMAL(38,0)) * below_n - below_sum))
            AS DECIMAL(38,0)) AS VARCHAR) AS absdiff_num,
       CAST(sum(c) AS BIGINT) AS n,
       CAST(sum(c * v) AS BIGINT) AS total_cents
FROM cum
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# cohort lifetime value (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: customers cohorted by first-order month,
    revenue accumulated by cohort age in months — the companion to
    cohort_retention that carries MONEY (exact cents) instead of
    presence.  Two hash aggregates + one cumulative window over the
    (cohort, age) grid (tiny); month arithmetic via months_between on
    truncated dates, identical in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias(
            "cohort"
        )
    )
    aged = orders.join(first, "o_custkey").select(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")).cast("date"),
            F.col("cohort"),
        )
        .cast("int")
        .alias("age_m"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    grid = aged.groupBy("cohort", "age_m").agg(
        F.sum("cents").alias("rev_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_m")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.select(
        "cohort",
        "age_m",
        "rev_cents",
        "n_orders",
        F.sum("rev_cents").over(w).alias("cum_rev_cents"),
    )


ORACLE_COHORT_LTV = """
WITH first AS (
  SELECT o_custkey,
         CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS cohort
  FROM orders GROUP BY o_custkey
), aged AS (
  SELECT cohort,
         CAST(datediff('month', cohort,
              CAST(date_trunc('month', o_orderdate) AS DATE)) AS INTEGER)
           AS age_m,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN first USING (o_custkey)
), grid AS (
  SELECT cohort, age_m, sum(cents) AS rev_cents,
         count(*) AS n_orders
  FROM aged GROUP BY cohort, age_m
)
SELECT cohort, age_m,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       n_orders,
       CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age_m
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents
FROM grid
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier life table (exact integer risk sets)
# ---------------------------------------------------------------------------


def q_stats_km_lifetable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis of order-fulfilment latency: per distinct
    time-to-first-ship t (days), the life table (d_t deaths = orders
    fulfilled at t, n_t at risk = orders not yet fulfilled before t) —
    the exact integer inputs of the Kaplan-Meier estimator (the S(t)
    product is one driver-side fold; the data plane ships the table).
    n_t is a reverse cumulative sum over the collapsed latency domain —
    no per-order window, no censoring here since every order ships."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lat = (
        li.groupBy("l_orderkey")
        .agg(F.min(F.col("l_shipdate").cast("date")).alias("first_ship"))
        .join(
            orders.select(
                F.col("o_orderkey").alias("l_orderkey"),
                F.col("o_orderdate").cast("date").alias("od"),
            ),
            "l_orderkey",
        )
        .select(F.datediff("first_ship", "od").alias("t"))
    )
    dt = lat.groupBy("t").agg(F.count(F.lit(1)).alias("d"))
    w = (
        Window.orderBy("t")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return dt.select(
        "t",
        "d",
        F.sum("d").over(w).alias("n_at_risk"),
    )


ORACLE_KM = """
WITH lat AS (
  SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                   min(CAST(l.l_shipdate AS DATE))) AS t
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY l.l_orderkey, o.o_orderdate
), dt AS (
  SELECT t, count(*) AS d FROM lat GROUP BY t
)
SELECT t, d,
       CAST(sum(d) OVER (ORDER BY t
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
         AS n_at_risk
FROM dt
"""


# ---------------------------------------------------------------------------
# k-truss (edge-support peeling; the cohesion ladder above k-core)
# ---------------------------------------------------------------------------

TRUSS_K = 4  # every surviving edge sits in >= k-2 = 2 triangles
TRUSS_MAX_ROUNDS = 10


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the weighted co-purchase graph (edges co-purchased
    ≥ 2 times, the kcore base): iteratively delete edges supported by
    fewer than k−2 = 2 triangles until fixpoint — the edge-cohesion
    ladder above k-core (every k-truss edge is in the (k−1)-core, not
    vice versa).  Per round: one id-ordered triangle join over the
    shrinking edge set, per-EDGE support via a 3-way explode, one
    semi-join; survivors localCheckpointed (the kcore/components
    lineage lesson).  Convergence is asserted within
    TRUSS_MAX_ROUNDS and the oracle unrolls exactly that many rounds
    (the kcore MATERIALIZED-CTE pattern).  Output is the fixpoint
    summary (edges, nodes, total support) — layout-independent."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("x"), li.alias("y")
    edges = (
        a.join(
            b,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("u"),
            F.col("y.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .localCheckpoint()
    )
    converged = False
    support = None
    for _ in range(TRUSS_MAX_ROUNDS):
        # id-ordered triple join: on the weight-filtered (w >= 2) graph
        # the edge set is sparse enough that this beats the
        # degree-ordered orientation (measured 53 s vs 72 s at x10 —
        # the per-round degree pass + orientation joins cost more than
        # the wedge bound saves here; the UNWEIGHTED graph is the
        # opposite, see graph_clustering_coeff)
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.v") == F.col("e2.u"))
            .join(
                e3,
                (F.col("e1.u") == F.col("e3.u"))
                & (F.col("e2.v") == F.col("e3.v")),
            )
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                        F.struct(F.col("a").alias("u"), F.col("c").alias("v")),
                        F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= TRUSS_K - 2)
        )
        pruned = (
            edges.join(sup.select("u", "v"), ["u", "v"], "left_semi")
            .localCheckpoint()
        )
        n_prev, n_now = edges.count(), pruned.count()
        edges = pruned
        support = sup
        if n_now == n_prev:
            converged = True
            break
    if not converged:
        raise AssertionError(
            f"k-truss did not converge in {TRUSS_MAX_ROUNDS} rounds"
        )
    nodes = edges.select(F.explode(F.array("u", "v")).alias("n")).distinct()
    return (
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        .crossJoin(
            edges.join(support, ["u", "v"]).agg(
                F.sum("support").alias("total_support")
            )
        )
    )


def _ktruss_oracle() -> str:
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
    for i in range(1, TRUSS_MAX_ROUNDS + 1):
        rounds.append(
            f""",
t{i} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1
  JOIN {prev} e2 ON e1.v = e2.u
  JOIN {prev} e3 ON e1.u = e3.u AND e2.v = e3.v
),
s{i} AS MATERIALIZED (
  SELECT u, v, count(*) AS support FROM (
    SELECT a AS u, b AS v FROM t{i}
    UNION ALL SELECT a, c FROM t{i}
    UNION ALL SELECT b, c FROM t{i}
  ) GROUP BY u, v
  HAVING count(*) >= {TRUSS_K - 2}
),
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN s{i} s ON e.u = s.u AND e.v = s.v
)"""
        )
        prev = f"e{i}"
    return (
        base
        + "".join(rounds)
        + f"""
SELECT (SELECT count(*) FROM {prev}) AS n_edges,
       (SELECT count(DISTINCT n) FROM (
          SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev}
        )) AS n_nodes,
       (SELECT CAST(sum(s.support) AS BIGINT)
        FROM {prev} e JOIN s{TRUSS_MAX_ROUNDS} s
          ON e.u = s.u AND e.v = s.v) AS total_support
"""
    )


ORACLE_KTRUSS = _ktruss_oracle()


# ---------------------------------------------------------------------------
# sliding-window distinct users (Expand + distinct agg)
# ---------------------------------------------------------------------------


def q_events_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active users per sliding window (1 h window / 30 min
    slide): Spark's window() Expand assigns each event to its two
    windows JVM-side, then one distinct aggregate per (window, type) —
    the active-users dashboard metric where double-counted users (not
    events) are the trap a naive union of tumbling buckets gets wrong.
    Oracle replays the two aligned window starts per event and counts
    distinct user ids identically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_users",
        )
    )


ORACLE_SLIDING_DISTINCT = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start,
         event_type, user_id
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
         event_type, user_id
  FROM events
)
SELECT win_start, event_type,
       count(DISTINCT user_id) AS n_users
FROM assigned
GROUP BY win_start, event_type
"""


# ---------------------------------------------------------------------------
# event-time disorder audit (watermark sizing diagnostic)
# ---------------------------------------------------------------------------


def q_events_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-sizing diagnostic: per event type, how many events
    arrive with an event time EARLIER than the running maximum of their
    arrival sequence (event_id is the arrival order here), and the
    worst lateness in seconds — exactly the numbers that justify a
    '2 hours' watermark instead of a guess.  One running-max window in
    arrival order + one aggregate, all integer seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.select(
        "event_type",
        F.unix_timestamp("ts").alias("t"),
        F.max(F.unix_timestamp("ts")).over(w).alias("max_before"),
    )
    late = F.when(
        F.col("max_before").isNotNull() & (F.col("t") < F.col("max_before")),
        F.col("max_before") - F.col("t"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(late).alias("n_out_of_order"),
        F.coalesce(F.max(late), F.lit(0)).alias("max_lateness_s"),
        F.coalesce(F.sum(late), F.lit(0)).alias("total_lateness_s"),
    )


ORACLE_OOO_AUDIT = """
WITH flagged AS (
  SELECT event_type,
         epoch(ts) AS t,
         max(epoch(ts)) OVER (PARTITION BY event_type ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS max_before
  FROM events
), late AS (
  SELECT event_type,
         CASE WHEN max_before IS NOT NULL AND t < max_before
              THEN max_before - t END AS lateness
  FROM flagged
)
SELECT event_type,
       count(*) AS n_events,
       count(lateness) AS n_out_of_order,
       CAST(COALESCE(max(lateness), 0) AS BIGINT) AS max_lateness_s,
       CAST(COALESCE(sum(lateness), 0) AS BIGINT) AS total_lateness_s
FROM late
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# time-respecting 2-hop reachability (temporal graph composition)
# ---------------------------------------------------------------------------


def q_graph_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RESPECTING reachability — the temporal-network primitive
    static graphs get wrong: u influences v only if v's signup follows
    u's within 10 minutes, and a 2-hop path u→v→w needs the second hop
    to start AFTER the first lands.  Both temporal joins are banded
    (10-minute bucket equi-keys + exact refine — the range_join
    discipline; never a nested loop), and the output counts direct and
    2-hop reach per user over the signup stream.  Epidemiology /
    influence-cascade analytics as three hash joins."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("u"),
            F.unix_timestamp("ts").alias("t"),
            F.col("event_id").alias("eid"),
        )
    )
    W = 600  # 10-minute influence window

    def banded_pairs(a, b, ua, ub, ta, tb):
        """a.t < b.t <= a.t + W via same/next band equi-join."""
        ax = a.select(
            F.col("u").alias(ua),
            F.col("t").alias(ta),
            F.explode(
                F.array(
                    (F.col("t") / W).cast("long"),
                    (F.col("t") / W).cast("long") + 1,
                )
            ).alias("band"),
        )
        bx = b.select(
            F.col("u").alias(ub),
            F.col("t").alias(tb),
            (F.col("t") / W).cast("long").alias("band"),
        )
        return ax.join(bx, "band").filter(
            (F.col(tb) > F.col(ta))
            & (F.col(tb) <= F.col(ta) + W)
            & (F.col(ua) != F.col(ub))
        )

    hop1 = banded_pairs(s, s, "u", "v", "tu", "tv").select(
        "u", "v", "tu", "tv"
    ).distinct()
    # second hop: reuse hop1 as the edge set; time-respecting chain
    h1, h2 = hop1.alias("h1"), hop1.alias("h2")
    hop2 = (
        h1.join(
            h2,
            (F.col("h1.v") == F.col("h2.u"))
            & (F.col("h2.tu") == F.col("h1.tv")),
        )
        .filter(F.col("h2.v") != F.col("h1.u"))
        .select(
            F.col("h1.u").alias("u"),
            F.col("h2.v").alias("w"),
        )
        .distinct()
    )
    d1 = hop1.groupBy("u").agg(F.countDistinct("v").alias("direct_reach"))
    d2 = hop2.groupBy("u").agg(F.countDistinct("w").alias("two_hop_reach"))
    return (
        d1.join(d2, "u", "left")
        .select(
            "u",
            "direct_reach",
            F.coalesce("two_hop_reach", F.lit(0)).alias("two_hop_reach"),
        )
    )


ORACLE_TEMPORAL_REACH = """
WITH s AS (
  SELECT user_id AS u, epoch(ts) AS t
  FROM events WHERE event_type = 'signup'
), hop1 AS (
  SELECT DISTINCT a.u AS u, b.u AS v, a.t AS tu, b.t AS tv
  FROM s a JOIN s b
    ON b.t > a.t AND b.t <= a.t + 600 AND a.u <> b.u
), hop2 AS (
  SELECT DISTINCT h1.u AS u, h2.v AS w
  FROM hop1 h1 JOIN hop1 h2
    ON h1.v = h2.u AND h2.tu = h1.tv AND h2.v <> h1.u
), d1 AS (
  SELECT u, count(DISTINCT v) AS direct_reach FROM hop1 GROUP BY u
), d2 AS (
  SELECT u, count(DISTINCT w) AS two_hop_reach FROM hop2 GROUP BY u
)
SELECT d1.u, d1.direct_reach,
       COALESCE(d2.two_hop_reach, 0) AS two_hop_reach
FROM d1 LEFT JOIN d2 ON d1.u = d2.u
"""


# ---------------------------------------------------------------------------
# Cohen's kappa sufficient statistics (inter-classifier agreement)
# ---------------------------------------------------------------------------


def q_stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-classifier agreement per source: two deterministic binary
    raters over documents (A: english-language; B: long-form at
    n_chars > 800 — the quality-gate pair a labeling pipeline audits),
    with Cohen's kappa carried as exact integers: observed agreement
    po·n = n11 + n00, chance agreement pe·n² = r1·c1 + r0·c0, so
    κ = (n·po_num − pe_num) / (n² − pe_num) is one driver-side
    division over the emitted exact triple.  One conditional-count
    aggregate — the confusion matrix never materializes row-wise."""
    docs = load_table(spark, sf_dir, "documents")
    a = (F.col("lang") == "en").cast("long")
    b = (F.col("n_chars") > 800).cast("long")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(a * b).alias("n11"),
        F.sum(a * (1 - b)).alias("n10"),
        F.sum((1 - a) * b).alias("n01"),
        F.sum((1 - a) * (1 - b)).alias("n00"),
    )
    po_num = F.col("n11") + F.col("n00")
    pe_num = (F.col("n11") + F.col("n10")) * (
        F.col("n11") + F.col("n01")
    ) + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00"))
    return agg.select(
        "source",
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        po_num.alias("po_num"),
        pe_num.alias("pe_num"),
        (F.col("n") * po_num - pe_num).alias("kappa_num"),
        (F.col("n") * F.col("n") - pe_num).alias("kappa_den"),
    )


ORACLE_KAPPA = """
WITH agg AS (
  SELECT source,
         count(*) AS n,
         CAST(sum(CASE WHEN lang = 'en' AND n_chars > 800
                  THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(sum(CASE WHEN lang = 'en' AND n_chars <= 800
                  THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN lang <> 'en' AND n_chars > 800
                  THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN lang <> 'en' AND n_chars <= 800
                  THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM documents GROUP BY source
)
SELECT source, n, n11, n10, n01, n00,
       n11 + n00 AS po_num,
       (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS pe_num,
       n * (n11 + n00)
         - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
         AS kappa_num,
       n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
         AS kappa_den
FROM agg
"""


REGISTRY = (
    (q_stats_permutation_fdr, ORACLE_PERM_FDR),
    (q_stats_psi_drift, ORACLE_PSI),
    (q_stats_spearman, ORACLE_SPEARMAN),
    (q_stats_linreg, ORACLE_LINREG),
    (q_stats_mann_whitney, ORACLE_MANN_WHITNEY),
    (q_graph_clustering_coeff, ORACLE_CLUSTERING),
    (q_graph_jaccard_linkpred, ORACLE_JACCARD_LP),
    (q_eav_attr_stats, ORACLE_ATTR_STATS),
    (q_a10_percentile_cont, ORACLE_P_CONT),
    (q_stats_kruskal_wallis, ORACLE_KRUSKAL),
    (q_stats_cohens_kappa, ORACLE_KAPPA),
    (q_graph_temporal_reach, ORACLE_TEMPORAL_REACH),
    (q_events_out_of_order_audit, ORACLE_OOO_AUDIT),
    (q_events_sliding_distinct, ORACLE_SLIDING_DISTINCT),
    (q_graph_ktruss, ORACLE_KTRUSS),
    (q_stats_km_lifetable, ORACLE_KM),
    (q_cohort_ltv, ORACLE_COHORT_LTV),
    (q_stats_gini_inequality, ORACLE_GINI_INEQ),
    (q_stats_hhi_concentration, ORACLE_HHI),
    (q_stats_runs_test, ORACLE_RUNS),
    (q_stats_bootstrap_means, ORACLE_BOOTSTRAP),
    (q_stats_mad, ORACLE_MAD),
    (q_graph_modularity, ORACLE_MODULARITY),
    (q_stats_welch_suffstats, ORACLE_WELCH),
    (q_graph_degree_histogram, ORACLE_DEGREE_HIST),
    # sketch internals are engine-specific; the gate is the error-bound
    # acceptance row (exact group sizes + booleans the oracle pins TRUE)
    (q_a11_approx_quantiles, ORACLE_A11),
)
