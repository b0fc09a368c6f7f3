"""Mergeable-sketch rollup declared queries — portable HLL registers.

The pre-aggregation tier of a 100 TB pipeline: build (dims…, register,
rank) rollups ONCE with a map-side-combinable MAX aggregate, then
answer distinct-count questions over any dimension subset — including
unions and (by inclusion–exclusion) intersections — from the rollup
alone, never re-reading raw data.  Spark's own approx_count_distinct
sketch is engine-private; these registers are deterministic functions
of md5 (functions/hll.py), bit-identical in DuckDB, so the oracles
hash the register digests EXACTLY and only the final estimate carries
an error-bound gate.

Every query here deliberately makes Spark and the oracle take
DIFFERENT register paths to the same answer: Spark rolls up through an
intermediate granularity (day level, or per-type then pairwise union)
while the oracle computes registers directly at the target
granularity.  Exact digest equality is then a PROOF of merge
associativity across engines, not just a recomputation.

No counterpart in the reference (exact Datomic/sort-based counting —
azanium core.clj:1-80); extends SURVEY §2.4's aggregate tier.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.hll import hll_estimate, hll_merge, hll_registers
from .functions.qsketch import oracle_bin_sql, oracle_midpoint_sql
from .queries_e2e import _build_once, _check_replay, _drain, _fx
from .queries_streaming import _events_stream

# ---------------------------------------------------------------------------
# shared oracle CTE: portable registers over events at (event_type, j)
# ---------------------------------------------------------------------------

# one definition for the md5 shred + register MAX so the Spark scheme
# (functions/hll.py hll_shred) can never fork from the oracle's
_ORACLE_SHRED = """
shred AS (
  SELECT event_type,
         date_trunc('day', ts) AS day,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))::UBIGINT
              % 512 AS INT) AS j,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 5, 13))::UBIGINT AS v
  FROM events
),
type_regs AS (
  SELECT event_type, j,
         MAX(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END) AS r
  FROM shred GROUP BY 1, 2
)
"""

# estimator constants — the SAME double-op chain functions/hll.py folds:
# alpha = 0.7213/(1 + 1.079/m), m = 512, scale = 2^53
_EST = """
  CAST(FLOOR(
    (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0 * 9007199254740992.0
      / CAST(total_scaled AS DOUBLE)
    + 0.5) AS BIGINT)
"""


def q_sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users from a DAY-grained register rollup
    (functions/hll.py): Spark builds (event_type, day, j, r) then
    merges day→type with register-wise MAX; the oracle computes
    (event_type, j, r) directly from raw rows.  total_scaled (the
    exact BIGINT register digest) must match bit-for-bit — proving the
    merge is lossless — and the estimate is gated within 15% of the
    exact count (σ = 1.04/√512 ≈ 4.6%)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    day_regs = hll_registers(ev, ["event_type", "day"], "user_id")
    type_regs = hll_merge(day_regs, ["event_type"])
    est = hll_estimate(type_regs, ["event_type"])
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_regs",
            "total_scaled",
            F.col("est").alias("est_users"),
            "exact_users",
            (
                F.abs(F.col("est") / F.col("exact_users") - 1.0)
                <= F.lit(0.15)
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


ORACLE_HLL_ROLLUP = f"""
WITH {_ORACLE_SHRED},
agg AS (
  SELECT event_type,
         COUNT(*) AS n_regs,
         CAST(SUM(CAST(power(2.0, 53 - r) AS BIGINT))
           + (512 - COUNT(*)) * 9007199254740992 AS BIGINT) AS total_scaled
  FROM type_regs GROUP BY 1
),
est AS (
  SELECT event_type, n_regs, total_scaled,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                     * 9007199254740992.0 / CAST(total_scaled AS DOUBLE)
                   <= 2.5 * 512 AND 512 - n_regs > 0
              THEN CAST(FLOOR(512.0 * ln(512.0 / CAST(512 - n_regs AS DOUBLE))
                              + 0.5) AS BIGINT)
              ELSE {_EST}
         END AS est_users
  FROM agg
)
SELECT e.event_type, e.n_regs, e.total_scaled, e.est_users,
       x.exact_users,
       abs(CAST(e.est_users AS DOUBLE) / x.exact_users - 1.0) <= 0.15
         AS est_ok
FROM est e
JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
      FROM events GROUP BY 1) x USING (event_type)
ORDER BY event_type
"""


def q_sketch_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch algebra over the per-type register rollup: for every
    unordered pair of event types, the UNION distinct-user count is a
    register-wise MAX of the two types' registers (no raw-data access)
    and the INTERSECTION estimate follows by inclusion–exclusion
    (est_a + est_b − est_union — exact BIGINT arithmetic on the
    already-gated component estimates).  total_scaled of each merged
    pair is hash-gated exactly; the union estimate within 15%, the
    noisier intersection within max(25% of the union, 8) absolute."""
    raw = load_table(spark, sf_dir, "events")
    type_regs = hll_registers(raw, ["event_type"], "user_id")
    types = raw.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("ta"))
        .crossJoin(types.select(F.col("event_type").alias("tb")))
        .filter(F.col("ta") < F.col("tb"))
    )
    merged = hll_merge(
        F.broadcast(pairs).join(
            type_regs,
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        ),
        ["ta", "tb"],
    )
    est_u = hll_estimate(merged, ["ta", "tb"]).select(
        "ta", "tb", "total_scaled", F.col("est").alias("est_union")
    )
    est_t = hll_estimate(type_regs, ["event_type"]).select(
        "event_type", F.col("est").alias("est_t")
    )
    exact_t = raw.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_t")
    )
    exact_u = (
        raw.join(
            F.broadcast(pairs),
            (F.col("event_type") == F.col("ta"))
            | (F.col("event_type") == F.col("tb")),
        )
        .groupBy("ta", "tb")
        .agg(F.count_distinct("user_id").alias("exact_union"))
    )
    est_int = (
        F.col("a.est_t") + F.col("b.est_t") - F.col("est_union")
    ).alias("est_int")
    exact_int = (
        F.col("a2.exact_t") + F.col("b2.exact_t") - F.col("exact_union")
    ).alias("exact_int")
    return (
        est_u.join(exact_u, ["ta", "tb"])
        .join(est_t.alias("a"), F.col("ta") == F.col("a.event_type"))
        .join(est_t.alias("b"), F.col("tb") == F.col("b.event_type"))
        .join(exact_t.alias("a2"), F.col("ta") == F.col("a2.event_type"))
        .join(exact_t.alias("b2"), F.col("tb") == F.col("b2.event_type"))
        .select(
            "ta",
            "tb",
            "total_scaled",
            "est_union",
            "exact_union",
            (
                F.abs(F.col("est_union") / F.col("exact_union") - 1.0)
                <= F.lit(0.15)
            ).alias("union_ok"),
            est_int,
            exact_int,
        )
        .withColumn(
            "int_ok",
            F.abs(F.col("est_int") - F.col("exact_int")).cast("double")
            <= F.greatest(
                F.col("exact_union") * F.lit(0.25), F.lit(8.0)
            ),
        )
        .orderBy("ta", "tb")
    )


ORACLE_HLL_UNION = f"""
WITH {_ORACLE_SHRED},
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type
),
merged AS (
  SELECT p.ta, p.tb, t.j, MAX(t.r) AS r
  FROM pairs p JOIN type_regs t
    ON t.event_type = p.ta OR t.event_type = p.tb
  GROUP BY 1, 2, 3
),
agg AS (
  SELECT ta, tb, COUNT(*) AS n_regs,
         CAST(SUM(CAST(power(2.0, 53 - r) AS BIGINT))
           + (512 - COUNT(*)) * 9007199254740992 AS BIGINT) AS total_scaled
  FROM merged GROUP BY 1, 2
),
est_u AS (
  SELECT ta, tb, total_scaled,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                     * 9007199254740992.0 / CAST(total_scaled AS DOUBLE)
                   <= 2.5 * 512 AND 512 - n_regs > 0
              THEN CAST(FLOOR(512.0 * ln(512.0 / CAST(512 - n_regs AS DOUBLE))
                              + 0.5) AS BIGINT)
              ELSE {_EST}
         END AS est_union
  FROM agg
),
tagg AS (
  SELECT event_type, COUNT(*) AS n_regs,
         CAST(SUM(CAST(power(2.0, 53 - r) AS BIGINT))
           + (512 - COUNT(*)) * 9007199254740992 AS BIGINT) AS total_scaled
  FROM type_regs GROUP BY 1
),
est_t AS (
  SELECT event_type,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                     * 9007199254740992.0 / CAST(total_scaled AS DOUBLE)
                   <= 2.5 * 512 AND 512 - n_regs > 0
              THEN CAST(FLOOR(512.0 * ln(512.0 / CAST(512 - n_regs AS DOUBLE))
                              + 0.5) AS BIGINT)
              ELSE {_EST}
         END AS est_t
  FROM tagg
),
exact_t AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_t
  FROM events GROUP BY 1
),
exact_u AS (
  SELECT p.ta, p.tb, COUNT(DISTINCT e.user_id) AS exact_union
  FROM pairs p JOIN events e
    ON e.event_type = p.ta OR e.event_type = p.tb
  GROUP BY 1, 2
)
SELECT u.ta, u.tb, u.total_scaled, u.est_union, x.exact_union,
       abs(CAST(u.est_union AS DOUBLE) / x.exact_union - 1.0) <= 0.15
         AS union_ok,
       ea.est_t + eb.est_t - u.est_union AS est_int,
       xa.exact_t + xb.exact_t - x.exact_union AS exact_int,
       CAST(abs((ea.est_t + eb.est_t - u.est_union)
                - (xa.exact_t + xb.exact_t - x.exact_union)) AS DOUBLE)
         <= greatest(x.exact_union * 0.25, 8.0) AS int_ok
FROM est_u u
JOIN exact_u x ON u.ta = x.ta AND u.tb = x.tb
JOIN est_t ea ON ea.event_type = u.ta
JOIN est_t eb ON eb.event_type = u.tb
JOIN exact_t xa ON xa.event_type = u.ta
JOIN exact_t xb ON xb.event_type = u.tb
ORDER BY u.ta, u.tb
"""


def q_sketch_hll_merge_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global distinct users via a TWO-level register merge — raw →
    (event_type, day, j) → (j) — against an oracle that merges through
    a DIFFERENT intermediate granularity (event_type only).
    Bit-equal total_scaled across the different
    paths (and engines) is the associativity proof that makes register
    rollups safe to build incrementally at 100 TB: daily partial
    rollups merged later are exactly the registers a full rescan would
    produce."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
    )
    fine = hll_registers(ev, ["event_type", "day"], "user_id")
    total = hll_merge(fine, [])
    est = hll_estimate(total, [])
    exact = load_table(spark, sf_dir, "events").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return est.crossJoin(exact).select(
        "n_regs",
        "total_scaled",
        F.col("est").alias("est_users"),
        "exact_users",
        (
            F.abs(F.col("est") / F.col("exact_users") - 1.0) <= F.lit(0.15)
        ).alias("est_ok"),
    )


ORACLE_HLL_MERGE_TOTAL = f"""
WITH {_ORACLE_SHRED},
total AS (
  SELECT j, MAX(r) AS r FROM type_regs GROUP BY 1
),
agg AS (
  SELECT COUNT(*) AS n_regs,
         CAST(SUM(CAST(power(2.0, 53 - r) AS BIGINT))
           + (512 - COUNT(*)) * 9007199254740992 AS BIGINT) AS total_scaled
  FROM total
)
SELECT n_regs, total_scaled,
       CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                   * 9007199254740992.0 / CAST(total_scaled AS DOUBLE)
                 <= 2.5 * 512 AND 512 - n_regs > 0
            THEN CAST(FLOOR(512.0 * ln(512.0 / CAST(512 - n_regs AS DOUBLE))
                            + 0.5) AS BIGINT)
            ELSE {_EST}
       END AS est_users,
       x.exact_users,
       abs(CAST(CASE WHEN (0.7213 / (1.0 + 1.079 / 512.0)) * 512.0 * 512.0
                   * 9007199254740992.0 / CAST(total_scaled AS DOUBLE)
                 <= 2.5 * 512 AND 512 - n_regs > 0
            THEN CAST(FLOOR(512.0 * ln(512.0 / CAST(512 - n_regs AS DOUBLE))
                            + 0.5) AS BIGINT)
            ELSE {_EST}
       END AS DOUBLE) / x.exact_users - 1.0) <= 0.15 AS est_ok
FROM agg
CROSS JOIN (SELECT COUNT(DISTINCT user_id) AS exact_users FROM events) x
"""


def _ensure_merge_mv(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    cols: list,
    sketch: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    stream: Callable[[SparkSession, str], DataFrame] = _events_stream,
    replay: tuple[str, str] = ("events", "event_id < 500"),
):
    """Streaming mergeable-sketch materialized view: each micro-batch of
    ``stream`` (projected to ``cols``) is sketched and folded into the
    txlog table ``txlog_stream_<name>_mv`` through the serializable
    ``merge`` primitive with the per-batch txn identity
    ``(<name>_mv, batch_id)`` — the incremental-MV refresh shape.
    Because ``merge`` is associative, the MV after any number of batches
    equals a full-rescan sketch — exactly what the declared query's
    oracle computes, so its digest gate certifies BOTH the incremental
    maintenance and exactly-once delivery (a dropped or doubled batch
    changes the result).  Batch 0 is adversarially replayed after the
    drain with a deterministic ``(table, predicate)`` slice — limit()
    would be an arbitrary subset, so a dedup regression would not
    corrupt reproducibly — and must be a txn no-op.

    At 100 TB: per-batch work is one bounded aggregate over the batch
    plus a rewrite of a KB-sized sketch table; raw data is never
    re-read."""
    import os

    from .plans.txlog import TxTable

    root = _fx(sf_dir, f"txlog_stream_{name}_mv")
    app = f"{name}_mv"

    def build() -> None:
        t = TxTable(root)

        def refresh(bdf: DataFrame, batch_id: int) -> None:
            part = sketch(bdf)

            def fold(current: DataFrame | None) -> DataFrame:
                if current is None:
                    return part
                return merge(current.unionByName(part))

            TxTable(root).merge(bdf.sparkSession, fold, txn=(app, batch_id))

        _drain(
            stream(spark, sf_dir)
            .select(*cols)
            .writeStream.foreachBatch(refresh)
            .option("checkpointLocation", os.path.join(root, "_chk"))
        )
        table, pred = replay
        batch0 = load_table(spark, sf_dir, table).filter(pred).select(*cols)
        _check_replay(
            root,
            t.latest_version,
            lambda: t.merge(spark, lambda _cur: sketch(batch0), txn=(app, 0)),
        )

    _build_once(root, build)
    return TxTable(root)


def _ensure_stream_hll_mv(spark: SparkSession, sf_dir: str):
    # register MAX is associative, commutative and idempotent
    return _ensure_merge_mv(
        spark,
        sf_dir,
        "hll",
        ["event_type", "user_id"],
        lambda df: hll_registers(df, ["event_type"], "user_id"),
        lambda df: hll_merge(df, ["event_type"]),
    )


def q_stream_hll_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type read from the STREAMED register MV
    (see _ensure_stream_hll_mv) — never from raw events.  The oracle
    recomputes registers directly from the events table, so the hash
    gate proves the incremental merges converged to exactly the
    full-rescan registers AND the sink was exactly-once (a replayed or
    double-applied batch cannot corrupt a MAX-merge's *digest* only if
    it carries the same keys — but a dropped or clobbered batch would
    change total_scaled)."""
    t = _ensure_stream_hll_mv(spark, sf_dir)
    est = hll_estimate(t.read(spark), ["event_type"])
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_regs",
            "total_scaled",
            F.col("est").alias("est_users"),
            "exact_users",
            (
                F.abs(F.col("est") / F.col("exact_users") - 1.0)
                <= F.lit(0.15)
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# theta/KMV sketches — the set operations HLL cannot express directly
# ---------------------------------------------------------------------------

# one definition of the KMV build (functions/theta.py scheme) so the
# Spark path can never fork from the oracle's: distinct 52-bit md5
# values per o_orderpriority, k=256 smallest retained
_THETA_K = 256
_THETA_DOMAIN = 4503599627370496  # 2^52
_ORACLE_THETA_CTES = f"""
hv AS (
  SELECT DISTINCT o_orderpriority AS seg,
         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13))::UBIGINT
              AS BIGINT) AS v
  FROM orders
),
sk AS (
  SELECT seg, v FROM (
    SELECT seg, v,
           row_number() OVER (PARTITION BY seg ORDER BY v) AS rn
    FROM hv) WHERE rn <= {_THETA_K}
),
th AS (
  SELECT seg, COUNT(*) AS n_vals,
         CASE WHEN COUNT(*) >= {_THETA_K} THEN MAX(v)
              ELSE {_THETA_DOMAIN} END AS theta_v,
         CAST(SUM(v) AS BIGINT) AS digest,
         CASE WHEN COUNT(*) >= {_THETA_K}
              THEN CAST(FLOOR(CAST({_THETA_K - 1} AS DOUBLE)
                              * CAST({_THETA_DOMAIN} AS DOUBLE)
                              / CAST(MAX(v) AS DOUBLE) + 0.5) AS BIGINT)
              ELSE COUNT(*) END AS est
  FROM sk GROUP BY 1
),
pairs AS (
  SELECT a.seg AS sa, b.seg AS sb
  FROM (SELECT DISTINCT o_orderpriority AS seg FROM orders) a
  JOIN (SELECT DISTINCT o_orderpriority AS seg FROM orders) b
    ON a.seg < b.seg
),
pt AS (
  SELECT p.sa, p.sb, least(ta.theta_v, tb.theta_v) AS theta_v
  FROM pairs p
  JOIN th ta ON ta.seg = p.sa
  JOIN th tb ON tb.seg = p.sb
),
du AS (SELECT DISTINCT o_orderpriority AS seg, o_custkey AS c FROM orders)
"""


def q_sketch_theta_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority distinct customers from a KMV sketch built at MONTH
    granularity and merged to priority level (functions/theta.py) —
    the oracle sketches directly at priority level, so bit-equal
    ``digest`` (Σ of the retained 52-bit values) proves KMV merge is
    lossless across granularities AND engines, the property that makes
    incremental daily sketch rollups safe at 100 TB.  The estimate is
    gated within 20% of the exact count (RSE ≈ 1/√254 ≈ 6.3%); groups
    under k distinct values take the exact path (theta_v = 2^52)."""
    from .functions.theta import kmv_merge, kmv_sketch, kmv_stats

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("seg"),
        F.date_trunc("month", "o_orderdate").alias("mo"),
        "o_custkey",
    )
    fine = kmv_sketch(od, ["seg", "mo"], "o_custkey", _THETA_K)
    merged = kmv_merge(fine, ["seg"], _THETA_K)
    st = kmv_stats(merged, ["seg"], _THETA_K)
    exact = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("seg"))
        .agg(F.count_distinct("o_custkey").alias("exact_cust"))
    )
    return (
        st.join(exact, "seg")
        .select(
            "seg",
            "n_vals",
            "theta_v",
            "digest",
            F.col("est").alias("est_cust"),
            "exact_cust",
            (
                F.abs(F.col("est") / F.col("exact_cust") - 1.0)
                <= F.lit(0.20)
            ).alias("est_ok"),
        )
        .orderBy("seg")
    )


ORACLE_THETA_BUILD = f"""
WITH {_ORACLE_THETA_CTES},
exact AS (SELECT seg, COUNT(*) AS exact_cust FROM du GROUP BY 1)
SELECT t.seg, t.n_vals, t.theta_v, t.digest, t.est AS est_cust,
       x.exact_cust,
       abs(CAST(t.est AS DOUBLE) / x.exact_cust - 1.0) <= 0.20 AS est_ok
FROM th t JOIN exact x USING (seg)
ORDER BY t.seg
"""


def _theta_pair_estimates(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """For every unordered pair of order priorities: the theta set
    operation ``how`` (kmv_set_op: "left_semi" = A ∩ B, "left_anti" =
    A \\ B) over the per-priority customer sketches, beside the exact
    count of the same set expression over the raw (priority, customer)
    pairs.  Returns (sa, sb, theta_v, n, digest, est, exact)."""
    from .functions.theta import kmv_set_op, kmv_sketch, kmv_stats

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("seg"), "o_custkey"
    )
    sk = kmv_sketch(od, ["seg"], "o_custkey", _THETA_K)
    segs = od.select("seg").distinct()
    pairs = (
        segs.select(F.col("seg").alias("sa"))
        .crossJoin(segs.select(F.col("seg").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    du = od.distinct()
    exact = (
        F.broadcast(pairs)
        .join(du.select(F.col("seg").alias("sa"), "o_custkey"), "sa")
        .join(
            du.select(F.col("seg").alias("sb"), "o_custkey"),
            ["sb", "o_custkey"],
            how,
        )
        .groupBy("sa", "sb")
        .agg(F.count_distinct("o_custkey").alias("exact"))
    )
    return (
        kmv_set_op(sk, kmv_stats(sk, ["seg"], _THETA_K), pairs, "seg", how)
        .join(exact, ["sa", "sb"], "left")
        .withColumn("exact", F.coalesce("exact", F.lit(0)))
    )


def q_sketch_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECT intersection estimate from theta sketches — the set
    operation HLL registers cannot express (inclusion–exclusion noise
    grows with the union; the theta sample scales only with 1/theta).
    For every unordered priority pair: theta = min of the two sketch
    thresholds, the common retained values below theta are an exact
    uniform sample of the intersection, and est = |sample|·2^52/theta.
    ``digest_common`` (Σ of the sampled values) is hash-gated exactly;
    the estimate within max(20%, 15 absolute) of the exact overlap."""
    return (
        _theta_pair_estimates(spark, sf_dir, "left_semi")
        .select(
            "sa",
            "sb",
            "theta_v",
            F.col("n").alias("n_common"),
            F.col("digest").alias("digest_common"),
            F.col("est").alias("est_int"),
            F.col("exact").alias("exact_int"),
        )
        .withColumn(
            "int_ok",
            F.abs(F.col("est_int") - F.col("exact_int")).cast("double")
            <= F.greatest(F.col("exact_int") * F.lit(0.20), F.lit(15.0)),
        )
        .orderBy("sa", "sb")
    )


_ORACLE_SCALE = f"""
  CASE WHEN {{t}} >= {_THETA_DOMAIN} THEN CAST({{c}} AS BIGINT)
       ELSE CAST(FLOOR(CAST({{c}} AS DOUBLE) * {float(_THETA_DOMAIN)}
                       / CAST({{t}} AS DOUBLE) + 0.5) AS BIGINT) END
"""

ORACLE_THETA_INTERSECT = f"""
WITH {_ORACLE_THETA_CTES},
acom AS (
  SELECT pt.sa, pt.sb, sa_.v
  FROM pt
  JOIN sk sa_ ON sa_.seg = pt.sa AND sa_.v < pt.theta_v
  JOIN sk sb_ ON sb_.seg = pt.sb AND sb_.v = sa_.v
),
cm AS (
  SELECT sa, sb, COUNT(*) AS n_common,
         CAST(SUM(v) AS BIGINT) AS digest_common
  FROM acom GROUP BY 1, 2
),
common AS (
  SELECT pt.sa, pt.sb, pt.theta_v,
         COALESCE(cm.n_common, 0) AS n_common,
         COALESCE(cm.digest_common, 0) AS digest_common
  FROM pt LEFT JOIN cm ON cm.sa = pt.sa AND cm.sb = pt.sb
),
exact_i AS (
  SELECT p.sa, p.sb, COUNT(*) AS exact_int
  FROM pairs p
  JOIN du a ON a.seg = p.sa
  JOIN du b ON b.seg = p.sb AND b.c = a.c
  GROUP BY 1, 2
)
SELECT c.sa, c.sb, c.theta_v, c.n_common, c.digest_common,
       {_ORACLE_SCALE.format(t="c.theta_v", c="c.n_common")} AS est_int,
       COALESCE(x.exact_int, 0) AS exact_int,
       CAST(abs({_ORACLE_SCALE.format(t="c.theta_v", c="c.n_common")}
                - COALESCE(x.exact_int, 0)) AS DOUBLE)
         <= greatest(COALESCE(x.exact_int, 0) * 0.20, 15.0) AS int_ok
FROM common c
LEFT JOIN exact_i x ON x.sa = c.sa AND x.sb = c.sb
ORDER BY c.sa, c.sb
"""


def q_sketch_theta_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-DIFFERENCE estimate from theta sketches: customers who
    placed orders at priority ``sa`` but never at ``sb`` — an
    anti-join on the retained samples below the pair's theta, scaled
    by 2^52/theta.  The difference is the harder target (here ~13% of
    either set, where HLL inclusion–exclusion error would swamp the
    signal); the sample digest is hash-gated exactly and the estimate
    within max(45%, 25 absolute) of the exact anti-join count (sample
    of a small set ⇒ relatively wider but still useful bounds — the
    bound itself is part of the declared contract)."""
    return (
        _theta_pair_estimates(spark, sf_dir, "left_anti")
        .select(
            "sa",
            "sb",
            "theta_v",
            F.col("n").alias("n_only"),
            F.col("digest").alias("digest_only"),
            F.col("est").alias("est_diff"),
            F.col("exact").alias("exact_diff"),
        )
        .withColumn(
            "diff_ok",
            F.abs(F.col("est_diff") - F.col("exact_diff")).cast("double")
            <= F.greatest(F.col("exact_diff") * F.lit(0.45), F.lit(25.0)),
        )
        .orderBy("sa", "sb")
    )


ORACLE_THETA_DIFF = f"""
WITH {_ORACLE_THETA_CTES},
adiff AS (
  SELECT pt.sa, pt.sb, sa_.v
  FROM pt
  JOIN sk sa_ ON sa_.seg = pt.sa AND sa_.v < pt.theta_v
  LEFT JOIN sk sb_ ON sb_.seg = pt.sb AND sb_.v = sa_.v
  WHERE sb_.v IS NULL
),
oa AS (
  SELECT sa, sb, COUNT(*) AS n_only,
         CAST(SUM(v) AS BIGINT) AS digest_only
  FROM adiff GROUP BY 1, 2
),
only_a AS (
  SELECT pt.sa, pt.sb, pt.theta_v,
         COALESCE(oa.n_only, 0) AS n_only,
         COALESCE(oa.digest_only, 0) AS digest_only
  FROM pt LEFT JOIN oa ON oa.sa = pt.sa AND oa.sb = pt.sb
),
exact_d AS (
  SELECT p.sa, p.sb, COUNT(*) AS exact_diff
  FROM pairs p
  JOIN du a ON a.seg = p.sa
  WHERE NOT EXISTS (SELECT 1 FROM du b
                    WHERE b.seg = p.sb AND b.c = a.c)
  GROUP BY 1, 2
)
SELECT o.sa, o.sb, o.theta_v, o.n_only, o.digest_only,
       {_ORACLE_SCALE.format(t="o.theta_v", c="o.n_only")} AS est_diff,
       COALESCE(x.exact_diff, 0) AS exact_diff,
       CAST(abs({_ORACLE_SCALE.format(t="o.theta_v", c="o.n_only")}
                - COALESCE(x.exact_diff, 0)) AS DOUBLE)
         <= greatest(COALESCE(x.exact_diff, 0) * 0.45, 25.0) AS diff_ok
FROM only_a o
LEFT JOIN exact_d x ON x.sa = o.sa AND x.sb = o.sb
ORDER BY o.sa, o.sb
"""


# ---------------------------------------------------------------------------
# streaming theta MV + deterministic-sample AQP
# ---------------------------------------------------------------------------

_THETA_MV_K = 64  # events has 150 users/type at sf0.01 — k=64 keeps the
# sketch in the full (theta < domain) regime there, exact below


def _ensure_stream_theta_mv(spark: SparkSession, sf_dir: str):
    # KMV merge (dedup + global bottom-k of hashes) is associative and
    # idempotent
    from .functions.theta import kmv_merge, kmv_sketch

    return _ensure_merge_mv(
        spark,
        sf_dir,
        "theta",
        ["event_type", "user_id"],
        lambda df: kmv_sketch(df, ["event_type"], "user_id", _THETA_MV_K),
        lambda df: kmv_merge(df, ["event_type"], _THETA_MV_K),
    )


def q_stream_theta_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type read from the STREAMED KMV MV —
    never from raw events.  The oracle rebuilds the k=64 sketch
    directly from the events table; bit-equal ``digest`` proves the
    incremental merges converged to the full-rescan sketch and the
    sink was exactly-once (a dropped or doubled batch changes the
    retained value set)."""
    from .functions.theta import kmv_stats

    t = _ensure_stream_theta_mv(spark, sf_dir)
    st = kmv_stats(
        t.read(spark).withColumnRenamed("event_type", "seg"),
        ["seg"],
        _THETA_MV_K,
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("seg"))
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        st.join(exact, "seg")
        .select(
            "seg",
            "n_vals",
            "theta_v",
            "digest",
            F.col("est").alias("est_users"),
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users")).cast("double")
                <= F.greatest(
                    F.col("exact_users") * F.lit(0.35), F.lit(8.0)
                )
            ).alias("est_ok"),
        )
        .orderBy("seg")
    )


ORACLE_STREAM_THETA_MV = f"""
WITH hv AS (
  SELECT DISTINCT event_type AS seg,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::UBIGINT
              AS BIGINT) AS v
  FROM events
),
sk AS (
  SELECT seg, v FROM (
    SELECT seg, v,
           row_number() OVER (PARTITION BY seg ORDER BY v) AS rn
    FROM hv) WHERE rn <= {_THETA_MV_K}
),
th AS (
  SELECT seg, COUNT(*) AS n_vals,
         CASE WHEN COUNT(*) >= {_THETA_MV_K} THEN MAX(v)
              ELSE {_THETA_DOMAIN} END AS theta_v,
         CAST(SUM(v) AS BIGINT) AS digest,
         CASE WHEN COUNT(*) >= {_THETA_MV_K}
              THEN CAST(FLOOR(CAST({_THETA_MV_K - 1} AS DOUBLE)
                              * CAST({_THETA_DOMAIN} AS DOUBLE)
                              / CAST(MAX(v) AS DOUBLE) + 0.5) AS BIGINT)
              ELSE COUNT(*) END AS est
  FROM sk GROUP BY 1
),
exact AS (
  SELECT event_type AS seg, COUNT(DISTINCT user_id) AS exact_users
  FROM events GROUP BY 1
)
SELECT t.seg, t.n_vals, t.theta_v, t.digest, t.est AS est_users,
       x.exact_users,
       CAST(abs(t.est - x.exact_users) AS DOUBLE)
         <= greatest(x.exact_users * 0.35, 8.0) AS est_ok
FROM th t JOIN exact x USING (seg)
ORDER BY t.seg
"""


def q_sample_aqp_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing from a DETERMINISTIC hash-Bernoulli
    sample (functions/theta.py det_sample): per-returnflag revenue and
    row counts estimated from the exactly-reproducible 1/16 sample —
    the same rows in Spark, DuckDB, any partitioning, any rerun, which
    is what lets the oracle gate the sample MEMBERSHIP itself
    (``n_sample`` and a mod-p hash digest match exactly) rather than
    just an error band.  Estimates scale by ×16; sums go through
    DECIMAL(18,4) for exact cross-engine addition before one double
    conversion.  At 100 TB the sample filter is a pushed-down JVM
    predicate at the scan — the 15/16 of the data outside the sample
    is never aggregated."""
    from .functions.theta import det_sample, theta_hash

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("rev"),
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("k"),
    )
    samp = det_sample(li, F.col("k"), 16)
    g = samp.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.sum(theta_hash(F.col("k")) % F.lit(1000003)).alias("digest"),
        F.sum("rev").alias("s_rev"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("exact_cnt"),
        F.sum("rev").alias("x_rev"),
    )
    return (
        g.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_sample",
            "digest",
            (F.col("n_sample") * F.lit(16)).alias("est_cnt"),
            "exact_cnt",
            (
                F.abs(F.col("n_sample") * F.lit(16) - F.col("exact_cnt"))
                .cast("double")
                <= F.col("exact_cnt") * F.lit(0.15)
            ).alias("cnt_ok"),
            (F.col("s_rev").cast("double") * F.lit(16.0)).alias("est_rev"),
            F.col("x_rev").cast("double").alias("exact_rev"),
            (
                F.abs(
                    F.col("s_rev").cast("double") * F.lit(16.0)
                    - F.col("x_rev").cast("double")
                )
                <= F.col("x_rev").cast("double") * F.lit(0.15)
            ).alias("rev_ok"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_SAMPLE_AQP = f"""
WITH li AS (
  SELECT l_returnflag,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
         CAST(l_orderkey AS VARCHAR) || '-'
           || CAST(l_linenumber AS VARCHAR) AS k
  FROM lineitem
),
hv AS (
  SELECT l_returnflag, rev,
         CAST(('0x' || substr(md5(k), 1, 13))::UBIGINT AS BIGINT) AS v
  FROM li
),
samp AS (SELECT * FROM hv WHERE v < {_THETA_DOMAIN // 16}),
g AS (
  SELECT l_returnflag, COUNT(*) AS n_sample,
         CAST(SUM(v % 1000003) AS BIGINT) AS digest,
         SUM(rev) AS s_rev
  FROM samp GROUP BY 1
),
exact AS (
  SELECT l_returnflag, COUNT(*) AS exact_cnt, SUM(rev) AS x_rev
  FROM li GROUP BY 1
)
SELECT g.l_returnflag, g.n_sample, g.digest,
       g.n_sample * 16 AS est_cnt, x.exact_cnt,
       CAST(abs(g.n_sample * 16 - x.exact_cnt) AS DOUBLE)
         <= x.exact_cnt * 0.15 AS cnt_ok,
       CAST(g.s_rev AS DOUBLE) * 16.0 AS est_rev,
       CAST(x.x_rev AS DOUBLE) AS exact_rev,
       abs(CAST(g.s_rev AS DOUBLE) * 16.0 - CAST(x.x_rev AS DOUBLE))
         <= CAST(x.x_rev AS DOUBLE) * 0.15 AS rev_ok
FROM g JOIN exact x USING (l_returnflag)
ORDER BY g.l_returnflag
"""


# ---------------------------------------------------------------------------
# mergeable QUANTILE sketch (exact-integer log bins — functions/qsketch.py)
# ---------------------------------------------------------------------------

_Q_NAMES = [("p50_est", 0.50), ("p90_est", 0.90), ("p99_est", 0.99)]
_Q_BOUND = 0.07  # bin midpoint is within 6.25% of the true order stat


def _cents_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("seg"),
        F.date_trunc("month", "o_orderdate").alias("mo"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )


def _qsketch_result(
    spark: SparkSession, sf_dir: str, dims: list[str]
) -> DataFrame:
    """Shared shape for the quantile-sketch queries: build the bin
    rollup at (dims…, month), merge to ``dims``, then emit per group
    the rollup digest (hash-gated exactly — merge associativity proof),
    the midpoint quantile estimates (ALSO hash-gated exactly: the
    midpoint is exact IEEE arithmetic in both engines), and error-bound
    booleans against the true order statistics at the same ceil(q·n)
    rank rule the estimator uses."""
    from .functions.qsketch import (
        logbin_merge,
        logbin_quantiles,
        logbin_table,
    )

    src = _cents_src(spark, sf_dir)
    fine = logbin_table(src, [*dims, "mo"], "cents")
    merged = logbin_merge(fine, dims)
    agg = merged.groupBy(*dims).agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(F.col("bin") * F.col("cnt")).alias("digest"),
    )
    est = logbin_quantiles(merged, dims, _Q_NAMES)

    wn = Window.partitionBy(*dims) if dims else Window.partitionBy()
    rk = src.select(
        *dims,
        "cents",
        F.row_number().over(wn.orderBy("cents")).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    exact = rk.groupBy(*dims).agg(
        *[
            F.min(
                F.when(
                    F.col("rk") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("cents"),
                )
            ).alias(name.replace("_est", "_exact"))
            for name, q in _Q_NAMES
        ]
    )
    joined = (
        agg.join(est, dims) if dims else agg.crossJoin(F.broadcast(est))
    )
    joined = (
        joined.join(exact, dims)
        if dims
        else joined.crossJoin(F.broadcast(exact))
    )
    return joined.select(
        *dims,
        "n_rows",
        "n_bins",
        "digest",
        *[F.col(name) for name, _ in _Q_NAMES],
        *[
            (
                F.abs(
                    F.col(name) / F.col(name.replace("_est", "_exact"))
                    - 1.0
                )
                <= F.lit(_Q_BOUND)
            ).alias(name.replace("_est", "_ok"))
            for name, _ in _Q_NAMES
        ],
    )


def _ensure_stream_quantile_mv(spark: SparkSession, sf_dir: str):
    # per-bin count SUM is associative (exact-integer log bins over
    # value-cents)
    from .functions.qsketch import logbin_merge, logbin_table

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return _ensure_merge_mv(
        spark,
        sf_dir,
        "quantile",
        ["event_type", cents.alias("cents")],
        lambda df: logbin_table(df, ["event_type"], "cents"),
        lambda df: logbin_merge(df, ["event_type"]),
    )


def q_stream_quantile_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value quantiles read from the STREAMED bin MV —
    never from raw events.  The oracle bins the events table directly,
    so the hash-gated digest proves the incremental count-merges
    converged to exactly the full-rescan bins AND the sink was
    exactly-once (a dropped or double-applied batch changes the
    digest); the midpoint estimates also hash-compare exactly."""
    from .functions.qsketch import logbin_quantiles

    t = _ensure_stream_quantile_mv(spark, sf_dir)
    merged = t.read(spark)
    agg = merged.groupBy("event_type").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(F.col("bin") * F.col("cnt")).alias("digest"),
    )
    est = logbin_quantiles(merged, ["event_type"], _Q_NAMES)
    wn = Window.partitionBy("event_type")
    src = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    rk = src.select(
        "event_type",
        "cents",
        F.row_number().over(wn.orderBy("cents")).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    exact = rk.groupBy("event_type").agg(
        *[
            F.min(
                F.when(
                    F.col("rk") >= F.ceil(F.lit(q) * F.col("n")),
                    F.col("cents"),
                )
            ).alias(name.replace("_est", "_exact"))
            for name, q in _Q_NAMES
        ]
    )
    return (
        agg.join(est, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_rows",
            "n_bins",
            "digest",
            *[F.col(name) for name, _ in _Q_NAMES],
            *[
                (
                    F.abs(
                        F.col(name)
                        / F.col(name.replace("_est", "_exact"))
                        - 1.0
                    )
                    <= F.lit(_Q_BOUND)
                ).alias(name.replace("_est", "_ok"))
                for name, _ in _Q_NAMES
            ],
        )
        .orderBy("event_type")
    )


def q_sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order-value quantiles from the mergeable log-bin
    rollup (functions/qsketch.py): Spark builds at MONTH granularity
    and merges to priority; the oracle bins directly at priority — the
    bit-equal ``digest`` proves count-merge associativity across
    granularities AND engines, and even the p50/p90/p99 midpoint
    ESTIMATES hash-compare exactly (pure power-of-two IEEE
    arithmetic).  ``*_ok`` pins the ≤6.25% relative-error contract
    against true order statistics at the same rank rule."""
    return _qsketch_result(spark, sf_dir, ["seg"]).orderBy("seg")


def q_sketch_quantile_merge_total(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Global quantiles through a TWO-level merge (month bins → global)
    vs the oracle's direct global build — digest equality is the
    associativity proof that makes incremental per-partition quantile
    rollups safe to fold at 100 TB."""
    return _qsketch_result(spark, sf_dir, [])


_QB = oracle_bin_sql("cents")
_ORACLE_Q_CTES = f"""
src AS (
  SELECT o_orderpriority AS seg,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
)"""


def _oracle_qsketch(dims_sql: str, src_cte: str | None = None) -> str:
    """dims_sql: 'seg' or '' — the group-by key list; src_cte overrides
    the orders-cents source (must emit the key column + ``cents``)."""
    key = dims_sql
    sel = f"{key}, " if key else ""
    part = f"PARTITION BY {key}" if key else ""
    grp = f"GROUP BY {key}" if key else ""
    mids = {
        name: oracle_midpoint_sql(f"b{name[1:3]}")
        for name, _ in _Q_NAMES
    }
    return f"""
WITH {src_cte if src_cte is not None else _ORACLE_Q_CTES},
b AS (
  SELECT {sel}{_QB} AS bin, count(*) AS cnt
  FROM src GROUP BY {key + ", " if key else ""}bin
),
agg AS (
  SELECT {sel}CAST(sum(cnt) AS BIGINT) AS n_rows,
         count(*) AS n_bins,
         CAST(sum(bin * cnt) AS BIGINT) AS digest
  FROM b {grp}
),
cum AS (
  SELECT {sel}bin,
         sum(cnt) OVER ({part} ORDER BY bin) AS cum,
         sum(cnt) OVER ({part}) AS n
  FROM b
),
qb AS (
  SELECT {sel}
         min(CASE WHEN cum >= ceiling(0.50 * n) THEN bin END) AS b50,
         min(CASE WHEN cum >= ceiling(0.90 * n) THEN bin END) AS b90,
         min(CASE WHEN cum >= ceiling(0.99 * n) THEN bin END) AS b99
  FROM cum {grp}
),
est AS (
  SELECT {sel}
         {mids["p50_est"]} AS p50_est,
         {mids["p90_est"]} AS p90_est,
         {mids["p99_est"]} AS p99_est
  FROM qb
),
rk AS (
  SELECT {sel}cents,
         row_number() OVER ({part} ORDER BY cents) AS rk,
         count(*) OVER ({part}) AS n
  FROM src
),
ex AS (
  SELECT {sel}
         min(CASE WHEN rk >= ceiling(0.50 * n) THEN cents END) AS x50,
         min(CASE WHEN rk >= ceiling(0.90 * n) THEN cents END) AS x90,
         min(CASE WHEN rk >= ceiling(0.99 * n) THEN cents END) AS x99
  FROM rk {grp}
)
SELECT {("agg." + key + ", ") if key else ""}n_rows, n_bins, digest,
       p50_est, p90_est, p99_est,
       abs(p50_est / x50 - 1.0) <= {_Q_BOUND} AS p50_ok,
       abs(p90_est / x90 - 1.0) <= {_Q_BOUND} AS p90_ok,
       abs(p99_est / x99 - 1.0) <= {_Q_BOUND} AS p99_ok
FROM agg
{f"JOIN est USING ({key}) JOIN ex USING ({key})" if key
 else "CROSS JOIN est CROSS JOIN ex"}
{f"ORDER BY agg.{key}" if key else ""}
"""


ORACLE_QUANTILE_ROLLUP = _oracle_qsketch("seg")
ORACLE_QUANTILE_MERGE_TOTAL = _oracle_qsketch("")
ORACLE_STREAM_QUANTILE_MV = _oracle_qsketch(
    "event_type",
    """src AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
)""",
)


# ---------------------------------------------------------------------------
# priority sampling — weighted bottom-k with unbiased subset-sum estimates
# ---------------------------------------------------------------------------


def q_sketch_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duffield–Lund–Thorup priority sample (functions/theta.py): a
    k=256-row weighted sample of ``orders`` per priority segment that
    answers ARBITRARY subset-sum questions about o_totalprice — the
    capability uniform sampling (sample_aqp_revenue) lacks for skewed
    weights and log-bin rollups lack for ad-hoc predicates.

    Three gated properties per segment:
    * **merge losslessness** — the sample is built at MONTH granularity
      and merged to segment level; ``digest`` (Σ of the retained 52-bit
      key hashes, exact BIGINT) and tau must equal a direct
      segment-level build bit-for-bit (digest_match / tau_match), the
      proof that incremental daily samples fold safely at 100 TB.
    * **total estimate** — Σ max(w, tau) over the sample (exact integer
      cents) within 15% of the exact segment revenue.
    * **subset estimate** — the same stored sample answers "revenue
      from year-1997 orders only" (a ~1/7 subset chosen AFTER the
      sample was built) within 35%.

    All retained values, taus and estimator leaves are deterministic
    IEEE doubles derived from the portable md5→52-bit scheme, so the
    oracle recomputes the identical sample and identical cents.  At
    100 TB: one salted top-(k+1) per group (no reducer sorts a hot
    group's full set), then all estimation runs on ≤ k+1 rows per
    group.  No counterpart in the reference (azanium core.clj:1-80);
    extends the §2.12 sampling tier."""
    from .functions.theta import (
        priority_estimate_cents,
        priority_merge,
        priority_sample,
    )

    k = _THETA_K
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("seg"),
        F.date_trunc("month", "o_orderdate").alias("mo"),
        F.year("o_orderdate").alias("yr"),
        "o_orderkey",
        "o_totalprice",
    )
    fine = priority_sample(
        od, ["seg", "mo"], "o_orderkey", "o_totalprice", payload=("yr",), k=k
    )
    merged = priority_merge(fine.drop("mo"), ["seg"], k=k)
    direct = priority_sample(
        od, ["seg"], "o_orderkey", "o_totalprice", payload=("yr",), k=k
    )

    def stats(sp: DataFrame) -> DataFrame:
        tau = sp.filter(F.col("rn") == k + 1).select(
            "seg", F.col("q").alias("tau")
        )
        s = (
            sp.filter(F.col("rn") <= k)
            .join(tau, "seg", "left")
            .na.fill({"tau": 0.0})
        )
        leaf = priority_estimate_cents(F.col("w"), F.col("tau"))
        return s.groupBy("seg").agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.sum("v").alias("digest"),
            F.max("tau").alias("tau"),
            F.sum(leaf).alias("est_total_c"),
            F.sum(
                F.when(F.col("yr") == 1997, leaf).otherwise(F.lit(0))
            ).alias("est_sub_c"),
        )

    m, d = stats(merged), stats(direct)
    # exact side in integer cents too: a raw double SUM is summation-
    # order-dependent across engines (house rule; the booleans below
    # must be decided on identical numbers)
    ex_cents = F.floor(
        F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    exact = od.groupBy("seg").agg(
        F.sum(ex_cents).alias("ex_total_c"),
        F.sum(
            F.when(F.col("yr") == 1997, ex_cents).otherwise(F.lit(0))
        ).alias("ex_sub_c"),
    )
    return (
        m.alias("m")
        .join(d.alias("d"), "seg")
        .join(exact, "seg")
        .select(
            "seg",
            F.col("m.n_vals").alias("n_vals"),
            F.col("m.digest").alias("digest"),
            (F.col("m.digest") == F.col("d.digest")).alias("digest_match"),
            (F.col("m.tau") == F.col("d.tau")).alias("tau_match"),
            (F.col("m.est_total_c") / F.lit(100.0)).alias("est_total"),
            (
                F.abs(F.col("m.est_total_c") - F.col("ex_total_c"))
                <= F.col("ex_total_c") * F.lit(0.15)
            ).alias("total_ok"),
            (F.col("m.est_sub_c") / F.lit(100.0)).alias("est_sub"),
            (
                F.abs(F.col("m.est_sub_c") - F.col("ex_sub_c"))
                <= F.col("ex_sub_c") * F.lit(0.35)
            ).alias("subset_ok"),
        )
        .orderBy("seg")
    )


ORACLE_PRIORITY_SAMPLE = f"""
WITH pv AS (
  SELECT o_orderpriority AS seg, date_trunc('month', o_orderdate) AS mo,
         year(o_orderdate) AS yr, CAST(o_totalprice AS DOUBLE) AS w,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),1,13))::UBIGINT
              AS BIGINT) AS v
  FROM orders),
pq AS (SELECT *, w * {float(_THETA_DOMAIN)} / CAST(v + 1 AS DOUBLE) AS q
       FROM pv),
mk AS (SELECT * FROM (SELECT seg, mo, yr, v, w, q,
        row_number() OVER (PARTITION BY seg, mo ORDER BY q DESC, v) AS rn
        FROM pq) WHERE rn <= {_THETA_K + 1}),
mg AS (SELECT * FROM (SELECT seg, yr, v, w, q,
        row_number() OVER (PARTITION BY seg ORDER BY q DESC, v) AS rn
        FROM mk) WHERE rn <= {_THETA_K + 1}),
dg AS (SELECT * FROM (SELECT seg, yr, v, w, q,
        row_number() OVER (PARTITION BY seg ORDER BY q DESC, v) AS rn
        FROM pq) WHERE rn <= {_THETA_K + 1}),
mt AS (SELECT seg, max(CASE WHEN rn = {_THETA_K + 1} THEN q ELSE 0 END) AS tau
       FROM mg GROUP BY 1),
dt AS (SELECT seg, max(CASE WHEN rn = {_THETA_K + 1} THEN q ELSE 0 END) AS tau
       FROM dg GROUP BY 1),
ms AS (SELECT g.seg, count(*) AS n_vals, CAST(sum(v) AS BIGINT) AS digest,
        max(t.tau) AS tau,
        SUM(CAST(floor(greatest(w, t.tau) * 100.0 + 0.5) AS BIGINT))
          AS est_total_c,
        SUM(CASE WHEN yr = 1997
             THEN CAST(floor(greatest(w, t.tau) * 100.0 + 0.5) AS BIGINT)
             ELSE 0 END) AS est_sub_c
     FROM mg g JOIN mt t USING (seg) WHERE rn <= {_THETA_K} GROUP BY 1),
ds AS (SELECT g.seg, CAST(sum(v) AS BIGINT) AS digest, max(t.tau) AS tau
     FROM dg g JOIN dt t USING (seg) WHERE rn <= {_THETA_K} GROUP BY 1),
ex AS (SELECT seg,
        SUM(CAST(floor(w * 100.0 + 0.5) AS BIGINT)) AS ex_total_c,
        SUM(CASE WHEN yr = 1997
             THEN CAST(floor(w * 100.0 + 0.5) AS BIGINT)
             ELSE 0 END) AS ex_sub_c
       FROM pv GROUP BY 1)
SELECT m.seg, m.n_vals, m.digest, m.digest = d.digest AS digest_match,
       m.tau = d.tau AS tau_match,
       m.est_total_c / 100.0 AS est_total,
       abs(m.est_total_c - ex_total_c) <= ex_total_c * 0.15 AS total_ok,
       m.est_sub_c / 100.0 AS est_sub,
       abs(m.est_sub_c - ex_sub_c) <= ex_sub_c * 0.35 AS subset_ok
FROM ms m JOIN ds d USING (seg) JOIN ex USING (seg) ORDER BY m.seg
"""


# ---------------------------------------------------------------------------
# stream_priority_mv — incrementally maintained priority sample
# ---------------------------------------------------------------------------

_PRIO_MV_K = 128


def _ensure_stream_priority_mv(spark: SparkSession, sf_dir: str):
    # priority merge is lossless: the global top-(k+1) by priority
    # survives any merge order
    from .functions.theta import priority_merge, priority_sample

    return _ensure_merge_mv(
        spark,
        sf_dir,
        "priority",
        [F.col("event_type").alias("seg"), "event_id", "value"],
        lambda df: priority_sample(
            df, ["seg"], "event_id", "value", k=_PRIO_MV_K
        ),
        lambda df: priority_merge(df, ["seg"], _PRIO_MV_K),
    )


def q_stream_priority_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type total ``value`` estimated from the STREAMED
    priority-sample MV — never from raw events.  The oracle rebuilds
    the k=128 sample directly from the events table; bit-equal
    ``digest`` (Σ of retained 52-bit key hashes) proves the
    incremental priority-merges converged to the full-rescan sample
    AND the sink was exactly-once.  The estimate (Σ max(w, tau) in
    exact integer cents) gates within 25%."""
    from .functions.theta import priority_estimate_cents

    t = _ensure_stream_priority_mv(spark, sf_dir)
    sp = t.read(spark)
    k = _PRIO_MV_K
    tau = sp.filter(F.col("rn") == k + 1).select(
        "seg", F.col("q").alias("tau")
    )
    s = (
        sp.filter(F.col("rn") <= k)
        .join(tau, "seg", "left")
        .na.fill({"tau": 0.0})
    )
    st = s.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.sum("v").alias("digest"),
        F.sum(priority_estimate_cents(F.col("w"), F.col("tau"))).alias(
            "est_c"
        ),
    )
    # exact side in integer cents as well: a raw double SUM is
    # summation-order-dependent across engines (house rule)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("seg"))
        .agg(
            F.sum(
                F.floor(
                    F.col("value").cast("double") * F.lit(100.0)
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("exact_c")
        )
    )
    return (
        st.join(exact, "seg")
        .select(
            "seg",
            "n_vals",
            "digest",
            (F.col("est_c") / F.lit(100.0)).alias("est_value"),
            (F.col("exact_c") / F.lit(100.0)).alias("exact_value"),
            (
                F.abs(F.col("est_c") - F.col("exact_c"))
                <= F.greatest(
                    F.col("exact_c") * F.lit(0.25), F.lit(5000.0)
                )
            ).alias("est_ok"),
        )
        .orderBy("seg")
    )


ORACLE_STREAM_PRIORITY_MV = f"""
WITH pv AS (
  SELECT event_type AS seg, CAST(value AS DOUBLE) AS w,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),1,13))::UBIGINT
              AS BIGINT) AS v
  FROM events),
pq AS (SELECT *, w * {float(_THETA_DOMAIN)} / CAST(v + 1 AS DOUBLE) AS q
       FROM pv),
dg AS (SELECT * FROM (SELECT seg, v, w, q,
        row_number() OVER (PARTITION BY seg ORDER BY q DESC, v) AS rn
        FROM pq) WHERE rn <= {_PRIO_MV_K + 1}),
dt AS (SELECT seg, max(CASE WHEN rn = {_PRIO_MV_K + 1} THEN q ELSE 0 END)
         AS tau
       FROM dg GROUP BY 1),
st AS (SELECT g.seg, count(*) AS n_vals, CAST(sum(v) AS BIGINT) AS digest,
        SUM(CAST(floor(greatest(w, t.tau) * 100.0 + 0.5) AS BIGINT)) AS est_c
     FROM dg g JOIN dt t USING (seg) WHERE rn <= {_PRIO_MV_K} GROUP BY 1),
ex AS (SELECT event_type AS seg,
        SUM(CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT))
          AS exact_c
       FROM events GROUP BY 1)
SELECT s.seg, s.n_vals, s.digest,
       s.est_c / 100.0 AS est_value, ex.exact_c / 100.0 AS exact_value,
       abs(s.est_c - ex.exact_c)
         <= greatest(ex.exact_c * 0.25, 5000.0) AS est_ok
FROM st s JOIN ex USING (seg) ORDER BY s.seg
"""


# ---------------------------------------------------------------------------
# bottom-k uniform sample — distribution-free rank quantiles, any type
# ---------------------------------------------------------------------------

_BK_K = 512
_BK_MV_K = 256


def _ensure_stream_bottomk_mv(spark: SparkSession, sf_dir: str):
    # bottom-k merge is lossless: the global bottom-k by key hash
    # survives any merge order
    from .functions.theta import bottomk_merge, bottomk_sample

    cents = F.floor(
        F.col("value").cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    return _ensure_merge_mv(
        spark,
        sf_dir,
        "bottomk",
        [F.col("event_type").alias("seg"), "event_id", cents.alias("cents")],
        lambda df: bottomk_sample(
            df, ["seg"], "event_id", payload=("cents",), k=_BK_MV_K
        ),
        lambda df: bottomk_merge(df, ["seg"], _BK_MV_K),
    )


def q_stream_bottomk_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type rank quantiles served from the STREAMED bottom-k
    sample MV — never from raw events.  The oracle rebuilds the k=256
    sample directly from the events table; bit-equal ``digest`` (Σ of
    retained 52-bit key hashes) proves the incremental bottom-k merges
    converged to the full-rescan sample AND the sink was exactly-once.
    The p50/p90 estimates carry BIGINT rank-error gates against the
    full table (±0.10 / ±0.07 rank — ≈3σ for k=256)."""
    t = _ensure_stream_bottomk_mv(spark, sf_dir)
    sp = t.read(spark).select("seg", "cents", "v")

    wq = Window.partitionBy("seg").orderBy("cents", "v")
    wm = Window.partitionBy("seg")
    sq = sp.withColumn("qrn", F.row_number().over(wq)).withColumn(
        "m", F.count(F.lit(1)).over(wm)
    )
    est = sq.groupBy("seg").agg(
        F.max("m").alias("m"),
        F.sum("v").alias("digest"),
        F.min(
            F.when(
                F.col("qrn") == F.ceil(F.lit(0.50) * F.col("m")), F.col("cents")
            )
        ).alias("p50c"),
        F.min(
            F.when(
                F.col("qrn") == F.ceil(F.lit(0.90) * F.col("m")), F.col("cents")
            )
        ).alias("p90c"),
    )
    cents = F.floor(
        F.col("value").cast("double") * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")
    full = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("seg"), cents.alias("cents")
    )
    rk = (
        full.join(F.broadcast(est), "seg")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("cents") <= F.col("p50c")).cast("bigint")).alias(
                "r50"
            ),
            F.sum((F.col("cents") <= F.col("p90c")).cast("bigint")).alias(
                "r90"
            ),
        )
    )
    return (
        est.join(rk, "seg")
        .select(
            "seg",
            "n",
            "m",
            "digest",
            (F.col("p50c") / F.lit(100.0)).alias("p50_value"),
            (F.col("p90c") / F.lit(100.0)).alias("p90_value"),
            (
                F.abs(F.lit(1000) * F.col("r50") - F.lit(500) * F.col("n"))
                <= F.lit(100) * F.col("n")
            ).alias("r50_ok"),
            (
                F.abs(F.lit(1000) * F.col("r90") - F.lit(900) * F.col("n"))
                <= F.lit(70) * F.col("n")
            ).alias("r90_ok"),
        )
        .orderBy("seg")
    )


ORACLE_STREAM_BOTTOMK_MV = f"""
WITH pv AS (
  SELECT event_type AS seg,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),1,13))::UBIGINT
              AS BIGINT) AS v
  FROM events),
dg AS (SELECT * FROM (SELECT seg, cents, v,
          row_number() OVER (PARTITION BY seg ORDER BY v) AS rn FROM pv)
       WHERE rn <= {_BK_MV_K}),
sq AS (SELECT seg, cents, v,
        row_number() OVER (PARTITION BY seg ORDER BY cents, v) AS qrn,
        count(*) OVER (PARTITION BY seg) AS m
       FROM dg),
est AS (SELECT seg, max(m) AS m, CAST(sum(v) AS BIGINT) AS digest,
        min(CASE WHEN qrn = ceiling(0.50 * m) THEN cents END) AS p50c,
        min(CASE WHEN qrn = ceiling(0.90 * m) THEN cents END) AS p90c
       FROM sq GROUP BY 1),
rk AS (SELECT pv.seg, count(*) AS n,
        SUM(CASE WHEN cents <= e.p50c THEN 1 ELSE 0 END) AS r50,
        SUM(CASE WHEN cents <= e.p90c THEN 1 ELSE 0 END) AS r90
       FROM pv JOIN est e USING (seg) GROUP BY 1)
SELECT e.seg, rk.n, e.m, e.digest,
       e.p50c / 100.0 AS p50_value,
       e.p90c / 100.0 AS p90_value,
       abs(1000 * rk.r50 - 500 * rk.n) <= 100 * rk.n AS r50_ok,
       abs(1000 * rk.r90 - 900 * rk.n) <= 70 * rk.n AS r90_ok
FROM est e JOIN rk USING (seg)
ORDER BY e.seg
"""


def q_sketch_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k uniform-sample rank-quantile sketch (functions/
    theta.py bottomk_sample): the k=512 rows of ``orders`` with the
    smallest md5 key hashes per priority segment, payloads riding
    along.  The sample's order statistics estimate POPULATION
    quantiles of ANY orderable payload — here o_totalprice (money)
    AND o_orderdate (a DATE median, which the value-space log-bin
    sketch of functions/qsketch.py cannot express) — with
    distribution-free rank error O(1/sqrt(k)), no geometry assumption.

    Gated properties per segment:
    * **merge losslessness** — built at MONTH granularity, merged to
      segment; Σ of retained 52-bit hashes must equal a direct
      segment-level build bit-for-bit (digest_match), the proof that
      incremental daily samples fold safely at 100 TB.
    * **rank-error acceptance** — each estimate is joined back to the
      full table and its TRUE rank compared to the target in pure
      BIGINT arithmetic (|1000·r − q·1000·n| ≤ bound·n): ±0.08 rank
      at p50 (≈3.6σ for k=512), ±0.05 at p90, ±0.025 at p99, ±0.08
      for the date median.  Both engines compute the identical sample
      and identical integers, so even the booleans hash-compare.

    At 100 TB: the build is a salted top-k per group (no reducer
    sorts a hot group's full set), state is ≤ k rows per group
    forever, merges touch only k-row frames, and every quantile
    question — for any payload column carried — is answered from the
    k-row sample without re-reading raw data.  No counterpart in the
    reference (exact GNU-sort percentiles only, azanium
    core.clj:1-80); completes §2.12's mergeable-summary algebra with
    a rank-based tier next to the value-space log-bin tier."""
    from .functions.theta import bottomk_merge, bottomk_sample

    k = _BK_K
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("seg"),
        F.date_trunc("month", "o_orderdate").alias("mo"),
        "o_orderkey",
        F.floor(
            F.col("o_totalprice").cast("double") * F.lit(100.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderdate").alias("od"),
    )
    fine = bottomk_sample(
        od, ["seg", "mo"], "o_orderkey", payload=("cents", "od"), k=k
    )
    merged = bottomk_merge(fine.drop("mo"), ["seg"], k=k)
    direct = bottomk_sample(
        od, ["seg"], "o_orderkey", payload=("cents", "od"), k=k
    )

    dig_m = merged.groupBy("seg").agg(F.sum("v").alias("digest"))
    dig_d = direct.groupBy("seg").agg(F.sum("v").alias("digest_d"))

    wq = Window.partitionBy("seg").orderBy("cents", "v")
    wd = Window.partitionBy("seg").orderBy("od", "v")
    wm = Window.partitionBy("seg")
    sq = (
        merged.withColumn("qrn", F.row_number().over(wq))
        .withColumn("drn", F.row_number().over(wd))
        .withColumn("m", F.count(F.lit(1)).over(wm))
    )
    est = sq.groupBy("seg").agg(
        F.max("m").alias("m"),
        F.min(
            F.when(
                F.col("qrn") == F.ceil(F.lit(0.50) * F.col("m")), F.col("cents")
            )
        ).alias("p50c"),
        F.min(
            F.when(
                F.col("qrn") == F.ceil(F.lit(0.90) * F.col("m")), F.col("cents")
            )
        ).alias("p90c"),
        F.min(
            F.when(
                F.col("qrn") == F.ceil(F.lit(0.99) * F.col("m")), F.col("cents")
            )
        ).alias("p99c"),
        F.min(
            F.when(
                F.col("drn") == F.ceil(F.lit(0.50) * F.col("m")), F.col("od")
            )
        ).alias("d50"),
    )
    # true ranks of the estimates on the FULL table — tiny est side
    # broadcast to the scan, all gates decided in BIGINT arithmetic
    rk = (
        od.join(F.broadcast(est), "seg")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("cents") <= F.col("p50c")).cast("bigint")).alias(
                "r50"
            ),
            F.sum((F.col("cents") <= F.col("p90c")).cast("bigint")).alias(
                "r90"
            ),
            F.sum((F.col("cents") <= F.col("p99c")).cast("bigint")).alias(
                "r99"
            ),
            F.sum((F.col("od") <= F.col("d50")).cast("bigint")).alias("rd50"),
        )
    )

    def rank_ok(r: str, q_milli: int, bound_milli: int):
        return (
            F.abs(
                F.lit(1000) * F.col(r) - F.lit(q_milli) * F.col("n")
            )
            <= F.lit(bound_milli) * F.col("n")
        )

    return (
        dig_m.join(dig_d, "seg")
        .join(est, "seg")
        .join(rk, "seg")
        .select(
            "seg",
            "n",
            "m",
            "digest",
            (F.col("digest") == F.col("digest_d")).alias("digest_match"),
            (F.col("p50c") / F.lit(100.0)).alias("p50_price"),
            (F.col("p90c") / F.lit(100.0)).alias("p90_price"),
            (F.col("p99c") / F.lit(100.0)).alias("p99_price"),
            F.col("d50").alias("median_date"),
            rank_ok("r50", 500, 80).alias("r50_ok"),
            rank_ok("r90", 900, 50).alias("r90_ok"),
            rank_ok("r99", 990, 25).alias("r99_ok"),
            rank_ok("rd50", 500, 80).alias("d50_ok"),
        )
        .orderBy("seg")
    )


ORACLE_BOTTOMK_QUANTILES = f"""
WITH pv AS (
  SELECT o_orderpriority AS seg, date_trunc('month', o_orderdate) AS mo,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS cents,
         o_orderdate AS od,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),1,13))::UBIGINT
              AS BIGINT) AS v
  FROM orders),
fine AS (SELECT * FROM (SELECT seg, mo, cents, od, v,
          row_number() OVER (PARTITION BY seg, mo ORDER BY v) AS rn FROM pv)
         WHERE rn <= {_BK_K}),
mg AS (SELECT * FROM (SELECT seg, cents, od, v,
          row_number() OVER (PARTITION BY seg ORDER BY v) AS rn FROM fine)
       WHERE rn <= {_BK_K}),
dg AS (SELECT * FROM (SELECT seg, cents, od, v,
          row_number() OVER (PARTITION BY seg ORDER BY v) AS rn FROM pv)
       WHERE rn <= {_BK_K}),
dmg AS (SELECT seg, CAST(sum(v) AS BIGINT) AS digest FROM mg GROUP BY 1),
ddg AS (SELECT seg, CAST(sum(v) AS BIGINT) AS digest_d FROM dg GROUP BY 1),
sq AS (SELECT seg, cents, od, v,
        row_number() OVER (PARTITION BY seg ORDER BY cents, v) AS qrn,
        row_number() OVER (PARTITION BY seg ORDER BY od, v) AS drn,
        count(*) OVER (PARTITION BY seg) AS m
       FROM mg),
est AS (SELECT seg, max(m) AS m,
        min(CASE WHEN qrn = ceiling(0.50 * m) THEN cents END) AS p50c,
        min(CASE WHEN qrn = ceiling(0.90 * m) THEN cents END) AS p90c,
        min(CASE WHEN qrn = ceiling(0.99 * m) THEN cents END) AS p99c,
        min(CASE WHEN drn = ceiling(0.50 * m) THEN od END) AS d50
       FROM sq GROUP BY 1),
rk AS (SELECT pv.seg, count(*) AS n,
        SUM(CASE WHEN cents <= e.p50c THEN 1 ELSE 0 END) AS r50,
        SUM(CASE WHEN cents <= e.p90c THEN 1 ELSE 0 END) AS r90,
        SUM(CASE WHEN cents <= e.p99c THEN 1 ELSE 0 END) AS r99,
        SUM(CASE WHEN od <= e.d50 THEN 1 ELSE 0 END) AS rd50
       FROM pv JOIN est e USING (seg) GROUP BY 1)
SELECT m.seg, rk.n, e.m, m.digest, m.digest = d.digest_d AS digest_match,
       e.p50c / 100.0 AS p50_price,
       e.p90c / 100.0 AS p90_price,
       e.p99c / 100.0 AS p99_price,
       e.d50 AS median_date,
       abs(1000 * rk.r50 - 500 * rk.n) <= 80 * rk.n AS r50_ok,
       abs(1000 * rk.r90 - 900 * rk.n) <= 50 * rk.n AS r90_ok,
       abs(1000 * rk.r99 - 990 * rk.n) <= 25 * rk.n AS r99_ok,
       abs(1000 * rk.rd50 - 500 * rk.n) <= 80 * rk.n AS d50_ok
FROM dmg m JOIN ddg d USING (seg) JOIN est e USING (seg)
     JOIN rk USING (seg)
ORDER BY m.seg
"""


REGISTRY = (
    (q_sketch_hll_rollup, ORACLE_HLL_ROLLUP),
    (q_sketch_hll_union, ORACLE_HLL_UNION),
    (q_sketch_hll_merge_total, ORACLE_HLL_MERGE_TOTAL),
    (q_stream_hll_mv, ORACLE_HLL_ROLLUP),
    (q_sketch_theta_build, ORACLE_THETA_BUILD),
    (q_sketch_theta_intersect, ORACLE_THETA_INTERSECT),
    (q_sketch_theta_diff, ORACLE_THETA_DIFF),
    (q_stream_theta_mv, ORACLE_STREAM_THETA_MV),
    (q_sample_aqp_revenue, ORACLE_SAMPLE_AQP),
    (q_sketch_quantile_rollup, ORACLE_QUANTILE_ROLLUP),
    (q_sketch_quantile_merge_total, ORACLE_QUANTILE_MERGE_TOTAL),
    (q_stream_quantile_mv, ORACLE_STREAM_QUANTILE_MV),
    (q_sketch_priority_sample, ORACLE_PRIORITY_SAMPLE),
    (q_stream_priority_mv, ORACLE_STREAM_PRIORITY_MV),
    (q_sketch_bottomk_quantiles, ORACLE_BOTTOMK_QUANTILES),
    (q_stream_bottomk_mv, ORACLE_STREAM_BOTTOMK_MV),
)
