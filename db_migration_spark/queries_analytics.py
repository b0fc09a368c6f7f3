"""Scale-showcase and analytics extensions (round 3, session 2).

Five families, all under the exact-oracle discipline of queries.py:

* **Runtime pruning at cluster scale** — dynamic partition pruning
  (``dpp_pruned_join``: the partition filter is only knowable at runtime,
  so directory pruning happens via a broadcast-fed subquery — THE
  mechanism that makes star-schema scans affordable at 100 TB) and
  runtime Bloom-filter injection (``bloom_filter_join``: a shuffle join
  whose application side is pre-filtered by a bloom built from the
  creation side, cutting shuffle volume before the exchange).  Both are
  plan-guarded in tests/test_plans_guard.py.
* **Exact distributed statistics** — sufficient-statistics moments
  (``stats_moments``: decimal-exact Σx/Σx²/Σxy accumulated in ONE
  map-side-combinable pass; variance/covariance emitted as exact integer
  numerators so no float reduction-order noise exists at any cluster
  layout) and count-min-sketch heavy hitters (``heavy_hitters_cms``:
  fixed 4×256 integer-arithmetic hash grid — constant state per
  executor, mergeable, the classic bounded-memory frequency sketch).
* **Deterministic sampling** — hash-based stratified sampling
  (``sample_stratified``: per-language keep rates via an integer
  threshold on a multiplicative hash — layout-independent, no RNG) and
  weighted Poisson sampling (``sample_weighted``: inclusion probability
  ∝ doc length, again integer-exact).
* **Time-series analytics** — weekly cohort retention
  (``cohort_retention``) and hourly gap-fill with carry-forward + exact
  linear interpolation (``ts_gapfill``: missing grid hours synthesized
  with ``sequence``/``explode``, interpolation done in integer micro
  units so both engines agree bit-for-bit).
* **Corpus/tokenizer ops** — Gopher-style quality rule gates
  (``text_gopher_rules``: the published repetition/length/stopword rule
  battery as pure integer comparisons), one-sided shingle containment
  (``dedup_containment``: the sub/superset near-dup test Jaccard
  dilutes away), BPE merge-table application (``bpe_encode``: the
  trained merge list applied as chained literal replaces — a pure
  codegen map stage, no UDF), and an UNPIVOT/melt surface
  (``u5_unpivot``).

Reference anchors: QA reporting + catalog diffs (SURVEY §2.3 J1 /
§2.9 X6) motivate the exact-stats and containment forms; the corpus ops
extend §2.12.  All numeric outputs are decimal/integer-exact — the
determinism rules from queries.py apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .functions import text as T
from .operators import dedup
from .queries_e2e import _fx
from .queries_shared import _melt_lineitem_df

# ---------------------------------------------------------------------------
# dynamic partition pruning
# ---------------------------------------------------------------------------


def q_dpp_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema scan with a runtime-only partition filter.

    ``documents`` is laid out Hive-partitioned by ``lang``; the dim side
    (per-language char totals, tiered) is *derived from data*, so no
    static pruning can apply — the partition filter exists only after the
    dim is evaluated.  Catalyst injects a DPP subquery: the broadcast of
    the dim feeds ``PartitionFilters: [... dynamicpruningexpression]`` on
    the fact scan, so non-qualifying lang directories are never even
    listed.  At 100 TB this is the difference between scanning one
    partition and scanning the table.  Plan guard:
    test_plans_guard.py (dynamicpruning on the fact scan).
    """
    docs = load_table(spark, sf_dir, "documents")
    path = _fx(sf_dir, "docs_by_lang_dpp")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        docs.groupBy("lang")
        .agg(F.sum("n_chars").alias("tot"))
        .withColumn(
            "tier",
            F.when(F.col("tot") > 30000, F.lit("big")).otherwise(
                F.lit("small")
            ),
        )
    )
    big = dim.filter(F.col("tier") == "big").select("lang")
    return (
        fact.join(big, "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


ORACLE_DPP = """
WITH dim AS (
  SELECT lang, sum(n_chars) AS tot FROM documents GROUP BY lang
)
SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d
JOIN dim ON d.lang = dim.lang AND dim.tot > 30000
GROUP BY d.lang
"""


# ---------------------------------------------------------------------------
# runtime bloom-filter join
# ---------------------------------------------------------------------------


def q_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective shuffle join with a runtime-injected Bloom filter.

    Urgent orders ⋈ lineitem with broadcast disabled (modelling the case
    where the filtered side is still too big to broadcast): Spark's
    runtime-filter optimizer builds a Bloom over ``o_orderkey`` on the
    creation side and pushes ``might_contain`` onto the lineitem scan —
    application-side rows that cannot match are dropped BEFORE the
    shuffle, which at 100 TB removes ~80% of exchange volume here.  The
    injection heuristics are sized for real clusters, not sf0.01, so
    the thresholds are lowered — on a FORKED session (``newSession``:
    same SparkContext, private SQLConf).  The returned DataFrame stays
    bound to the fork, so its plan keeps the runtime filter at action
    time while the caller's session confs are never touched.  Plan
    guard: test_plans_guard.py (might_contain in the plan, caller conf
    unchanged).
    """
    ns = spark.newSession()
    ns.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    ns.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB",
    )
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # raw scans, not load_table: the loader's single-file repartition
    # spread puts a user Exchange between scan and join, which the
    # InjectRuntimeFilter rule refuses to push through (verified).  On a
    # real deployment the input has many splits and no spread exists.
    import os as _os

    orders = ns.read.parquet(
        _os.path.join(sf_dir, "orders.parquet")
    ).filter(F.col("o_orderpriority") == "1-URGENT")
    li = ns.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # decimal internally (exact map-side combine), DOUBLE at the
            # boundary: client canonicalizers disagree on decimals
            # (DuckDB→float64, Spark→Decimal), and the conversion of an
            # exact decimal whose unscaled value fits 2^53 is correctly
            # rounded in both engines, so the doubles are bit-equal
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


ORACLE_BLOOM = """
SELECT l_returnflag, count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# exact distributed moments (sufficient statistics)
# ---------------------------------------------------------------------------


def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance and covariance via exact sufficient statistics.

    The scale problem with naive ``stddev``/``corr`` is float reduction
    order: a 1000-executor tree aggregation sums doubles in a
    layout-dependent order, so results wobble in the last ulps run to
    run.  The fix (and the classic distributed-stats pattern) is to
    accumulate the sufficient statistics n, Σx, Σx², Σxy exactly — here
    as bounded decimals, one map-side-combinable HashAggregate pass, no
    extra exchange — and derive the moments at the end.  Variance and
    covariance are emitted as exact integer-valued numerators
    (n·Σx² − (Σx)², n·Σxy − Σx·Σy) so the gate pins bit equality; the
    mean is one double division of exactly-represented operands, which
    is IEEE-identical everywhere.  Decimal widths are chosen so every
    product stays within precision 38 in BOTH engines (no silent
    rescale): see the inline casts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(14,2)")
    agg = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .withColumn("x2", (F.col("x") * F.col("x")).cast("decimal(18,4)"))
        .withColumn("xy", (F.col("x") * F.col("y")).cast("decimal(22,4)"))
        .groupBy("l_returnflag")
        .agg(
            # 12 digits supports 1e12 rows/group (the old 8-digit cap
            # ANSI-faulted at ~sf35); beyond ~1e10 rows the n*sum_xy
            # product hits DECIMAL(38) saturation in BOTH engines — at
            # that scale split the aggregation by sub-key and combine
            F.count(F.lit(1)).cast("decimal(12,0)").alias("n"),
            F.sum("x").cast("decimal(15,2)").alias("sum_x"),
            F.sum("y").cast("decimal(17,2)").alias("sum_y"),
            F.sum("x2").cast("decimal(24,4)").alias("sum_x2"),
            F.sum("xy").cast("decimal(28,4)").alias("sum_xy"),
        )
    )
    # boundary types: sum_x crosses as DOUBLE (unscaled < 2^53, so the
    # decimal→double conversion is correctly rounded and bit-equal in
    # both engines); the second-order numerators exceed 2^53 unscaled
    # and cross as canonical decimal STRINGS — the one client encoding
    # every engine agrees on for exact wide integers (scale pinned, so
    # '…​.0000' renders identically)
    return agg.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_x").cast("double").alias("sum_x"),
        (F.col("n") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
        .cast("decimal(34,4)")
        .cast("string")
        .alias("var_num"),
        (F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y"))
        .cast("decimal(37,4)")
        .cast("string")
        .alias("cov_num"),
        (F.col("sum_x").cast("double") / F.col("n").cast("double")).alias(
            "mean_x"
        ),
    )


ORACLE_MOMENTS = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DECIMAL(12,0)) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(15,2)) AS sum_x,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(17,2)) AS sum_y,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(18,4))) AS DECIMAL(24,4)) AS sum_x2,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(14,2)) AS DECIMAL(22,4))) AS DECIMAL(28,4)) AS sum_xy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CAST(sum_x AS DOUBLE) AS sum_x,
       -- the DECIMAL(19,…) casts force int128 physical math in DuckDB
       -- (its multiply keeps the operands' int64 width and would
       -- overflow); values are identical to Spark's (15,2)×(15,2)
       CAST(CAST(n * sum_x2 -
            CAST(sum_x AS DECIMAL(19,2)) * CAST(sum_x AS DECIMAL(19,2))
            AS DECIMAL(34,4)) AS VARCHAR) AS var_num,
       CAST(CAST(n * sum_xy -
            CAST(sum_x AS DECIMAL(19,2)) * CAST(sum_y AS DECIMAL(19,2))
            AS DECIMAL(37,4)) AS VARCHAR) AS cov_num,
       CAST(sum_x AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
FROM s
"""


# ---------------------------------------------------------------------------
# count-min-sketch heavy hitters
# ---------------------------------------------------------------------------

# (a, b) pairs for the 4 CMS rows — classic LCG multipliers, literal so
# the DuckDB oracle replays the identical arithmetic
_CMS_HASHES = [
    (1103515245, 12345),
    (69069, 362437),
    (1664525, 1013904223),
    (22695477, 1),
]
_CMS_P = 2147483647  # 2^31 − 1
_CMS_W = 256


def cms_cell_structs(key):
    """The 4 (row, slot) probe structs for one key column — shared by the
    batch sketch, its probes, and the streaming twin (stream_cms)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                (
                    (key * F.lit(a) + F.lit(b)) % F.lit(_CMS_P) % F.lit(_CMS_W)
                ).alias("slot"),
            )
            for i, (a, b) in enumerate(_CMS_HASHES)
        ]
    )


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter estimation with a count-min sketch, integer hashes.

    The bounded-memory frequency sketch: 4 rows × 256 counters, each
    counter a sum — so the whole sketch is ONE groupBy over (row, slot)
    with constant key cardinality (1024 cells regardless of stream
    size), map-side combined, mergeable across executors exactly like
    the streaming case.  Estimates (min over rows of the hashed cell)
    are then read off for the exact top-20 users and emitted next to the
    true counts — the estimate is provably ≥ exact, with overshoot
    bounded by collisions.  Hashes are explicit integer arithmetic
    (a·u + b mod p mod w) so the oracle reproduces every cell.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        F.explode(cms_cell_structs(F.col("user_id"))).alias("c")
    ).select("c.row", "c.slot")
    cms = cells.groupBy("row", "slot").agg(
        F.count(F.lit(1)).alias("cell")
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(20)
    )
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(cms_cell_structs(F.col("user_id"))).alias("p"),
    ).select("user_id", "exact_n", "p.row", "p.slot")
    return (
        probes.join(F.broadcast(cms), ["row", "slot"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell").alias("cms_est"))
    )


def _cms_hash_sql(col: str, i: int) -> str:
    a, b = _CMS_HASHES[i]
    return f"(({col} * {a} + {b}) % {_CMS_P}) % {_CMS_W}"


ORACLE_CMS = f"""
WITH cells AS (
  {' UNION ALL '.join(
      f"SELECT {i} AS row, {_cms_hash_sql('user_id', i)} AS slot FROM events"
      for i in range(4)
  )}
), cms AS (
  SELECT row, slot, count(*) AS cell FROM cells GROUP BY row, slot
), top AS (
  SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
  ORDER BY exact_n DESC, user_id ASC LIMIT 20
), probes AS (
  {' UNION ALL '.join(
      f"SELECT user_id, exact_n, {i} AS row,"
      f" {_cms_hash_sql('user_id', i)} AS slot FROM top"
      for i in range(4)
  )}
)
SELECT user_id, exact_n, min(cell) AS cms_est
FROM probes JOIN cms USING (row, slot)
GROUP BY user_id, exact_n
"""


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language budgets, zero RNG.

    The mixture-building primitive: keep 50% of en, 25% of de/fr, 10%
    of the rest, decided by an integer threshold on a multiplicative
    hash of the key — deterministic across runs, partitionings and
    engines (no ``rand()``, whose draw order is layout-dependent).  Pure
    map + one aggregate; the keep decision costs one multiply and one
    compare per row at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(1048576)
    thr = (
        F.when(F.col("lang") == "en", F.lit(524288))
        .when(F.col("lang").isin("de", "fr"), F.lit(262144))
        .otherwise(F.lit(104858))
    )
    return (
        docs.withColumn("kept", (h < thr).cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.sum(
                F.when(F.col("kept") == 1, F.col("n_chars")).otherwise(0)
            ).alias("kept_chars"),
        )
    )


ORACLE_STRATIFIED = """
WITH flagged AS (
  SELECT lang, n_chars,
         CASE WHEN (doc_id * 2654435761) % 1048576 <
              CASE WHEN lang = 'en' THEN 524288
                   WHEN lang IN ('de','fr') THEN 262144
                   ELSE 104858 END
         THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM flagged GROUP BY lang
"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Poisson sampling — inclusion probability ∝ doc length.

    Each doc is kept independently with p = min(1, n_chars/5000),
    realized as an integer threshold ``n_chars·2²⁰ div 5000`` against a
    second multiplicative hash.  Longer docs (more training tokens) are
    proportionally favored — the standard importance-weighted corpus
    draw — and the integer arithmetic makes the sample reproducible
    bit-for-bit on any cluster layout.  Output is the sample itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(1103515245) + F.lit(12345)) % F.lit(1048576)
    thr = F.least(F.lit(1048576), F.expr("n_chars * 1048576 div 5000"))
    return (
        docs.filter(h < thr)
        .select("doc_id", "lang", "n_chars", thr.alias("incl_thr"))
    )


ORACLE_WEIGHTED = """
SELECT doc_id, lang, n_chars,
       least(1048576, n_chars * 1048576 // 5000) AS incl_thr
FROM documents
WHERE (doc_id * 1103515245 + 12345) % 1048576 <
      least(1048576, n_chars * 1048576 // 5000)
"""


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix over the events stream.

    Users are cohorted by the ISO week of their first event; each later
    active week increments (cohort, offset).  Two hash aggregations
    (first-event per user, then distinct users per cell) — both partial
    and key-bounded, the canonical product-analytics rollup.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .select(
            F.col("cohort_wk").cast("date").alias("cohort_week"),
            F.expr("datediff(wk, cohort_wk) div 7").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


ORACLE_COHORT = """
WITH ev AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events
), first AS (
  SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, wk FROM ev
)
SELECT CAST(cohort_wk AS DATE) AS cohort_week,
       date_diff('day', cohort_wk, wk) // 7 AS week_offset,
       count(DISTINCT active.user_id) AS n_users
FROM active JOIN first ON active.user_id = first.user_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# time-series gap fill + exact linear interpolation
# ---------------------------------------------------------------------------


def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill with carry-forward and exact linear interpolation.

    Per event type: hourly counts, a dense hour grid synthesized with
    ``sequence``/``explode`` between that type's own min and max hour
    (generation is a map stage — no join against a driver-side
    calendar), left-joined back so missing hours surface as NULLs, then
    two window passes derive last-known/next-known values and their
    hours.  Interpolation runs in integer micro-units with ``div`` so
    the result is exact: interp_micro = prev·10⁶ + (next−prev)·10⁶·pos
    div gap.  One shuffle total (the per-type window); grid explosion
    and arithmetic are all codegen.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    span = hourly.groupBy("event_type").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("interval 1 hour"))
        ).alias("h"),
    )
    filled = grid.join(hourly, ["event_type", "h"], "left")
    w = Window.partitionBy("event_type").orderBy("h")
    wp = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    known_h = F.when(F.col("cnt").isNotNull(), F.col("h"))
    out = (
        filled.withColumn("prev", F.last("cnt", ignorenulls=True).over(wp))
        .withColumn("next", F.first("cnt", ignorenulls=True).over(wn))
        .withColumn("prev_h", F.last(known_h, ignorenulls=True).over(wp))
        .withColumn("next_h", F.first(known_h, ignorenulls=True).over(wn))
    )
    interp = F.when(
        F.col("cnt").isNotNull(), F.col("cnt") * F.lit(1000000)
    ).otherwise(
        F.col("prev") * F.lit(1000000)
        + F.expr(
            "((next - prev) * 1000000 *"
            " ((unix_timestamp(h) - unix_timestamp(prev_h)) div 3600))"
            " div ((unix_timestamp(next_h) - unix_timestamp(prev_h)) div 3600)"
        )
    )
    return out.select(
        "event_type",
        "h",
        F.coalesce("cnt", "prev").alias("locf_cnt"),
        interp.cast("bigint").alias("interp_micro"),
        F.col("cnt").isNull().cast("int").alias("is_gap"),
    )


ORACLE_GAPFILL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM span
), filled AS (
  SELECT g.event_type, g.h, hourly.cnt
  FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type
                              AND g.h = hourly.h
), win AS (
  SELECT event_type, h, cnt,
         last_value(cnt IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value(cnt IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next,
         last_value(CASE WHEN cnt IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
         first_value(CASE WHEN cnt IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM filled
)
SELECT event_type, h,
       coalesce(cnt, prev) AS locf_cnt,
       CAST(CASE WHEN cnt IS NOT NULL THEN cnt * 1000000
            ELSE prev * 1000000 +
                 ((next - prev) * 1000000 *
                  (date_diff('hour', prev_h, h))) //
                 (date_diff('hour', prev_h, next_h))
       END AS BIGINT) AS interp_micro,
       CASE WHEN cnt IS NULL THEN 1 ELSE 0 END AS is_gap
FROM win
"""


# ---------------------------------------------------------------------------
# Gopher-style quality rule gates
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "to", "and")


def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rule battery as pure integer comparisons.

    The published pre-training gates (word-count bounds, mean-word-length
    band, max single-token frequency, stopword evidence, type/token
    ratio) — each expressed WITHOUT float division: mean∈[3,10] becomes
    3n ≤ Σlen ≤ 10n, repetition max_tf/n ≤ 0.1 becomes 10·max_tf ≤ n.
    One explode + two bounded hash aggregations; the per-token relation
    carries (doc_id, token) only.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            T.tokens(F.lower(F.col("text")))
        ).alias("tok"),
    )
    per_tok = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("tf")
    )
    per_doc = per_tok.groupBy("doc_id").agg(
        F.sum("tf").alias("n_words"),
        F.max("tf").alias("max_tf"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.length("tok") * F.col("tf")).alias("sum_len"),
        F.sum(
            F.when(F.col("tok").isin(*_STOPWORDS), 1).otherwise(0)
        ).alias("n_stop_types"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        F.col("n_words").between(20, 400).cast("int").alias("r_wordcount"),
        (
            (F.lit(3) * F.col("n_words") <= F.col("sum_len"))
            & (F.col("sum_len") <= F.lit(10) * F.col("n_words"))
        )
        .cast("int")
        .alias("r_meanlen"),
        (F.lit(10) * F.col("max_tf") <= F.col("n_words"))
        .cast("int")
        .alias("r_repetition"),
        (F.col("n_stop_types") >= 2).cast("int").alias("r_stopwords"),
        (F.lit(5) * F.col("n_distinct") >= F.col("n_words"))
        .cast("int")
        .alias("r_diversity"),
    ).withColumn(
        "passes",
        (
            F.col("r_wordcount")
            * F.col("r_meanlen")
            * F.col("r_repetition")
            * F.col("r_stopwords")
            * F.col("r_diversity")
        ).alias("passes"),
    )


ORACLE_GOPHER = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), per_tok AS (
  SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok
), per_doc AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS n_words,
         max(tf) AS max_tf,
         count(*) AS n_distinct,
         sum(length(tok) * tf) AS sum_len,
         sum(CASE WHEN tok IN ('the','a','of','to','and') THEN 1 ELSE 0 END)
           AS n_stop_types
  FROM per_tok GROUP BY doc_id
)
SELECT doc_id, n_words,
       CASE WHEN n_words BETWEEN 20 AND 400 THEN 1 ELSE 0 END AS r_wordcount,
       CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words
            THEN 1 ELSE 0 END AS r_meanlen,
       CASE WHEN 10 * max_tf <= n_words THEN 1 ELSE 0 END AS r_repetition,
       CASE WHEN n_stop_types >= 2 THEN 1 ELSE 0 END AS r_stopwords,
       CASE WHEN 5 * n_distinct >= n_words THEN 1 ELSE 0 END AS r_diversity,
       (CASE WHEN n_words BETWEEN 20 AND 400 THEN 1 ELSE 0 END) *
       (CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words
             THEN 1 ELSE 0 END) *
       (CASE WHEN 10 * max_tf <= n_words THEN 1 ELSE 0 END) *
       (CASE WHEN n_stop_types >= 2 THEN 1 ELSE 0 END) *
       (CASE WHEN 5 * n_distinct >= n_words THEN 1 ELSE 0 END) AS passes
FROM per_doc
"""


# ---------------------------------------------------------------------------
# one-sided shingle containment
# ---------------------------------------------------------------------------


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub/superset near-dup pairs by one-sided containment ≥ 0.5."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, k=3, threshold=0.5).select(
        "id_a",
        "id_b",
        F.round("contain_a", 6).alias("contain_a"),
        F.round("contain_b", 6).alias("contain_b"),
    )


ORACLE_CONTAINMENT = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), sh AS (
  -- mirrors functions/text.shingles(): docs with < k tokens fall back
  -- to ONE whole-text shingle instead of vanishing from the pair space
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < 3
                THEN [array_to_string(toks, ' ')]
                ELSE list_distinct(list_transform(range(1, len(toks) - 3 + 2),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                END) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / sa.n_sh, 6) AS contain_a,
       round(CAST(n_inter AS DOUBLE) / sb.n_sh, 6) AS contain_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= 0.5
   OR CAST(n_inter AS DOUBLE) / sb.n_sh >= 0.5
"""


# ---------------------------------------------------------------------------
# BPE merge-table application (encode)
# ---------------------------------------------------------------------------

# a fixed rank-ordered merge table over the synthetic vocabulary (the
# trained counterpart lives in bpe_train_merges; encode applies merges in
# rank order, each exhaustively left-to-right — exactly what chained
# literal replace() does in both engines)
_BPE_MERGES = [
    ("t a", "ta"),
    ("ta b", "tab"),
    ("tab l", "tabl"),
    ("tabl e", "table"),
    ("v a", "va"),
    ("va l", "val"),
    ("val u", "valu"),
    ("valu e", "value"),
    ("s c", "sc"),
    ("sc a", "sca"),
    ("sca n", "scan"),
    ("r o", "ro"),
    ("ro w", "row"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a BPE merge table — tokenizer inference as a codegen map.

    Each word becomes a space-separated symbol string (one regex), then
    the merge table is applied as a chain of literal ``replace`` calls
    in rank order — replace-all left-to-right is exactly the greedy BPE
    merge application, and it stays entirely inside whole-stage codegen
    (no UDF, no Python).  Per-doc token count = Σ symbols per word.
    13 merges → 13 chained replaces in ONE projection; at 100 TB this is
    a pure map stage limited by scan bandwidth.
    """
    docs = load_table(spark, sf_dir, "documents")
    word = docs.select(
        "doc_id",
        F.explode(
            T.tokens(F.lower(F.col("text")))
        ).alias("w"),
    )
    sym = F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 "))
    for pat, rep in _BPE_MERGES:
        sym = F.replace(sym, F.lit(pat), F.lit(rep))
    return (
        word.select("doc_id", F.size(F.split(sym, " ")).alias("n_sym"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_sym").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )


def _bpe_chain_sql(expr: str) -> str:
    for pat, rep in _BPE_MERGES:
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


_BPE_SYM_SQL = _bpe_chain_sql(
    "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
)

ORACLE_BPE_ENCODE = rf"""
WITH word AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), enc AS (
  SELECT doc_id,
         len(regexp_split_to_array({_BPE_SYM_SQL}, ' ')) AS n_sym
  FROM word
)
SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens, count(*) AS n_words
FROM enc GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# UNPIVOT / melt
# ---------------------------------------------------------------------------


def q_u5_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT via the native ``DataFrame.unpivot`` (melt):
    three decimal-exact measures per return flag rotated into
    (measure, value) rows — the inverse of the pivot surface (X7) and a
    pure map over the aggregated relation."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("decimal(28,4)")
        .alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("decimal(28,4)")
        .alias("sum_price"),
        F.sum(F.col("l_discount").cast("decimal(18,4)"))
        .cast("decimal(28,4)")
        .alias("sum_disc"),
    )
    # DOUBLE at the boundary (unscaled < 2^53 → conversion bit-equal in
    # both engines; decimal client canonicalization is engine-specific)
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "sum_disc"],
        "measure",
        "value",
    ).withColumn("value", F.col("value").cast("double"))


ORACLE_UNPIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_price,
         CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, measure, CAST(value AS DOUBLE) AS value FROM (
  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
  UNION ALL
  SELECT l_returnflag, 'sum_price', sum_price FROM wide
  UNION ALL
  SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
)
"""


# ---------------------------------------------------------------------------
# LATERAL correlated top-k
# ---------------------------------------------------------------------------


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 orders per customer via a LATERAL correlated subquery.

    The SQL-frontend surface for per-group top-k: a correlated
    ORDER BY … LIMIT inside LATERAL.  Catalyst decorrelates this to the
    window-rank plan (one shuffle on the correlation key) — no
    per-customer re-execution survives, which is what makes the form
    usable at 10⁹ customers.  Deterministic tiebreak on o_orderkey.
    """
    from .catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) l
        """
    )


ORACLE_LATERAL = """
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) l
"""


# ---------------------------------------------------------------------------
# temperature-scaled mixture budgets
# ---------------------------------------------------------------------------


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax/mT5-style temperature sampling budgets (T = 2).

    Low-resource languages are upsampled by flattening the size
    distribution: budget ∝ n^(1/T) = √n.  √ is correctly rounded in
    IEEE-754 (identical in the JVM and C libm), and everything after it
    is floor/integer arithmetic, so the budgets are bit-stable across
    engines: budget_micro = ⌊√n·10⁶⌋, share_ppm by integer division
    against the 1-row total (broadcast — no driver round trip).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    budget = per_lang.withColumn(
        "budget_micro",
        F.floor(F.sqrt(F.col("n_docs")) * F.lit(1000000.0)).cast("bigint"),
    )
    total = budget.agg(F.sum("budget_micro").alias("__tot"))
    return (
        budget.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "n_docs",
            "budget_micro",
            F.expr("budget_micro * 1000000 div __tot").alias("share_ppm"),
        )
    )


ORACLE_MIXTURE_T = """
WITH b AS (
  SELECT lang, count(*) AS n_docs,
         CAST(floor(sqrt(count(*)) * 1000000.0) AS BIGINT) AS budget_micro
  FROM documents GROUP BY lang
), t AS (SELECT sum(budget_micro) AS tot FROM b)
SELECT lang, n_docs, budget_micro,
       CAST(budget_micro * 1000000 // tot AS BIGINT) AS share_ppm
FROM b, t
"""


# ---------------------------------------------------------------------------
# exact rolling-window anomaly flags
# ---------------------------------------------------------------------------


def q_ts_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3σ spike detection over a trailing 24 h baseline — exactly.

    Per event type and hour: the trailing-24-hour sufficient statistics
    (n, Σ, Σ²) ride ONE window pass (frame ROWS 24 PRECEDING..1
    PRECEDING — the current hour never contaminates its own baseline),
    and the z>3 test is rearranged into pure integer arithmetic:
    (n·x − Σ)² > 9·(n·Σx² − Σ²)  ∧  n·x > Σ — no float σ, no sqrt, so
    the flags are bit-identical on any cluster layout.  Requires 12 h of
    history before flagging (cold-start guard).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-24, -1)
    )
    stats = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.count("cnt").over(w).alias("n"),
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("s2"),
    )
    lhs = F.col("n") * F.col("cnt") - F.col("s")
    rhs = F.lit(9) * (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
    return stats.select(
        "event_type",
        "h",
        "cnt",
        "n",
        (
            (F.col("n") >= 12)
            & (F.col("n") * F.col("cnt") > F.col("s"))
            & (lhs * lhs > rhs)
        )
        .cast("int")
        .alias("spike"),
    )


ORACLE_ANOMALY = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, h, cnt,
         count(cnt) OVER w AS n,
         sum(cnt) OVER w AS s,
         sum(cnt * cnt) OVER w AS s2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, h, cnt, n,
       CASE WHEN n >= 12 AND n * cnt > s
                 AND (n * cnt - s) * (n * cnt - s) > 9 * (n * s2 - s * s)
            THEN 1 ELSE 0 END AS spike
FROM stats
"""


# ---------------------------------------------------------------------------
# XML source/sink roundtrip
# ---------------------------------------------------------------------------


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in XML source/sink (Spark 4): ``nation`` written with
    rowTag records and read back schema-inferred — covering the escaping
    path (comment text) — then verified row-identical via the oracle on
    the original table.  Adds the one self-describing hierarchical
    format the S-inventory lacked (S11 CSV, S7 EDN, JSONL already
    gated)."""
    nat = load_table(spark, sf_dir, "nation")
    path = _fx(sf_dir, "nation_xml")
    (
        nat.coalesce(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .load(path)
    )
    return back.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


ORACLE_XML = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


# ---------------------------------------------------------------------------
# columnar-codec sink roundtrip (zstd)
# ---------------------------------------------------------------------------


def q_sink_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet + zstd write→scan roundtrip with a decimal-exact check
    aggregate.  zstd is the 100 TB archive codec of choice (snappy-class
    decode speed at gzip-class ratios); the roundtrip proves codec
    support end-to-end and the aggregate pins value fidelity."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    path = _fx(sf_dir, "lineitem_r_zstd")
    li.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        # exact decimal agg, DOUBLE boundary (unscaled < 2^53 →
        # conversion bit-equal; decimal client encodings are not)
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


ORACLE_ZSTD = """
SELECT l_linestatus, count(*) AS n_lines,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_price
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# Datomic excision
# ---------------------------------------------------------------------------


def q_eav_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``:db/excise`` over the melted datom log: every datom of
    the targeted entities (e ≡ 0 mod 97) is physically removed — history
    included, the GDPR erasure path retraction cannot provide — and one
    audit datom per excised entity survives.  Profiled per attribute so
    the gate hashes both the removal and the audit trail.  Operator:
    eav.excise (broadcast anti-join; surviving datoms never shuffle)."""
    from .operators import eav

    li = load_table(spark, sf_dir, "lineitem")
    datoms = _melt_lineitem_df(li)
    targets = datoms.filter(F.col("e") % 97 == 0).select("e")
    after = eav.excise(datoms, targets)
    return after.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_datoms"),
        F.countDistinct("e").alias("n_entities"),
    )


ORACLE_EXCISION = """
WITH datoms AS (
  SELECT l_orderkey * 8 + l_linenumber AS e, 'l_quantity' AS a,
         l_shipdate AS tx FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 'l_returnflag', l_shipdate
  FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 'l_linestatus', l_shipdate
  FROM lineitem
  UNION ALL
  SELECT l_orderkey * 8 + l_linenumber, 'l_shipdate', l_shipdate
  FROM lineitem
), survivors AS (
  SELECT a, e FROM datoms WHERE e % 97 <> 0
), audits AS (
  SELECT ':db/excise' AS a, e FROM datoms WHERE e % 97 = 0 GROUP BY e
)
SELECT a, count(*) AS n_datoms, count(DISTINCT e) AS n_entities
FROM (SELECT a, e FROM survivors UNION ALL SELECT a, e FROM audits)
GROUP BY a
"""


# ---------------------------------------------------------------------------
# SCD type-2 dimension build
# ---------------------------------------------------------------------------


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change stream.

    Each signup event versions its user's profile: validity intervals
    are built with one ``lead`` pass per user (valid_from = ts,
    valid_to = next change's ts, open interval = current row) — the
    standard warehouse dimension-build, one shuffle on the user key.
    Ties broken by event_id so the interval chain is total-ordered.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
    )


ORACLE_SCD2 = """
SELECT user_id, event_id, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
FROM events WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# last-touch attribution
# ---------------------------------------------------------------------------


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase is credited
    to the user's most recent preceding click/view within 24 h.

    One window pass over the per-user event timeline (carry-forward of
    the last touch id/ts with ``last(... ignorenulls)``), then a filter
    to purchases — no self-join, no per-purchase subquery, which is what
    keeps this linear at clickstream scale.  Total order: (ts, event_id).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    touch_id = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_id")
    )
    touch_ts = F.when(
        F.col("event_type").isin("click", "view"), F.col("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last(touch_id, ignorenulls=True).over(w).alias("touch_event"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_event"),
            F.when(
                F.col("touch_ts")
                >= F.col("ts") - F.expr("interval 24 hours"),
                F.col("touch_event"),
            ).alias("attributed_to"),
        )
    )


ORACLE_ATTRIBUTION = """
WITH carried AS (
  SELECT user_id, event_id, ts, event_type,
         last_value(CASE WHEN event_type IN ('click','view')
                         THEN event_id END IGNORE NULLS) OVER w AS touch_event,
         last_value(CASE WHEN event_type IN ('click','view')
                         THEN ts END IGNORE NULLS) OVER w AS touch_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS purchase_event,
       CASE WHEN touch_ts >= ts - INTERVAL 24 HOURS
            THEN touch_event END AS attributed_to
FROM carried WHERE event_type = 'purchase'
"""


# ---------------------------------------------------------------------------
# data-quality expectation suite
# ---------------------------------------------------------------------------


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-Expectations-style DQ rule battery as ONE declarative pass
    per table: referential integrity (anti-join orphan counts),
    uniqueness (count − distinct), domain ranges, temporal bounds,
    non-emptiness — each rule a bounded aggregate, unioned into the
    quality report the reference's QA stage prints per class (SURVEY
    §2.9 X6).  Anti-joins broadcast the key side; nothing here scales
    worse than a scan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")

    def rule(name, checked, failed):
        return checked.select(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.sum(failed.cast("long")).alias("n_failed"),
        )

    r1 = rule(
        "orders_custkey_in_customer",
        orders.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("__k"))),
            orders["o_custkey"] == F.col("__k"),
            "left",
        ),
        F.col("__k").isNull(),
    )
    r2 = rule(
        "lineitem_orderkey_in_orders",
        li.join(
            orders.select(F.col("o_orderkey").alias("__k")).distinct(),
            li["l_orderkey"] == F.col("__k"),
            "left",
        ),
        F.col("__k").isNull(),
    )
    r3 = cust.agg(
        F.lit("customer_custkey_unique").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias(
            "n_failed"
        ),
    )
    r4 = rule(
        "lineitem_quantity_in_range",
        li,
        ~F.col("l_quantity").between(1, 50),
    )
    r5 = rule(
        "events_ts_in_window",
        ev,
        (F.col("ts") < F.lit("2024-01-01"))
        | (F.col("ts") >= F.lit("2024-02-01")),
    )
    r6 = rule("documents_text_nonempty", docs, F.length(F.trim("text")) == 0)
    out = r1
    for r in (r2, r3, r4, r5, r6):
        out = out.unionByName(r)
    return out


ORACLE_DQ = """
SELECT 'orders_custkey_in_customer' AS rule, count(*) AS n_checked,
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem_orderkey_in_orders', count(*),
       CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
  ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'customer_custkey_unique', count(*),
       count(*) - count(DISTINCT c_custkey) FROM customer
UNION ALL
SELECT 'lineitem_quantity_in_range', count(*),
       CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_ts_in_window', count(*),
       CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
                  OR ts >= TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'documents_text_nonempty', count(*),
       CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM documents
"""


# ---------------------------------------------------------------------------
# CSV malformed-row quarantine
# ---------------------------------------------------------------------------


def q_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingest with a corrupt-record side channel: a
    fixture CSV of nation rows plus two planted malformed lines is read
    with ``columnNameOfCorruptRecord``; good rows parse, bad rows land
    whole in the quarantine column — the ingest-hardening contract the
    JSONL path already gates, now for the CSV dialect."""
    import os

    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = _fx(sf_dir, "nation_bad_csv")
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "data.csv")
    if not os.path.exists(path):
        rows = sorted(
            (r.n_nationkey, r.n_name, r.n_regionkey)
            for r in nat.collect()   # 25 rows — driver-plane fixture prep
        )
        with open(path, "w") as fh:
            for k, nm, rk in rows:
                fh.write(f"{k},{nm},{rk}\n")
            fh.write("not_an_int,BROKEN\n")
            fh.write("99,TOOMANY,4,extra,fields\n")
    schema = (
        "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(root)
        # Spark refuses filters that touch ONLY the corrupt column on a
        # raw scan (the parser would need to re-run per filter); cache
        # materializes the parse once, which is also the right plan —
        # the quarantine split reads the parsed batch twice
        .localCheckpoint()  # materialize once; unlike cache() the
        # blocks die with the plan instead of pinning the session
    )
    good = back.filter(F.col("_corrupt").isNull()).agg(
        F.lit("good").alias("kind"),
        F.count(F.lit(1)).alias("n"),
        F.sum("n_nationkey").alias("key_sum"),
    )
    bad = back.filter(F.col("_corrupt").isNotNull()).agg(
        F.lit("quarantined").alias("kind"),
        F.count(F.lit(1)).alias("n"),
        F.lit(None).cast("bigint").alias("key_sum"),
    )
    return good.unionByName(bad)


ORACLE_CSV_BAD = """
SELECT 'good' AS kind, count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum
FROM nation
UNION ALL
SELECT 'quarantined', 2, NULL
"""


# ---------------------------------------------------------------------------
# tokenizer vocabulary coverage
# ---------------------------------------------------------------------------


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: the top-16 corpus tokens form the
    vocab; per language, the fraction of token OCCURRENCES the vocab
    covers (as exact counts — the OOV-rate denominator every tokenizer
    report needs).  Vocab selection is a 16-row broadcast; the corpus
    pass is one explode + one hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    # two consumers (vocab top-16 agg + the coverage join) — materialize
    # the explode once instead of re-tokenizing the corpus per branch
    tok = docs.select(
        "lang",
        F.explode(
            T.tokens(F.lower(F.col("text")))
        ).alias("tok"),
    ).localCheckpoint(eager=False)
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(16)
        .select("tok")
        .withColumn("__v", F.lit(1))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("__v"), F.lit(0))).alias("n_covered"),
        )
    )


ORACLE_VOCAB = r"""
WITH tok AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cnt FROM tok GROUP BY tok
    ORDER BY cnt DESC, tok ASC LIMIT 16
  )
)
SELECT lang, count(*) AS n_tokens,
       CAST(sum(CASE WHEN vocab.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
FROM tok LEFT JOIN vocab ON tok.tok = vocab.tok
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# sequential-pattern window flags (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------


def q_w8_sequential_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-strictly-rising-values pattern per user — the
    MATCH_RECOGNIZE shape expressed as a lag chain: one window pass,
    two lags, pure comparisons (no float arithmetic, so the parquet
    doubles compare identically in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rising = (F.col("value") > F.lag("value", 1).over(w)) & (
        F.lag("value", 1).over(w) > F.lag("value", 2).over(w)
    )
    # when/otherwise, not a bare cast: the first two rows per user have
    # NULL lags → NULL condition, and the oracle's CASE yields 0 there
    return ev.select(
        "user_id",
        "event_id",
        F.when(rising, 1).otherwise(0).alias("rising3"),
    )


ORACLE_W8 = """
SELECT user_id, event_id,
       CASE WHEN value > lag(value, 1) OVER w
             AND lag(value, 1) OVER w > lag(value, 2) OVER w
            THEN 1 ELSE 0 END AS rising3
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------------------------------
# incremental dedup against a historical fingerprint store
# ---------------------------------------------------------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus dedup — the production shape exact dedup actually
    runs in: a NEW batch is deduped against the accumulated fingerprint
    STORE (hashes only, never text), not against itself alone.

    The store is (fp, first_doc_id) — the minimal state, O(corpus
    distinct) rows of 16 bytes-ish; the new batch left-joins it (at
    100 TB: the store is bucketed by fp so this is a co-located join)
    and each new doc is classified: dup_of_store, dup_in_batch (first
    occurrence wins within the batch via a window rank), or fresh.
    Split here is deterministic (doc_id parity) so the oracle recomputes
    it from the live table.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    # store and batch branches both read fp — hash the corpus once
    fp = docs.select("doc_id", F.md5(norm).alias("fp")).localCheckpoint(eager=False)
    store = (
        fp.filter(F.col("doc_id") % 2 == 0)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc_id"))
    )
    batch = fp.filter(F.col("doc_id") % 2 == 1)
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        batch.join(F.broadcast(store), "fp", "left")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            F.when(F.col("first_doc_id").isNotNull(), "dup_of_store")
            .when(F.col("rk") > 1, "dup_in_batch")
            .otherwise("fresh")
            .alias("verdict"),
        )
    )


ORACLE_DEDUP_INCR = r"""
WITH fp AS (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), store AS (
  SELECT fp, min(doc_id) AS first_doc_id FROM fp
  WHERE doc_id % 2 = 0 GROUP BY fp
), batch AS (
  SELECT doc_id, fp, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
  FROM fp WHERE doc_id % 2 = 1
)
SELECT b.doc_id,
       CASE WHEN s.first_doc_id IS NOT NULL THEN 'dup_of_store'
            WHEN b.rk > 1 THEN 'dup_in_batch'
            ELSE 'fresh' END AS verdict
FROM batch b LEFT JOIN store s ON b.fp = s.fp
"""


# ---------------------------------------------------------------------------


REGISTRY = (
    (q_dpp_pruned_join, ORACLE_DPP),
    (q_bloom_filter_join, ORACLE_BLOOM),
    (q_stats_moments, ORACLE_MOMENTS),
    (q_heavy_hitters_cms, ORACLE_CMS),
    (q_sample_stratified, ORACLE_STRATIFIED),
    (q_sample_weighted, ORACLE_WEIGHTED),
    (q_cohort_retention, ORACLE_COHORT),
    (q_ts_gapfill, ORACLE_GAPFILL),
    (q_text_gopher_rules, ORACLE_GOPHER),
    (q_dedup_containment, ORACLE_CONTAINMENT),
    (q_bpe_encode, ORACLE_BPE_ENCODE),
    (q_u5_unpivot, ORACLE_UNPIVOT),
    (q_lateral_topk, ORACLE_LATERAL),
    (q_mixture_temperature, ORACLE_MIXTURE_T),
    (q_ts_anomaly_flags, ORACLE_ANOMALY),
    (q_xml_roundtrip, ORACLE_XML),
    (q_sink_zstd_roundtrip, ORACLE_ZSTD),
    (q_eav_excision, ORACLE_EXCISION),
    (q_scd2_intervals, ORACLE_SCD2),
    (q_attribution_last_touch, ORACLE_ATTRIBUTION),
    (q_dq_expectations, ORACLE_DQ),
    (q_csv_badrecords, ORACLE_CSV_BAD),
    (q_vocab_coverage, ORACLE_VOCAB),
    (q_w8_sequential_pattern, ORACLE_W8),
    (q_dedup_incremental, ORACLE_DEDUP_INCR),
)
