"""Declared data-governance queries (operators/governance.py) under the
exact DuckDB gate.

``privacy_k_anonymity`` — customer quasi-identifiers generalized to
(nation, account-balance bin of 500), k = 4: every
row is tagged kept/suppressed by its QI-group size and the declared
result aggregates rows, exact cents, and DISTINCT QI-group counts per
(market segment, status).  The oracle replays the identical window-free
semantics with a grouped subquery.

``privacy_l_diversity`` — same QI groups, sensitive attribute = market
segment: the audit histogram "how many QI groups have exactly d distinct
sensitive values", split by whether the group also meets k ≥ 4.  A
release standard (say k ≥ 4 AND l ≥ 2) is a filter over this result.

Both are one-shuffle plans (groupBy partial agg + equi-join / single
hash aggregate); the generalization itself is pure codegen projection —
see the operator module docstring for the 100 TB rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import governance as G

_K = 4


def _generalized_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nk"),
        F.col("c_acctbal").alias("bal"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return G.generalize(
        cust,
        {"bal": F.floor(F.col("bal") / 500).cast("long")},
    )


def q_privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression audit (operators/governance.py
    ``k_anonymize``): per (segment, kept/suppressed) — row count, exact
    balance cents, and the number of distinct QI groups.  The QI key is
    string-encoded with a reserved separator for the distinct count so
    both engines count identical group identities."""
    gen = _generalized_customer(spark, sf_dir)
    tagged = G.k_anonymize(gen, ["nk", "bal"], _K)
    qi_key = F.concat_ws(
        "|", F.col("nk").cast("string"), F.col("bal").cast("string")
    )
    return tagged.groupBy("seg", "qi_status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.countDistinct(qi_key).alias("n_groups"),
    )


ORACLE_K_ANONYMITY = f"""
WITH g AS (
  SELECT c_mktsegment AS seg,
         CAST(c_nationkey AS BIGINT) AS nk,
         CAST(floor(c_acctbal / 500) AS BIGINT) AS bal,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
),
sizes AS (
  SELECT nk, bal, count(*) AS qi_group_n
  FROM g GROUP BY nk, bal
),
tagged AS (
  SELECT g.*, CASE WHEN s.qi_group_n >= {_K} THEN 'kept'
                   ELSE 'suppressed' END AS qi_status
  FROM g JOIN sizes s USING (nk, bal)
)
SELECT seg, qi_status,
       count(*) AS n_rows,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       count(DISTINCT CAST(nk AS VARCHAR) || '|' || CAST(bal AS VARCHAR))
         AS n_groups
FROM tagged
GROUP BY seg, qi_status
"""


def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit histogram (operators/governance.py
    ``l_diversity_audit``): QI groups bucketed by their DISTINCT
    sensitive-value count (sensitive = market segment), split by whether
    the group also meets k >= 4.  ``l_distinct = 1`` rows are the
    homogeneity leaks k-anonymity alone cannot see."""
    gen = _generalized_customer(spark, sf_dir)
    audit = G.l_diversity_audit(gen, ["nk", "bal"], "seg")
    return audit.groupBy(
        F.col("l_distinct"),
        (F.col("qi_group_n") >= _K).alias("meets_k"),
    ).agg(
        F.count(F.lit(1)).alias("n_qi_groups"),
        F.sum("qi_group_n").alias("n_rows_covered"),
    )


ORACLE_L_DIVERSITY = f"""
WITH g AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(floor(c_acctbal / 500) AS BIGINT) AS bal,
         c_mktsegment AS seg
  FROM customer
),
audit AS (
  SELECT nk, bal, count(*) AS qi_group_n,
         count(DISTINCT seg) AS l_distinct
  FROM g GROUP BY nk, bal
)
SELECT l_distinct, qi_group_n >= {_K} AS meets_k,
       count(*) AS n_qi_groups,
       CAST(sum(qi_group_n) AS BIGINT) AS n_rows_covered
FROM audit
GROUP BY l_distinct, qi_group_n >= {_K}
"""


# t-closeness threshold t = 2/5: a QI group passes iff TVD ≤ 0.4, i.e.
# 5·d_num ≤ 2·d_den — one cross-multiplied BIGINT comparison.
_T_NUM, _T_DEN = 2, 5


def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit histogram (operators/governance.py
    ``t_closeness_audit``): QI groups bucketed by whether their
    sensitive-value distribution sits within TVD ≤ 0.4 of the global
    one, crossed with the k ≥ 4 bucket — completing the disclosure
    triad (k-anonymity → l-diversity → t-closeness).  Distances are
    exact integer fractions (no float division), so the histogram and
    the summed numerators are hash-exact.  Plan: one corpus pass to
    (group, value) counts; everything downstream is bounded by
    |groups|×|values| with the 5-row global distribution broadcast."""
    gen = _generalized_customer(spark, sf_dir)
    audit = G.t_closeness_audit(gen, ["nk", "bal"], "seg")
    return audit.groupBy(
        (
            F.lit(_T_DEN) * F.col("d_num")
            <= F.lit(_T_NUM) * F.col("d_den")
        ).alias("meets_t"),
        (F.col("qi_group_n") >= _K).alias("meets_k"),
    ).agg(
        F.count(F.lit(1)).alias("n_qi_groups"),
        F.sum("qi_group_n").alias("n_rows_covered"),
        F.sum("d_num").alias("d_num_total"),
    )


ORACLE_T_CLOSENESS = f"""
WITH g AS (
  SELECT CAST(c_nationkey AS BIGINT) AS nk,
         CAST(floor(c_acctbal / 500) AS BIGINT) AS bal,
         c_mktsegment AS seg
  FROM customer
),
gv AS (SELECT nk, bal, seg, count(*) AS c FROM g GROUP BY 1, 2, 3),
grp AS (SELECT nk, bal, CAST(sum(c) AS BIGINT) AS n_g FROM gv GROUP BY 1, 2),
gl AS (SELECT seg, CAST(sum(c) AS BIGINT) AS cv FROM gv GROUP BY 1),
tot AS (SELECT CAST(sum(cv) AS BIGINT) AS n_tot FROM gl),
d AS (
  SELECT fx.nk, fx.bal, max(n_g) AS qi_group_n,
         CAST(sum(abs(coalesce(c, 0) * n_tot - cv * n_g)) AS BIGINT)
           AS d_num,
         CAST(max(2 * n_g * n_tot) AS BIGINT) AS d_den
  FROM (SELECT grp.nk, grp.bal, grp.n_g, gl.seg, gl.cv, tot.n_tot
        FROM grp CROSS JOIN gl CROSS JOIN tot) fx
  LEFT JOIN gv ON gv.nk IS NOT DISTINCT FROM fx.nk
             AND gv.bal IS NOT DISTINCT FROM fx.bal
             AND gv.seg IS NOT DISTINCT FROM fx.seg
  GROUP BY 1, 2
)
SELECT {_T_DEN} * d_num <= {_T_NUM} * d_den AS meets_t,
       qi_group_n >= {_K} AS meets_k,
       count(*) AS n_qi_groups,
       CAST(sum(qi_group_n) AS BIGINT) AS n_rows_covered,
       CAST(sum(d_num) AS BIGINT) AS d_num_total
FROM d
GROUP BY 1, 2
"""


def q_privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private release of per-segment customer counts
    (Laplace mechanism, ε = 1, sensitivity 1 for a count): noise is
    drawn by inverse-CDF from a SEEDED md5-uniform — u = (h%10⁶+0.5)/10⁶
    over the first 8 md5 hex digits of 'dp:'||segment — so the release
    is reproducible and the DuckDB oracle replays the identical draw.
    The noisy count is quantized to milli-units (floor(x·1000 + 0.5))
    so the cross-engine gate compares integers, never float tails.
    The deterministic seed makes this a MECHANISM demonstration under
    the exact-oracle discipline — a production release would draw u
    from a CSPRNG; everything else (budget, sensitivity, inverse CDF,
    quantized publication) is the real shape.  Extends the governance
    triad (k-anonymity / l-diversity / t-closeness) with the
    statistical-disclosure tier."""
    cust = load_table(spark, sf_dir, "customer")
    per = cust.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n")
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp:"), F.col("seg"))), 1, 8),
        16,
        10,
    ).cast("long")
    u = ((h % 1000000).cast("double") + F.lit(0.5)) / 1000000.0
    centered = u - F.lit(0.5)
    # Laplace(b = 1/eps = 1) via inverse CDF
    noise = -F.signum(centered) * F.log(
        F.lit(1.0) - F.lit(2.0) * F.abs(centered)
    )
    return per.select(
        "seg",
        (
            F.col("n") * 1000
            + F.floor(noise * 1000 + F.lit(0.5)).cast("long")
        ).alias("dp_count_milli"),
        F.lit(1000).cast("long").alias("eps_milli"),
    )


ORACLE_DP_COUNTS = """
WITH per AS (
  SELECT c_mktsegment AS seg, count(*) AS n FROM customer GROUP BY 1
), x AS (
  SELECT seg, n,
         ((('0x' || substr(md5('dp:' || seg), 1, 8))::UBIGINT % 1000000)
          + 0.5) / 1000000.0 AS u
  FROM per
)
SELECT seg,
       CAST(n * 1000
            + CAST(floor((-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)))
                         * 1000 + 0.5) AS BIGINT) AS BIGINT)
           AS dp_count_milli,
       CAST(1000 AS BIGINT) AS eps_milli
FROM x
"""


def q_privacy_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomized response (Warner's mechanism): each customer's
    sensitive boolean — "is in the BUILDING segment" — is reported
    FLIPPED with probability 1/4, where the flip is a seeded md5 coin
    per customer (u < 0.25), so no individual row reveals the truth
    while the debiased aggregate π̂ = (p̂ − 1/4) / (1/2) recovers the
    population rate.  Everything is integer-exact: reported counts are
    plain sums, and the estimator is published in micro-units computed
    from integers (4·reported − n scaled), so the oracle matches bit
    for bit.  ``est_err_milli`` carries |π̂ − π|·1000 — the declared
    row proves the debias actually lands near the true rate."""
    cust = load_table(spark, sf_dir, "customer")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rr:"), F.col("c_custkey").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    flip = (h % 1000000) < 250000
    truth = F.col("c_mktsegment") == "BUILDING"
    reported = truth != flip  # XOR
    agg = cust.select(
        truth.cast("long").alias("t"), reported.cast("long").alias("r")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("t").alias("n_true"),
        F.sum("r").alias("n_reported"),
    )
    # pi_hat = (r/n - 1/4) / (1/2) = (4r - n) / (2n); micro-units via
    # integer arithmetic then one exact division
    pi_hat_micro = F.floor(
        (F.lit(4) * F.col("n_reported") - F.col("n"))
        * 1000000
        / (F.lit(2) * F.col("n"))
    ).cast("long")
    pi_true_micro = F.floor(
        F.col("n_true") * 1000000 / F.col("n")
    ).cast("long")
    return agg.select(
        "n",
        "n_reported",
        pi_hat_micro.alias("pi_hat_micro"),
        F.abs(pi_hat_micro - pi_true_micro).alias("est_err_micro"),
    )


ORACLE_RANDOMIZED_RESPONSE = """
WITH x AS (
  SELECT (c_mktsegment = 'BUILDING') AS t,
         ((('0x' || substr(md5('rr:' || CAST(c_custkey AS VARCHAR)), 1, 8))
           ::UBIGINT % 1000000) < 250000) AS flip
  FROM customer
), a AS (
  SELECT count(*) AS n,
         sum(CASE WHEN t THEN 1 ELSE 0 END) AS n_true,
         sum(CASE WHEN t <> flip THEN 1 ELSE 0 END) AS n_reported
  FROM x
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n_reported AS BIGINT) AS n_reported,
       CAST(floor((4 * n_reported - n) * 1000000 / (2 * n)) AS BIGINT)
           AS pi_hat_micro,
       CAST(abs(floor((4 * n_reported - n) * 1000000 / (2 * n))
                - floor(n_true * 1000000 / n)) AS BIGINT)
           AS est_err_micro
FROM a
"""


REGISTRY = (
    (q_privacy_dp_counts, ORACLE_DP_COUNTS),
    (q_privacy_randomized_response, ORACLE_RANDOMIZED_RESPONSE),
    (q_privacy_k_anonymity, ORACLE_K_ANONYMITY),
    (q_privacy_l_diversity, ORACLE_L_DIVERSITY),
    (q_privacy_t_closeness, ORACLE_T_CLOSENESS),
)
