"""Portable theta/KMV sketches — mergeable distinct-count samples that
support the set operation HLL registers fundamentally cannot: a DIRECT
intersection (and difference) estimate.

HLL union is exact sketch algebra (register MAX), but HLL intersection
only exists by inclusion–exclusion, whose error grows with the union
size — for two large sets with a small overlap the estimate is noise.
A KMV ("k minimum values") / theta sketch keeps the k smallest hash
values of the key set; because the retained sample is a uniform sample
of the *distinct* keys below a data-adaptive threshold theta, any set
expression (A ∩ B, A \\ B, ternary …) can be evaluated ON THE SAMPLES
and scaled by 1/theta.  This is the Apache DataSketches theta-sketch
design, rebuilt here out of portable SQL expressions (md5 → 52-bit
uniform value) so that

* the sketch is **mergeable** — the k smallest of a union of per-group
  top-k sets is exactly the global top-k, so day→month→total rollups
  compose losslessly (same proof obligation the HLL queries hash-gate);
* every retained value is a deterministic function of md5, identical
  in Spark and DuckDB, so oracles hash the sketch CONTENT exactly
  (sum of the retained 52-bit values is an exact BIGINT digest) and
  only the final estimates carry error-bound gates.

Scheme (k = 256 by default, RSE ≈ 1/√(k−2) ≈ 6.3%):

* ``v = first 13 hex chars of md5(key)`` → uniform 52-bit BIGINT
  (52 bits is exact in both a BIGINT and an IEEE double, so no engine
  disagrees on arithmetic).
* sketch = the k smallest DISTINCT v per dimension tuple.
* theta_v = the kth smallest v (or 2^52 when the group holds fewer
  than k distinct values — then the sketch is the exact value set).
* estimate(distinct) = (k−1) · 2^52 / theta_v  (exact n when n < k).
* A ∩ B: theta = min(theta_A, theta_B); count common values < theta;
  estimate = count · 2^52 / theta.  A \\ B symmetric with an anti-join.

At 100 TB: the build is one hash-shuffle distinct plus a top-k whose
heavy lifting is parallelized across 64 deterministic salt slices
(``pmod(v, 64)``) before a trivial final truncation — no single
reducer ever sorts a hot group's full distinct set.  Downstream set
algebra touches only k-row sketches.

No counterpart in the reference (exact Datomic/sort-based counting —
azanium core.clj:1-80); extends SURVEY §2.4's aggregate tier alongside
functions/hll.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_K = 256
_W = 52  # value-domain bits: exact in BIGINT and in an IEEE double
DOMAIN = 1 << _W
_SALT = 64  # deterministic pre-truncation slices for hot groups


def theta_hash(key: Column | str) -> Column:
    """Uniform 52-bit BIGINT hash of one key — portable md5 scheme
    (first 13 hex chars; disjoint from nothing on purpose: the theta
    family is self-contained and its oracles re-derive the same
    prefix)."""
    k = F.col(key) if isinstance(key, str) else key
    return F.conv(F.substring(F.md5(k.cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )


def kmv_sketch(
    df: DataFrame, dims: list[str], key: str, k: int = DEFAULT_K
) -> DataFrame:
    """KMV sketch per dimension tuple: the k smallest distinct hash
    values, as rows (dims…, v) — ≤ k rows per tuple at any raw volume.

    Plan shape (hot-group safe): dense_rank ≤ k inside 64 deterministic
    salt slices (``pmod(v, 64)``) bounds any one reducer's sort to
    ~1/64 of a group's rows, THEN the ≤ 64k survivors per group are
    deduplicated and truncated to the global top-k.  Correct because
    any of the k globally-smallest values is among the k smallest of
    its own salt slice."""
    hashed = df.select(*dims, theta_hash(key).alias("v"))
    w1 = Window.partitionBy(
        *dims, F.pmod(F.col("v"), F.lit(_SALT))
    ).orderBy("v")
    pre = (
        hashed.withColumn("dr", F.dense_rank().over(w1))
        .filter(F.col("dr") <= k)
        .select(*dims, "v")
        .distinct()
    )
    w2 = Window.partitionBy(*dims).orderBy("v")
    return (
        pre.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select(*dims, "v")
    )


def kmv_merge(sk: DataFrame, dims: list[str], k: int = DEFAULT_K) -> DataFrame:
    """Merge sketches to coarser dimensions (or a union over a
    relabeled dimension): dedup the retained values, keep the k
    smallest.  Lossless for the same reason the build's pre-truncation
    is — the merged top-k is a subset of the union of input top-ks —
    so day-partial sketches merged later equal a full-rescan sketch
    (the associativity proof the declared queries hash-gate).  Input is
    ≤ k rows per input tuple, so this is a tiny exchange."""
    pre = sk.select(*dims, "v").distinct()
    w = Window.partitionBy(*dims).orderBy("v")
    return (
        pre.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(*dims, "v")
    )


def kmv_stats(
    sk: DataFrame, dims: list[str], k: int = DEFAULT_K
) -> DataFrame:
    """Per-dims sketch digest + estimate.

    Returns (dims…, n_vals, theta_v, digest, est): ``digest`` = Σ v as
    an exact BIGINT (≤ k·2^52 < 2^61) — the hash-gateable sketch
    content; ``theta_v`` = kth smallest value, or 2^52 for an exact
    (n < k) sketch; ``est`` = (k−1)·2^52/theta_v rounded, or exactly n.
    (k−1)·2^52 is exactly representable in a double for k ≤ 2^12, so
    the only inexact step is one IEEE division both engines perform
    identically."""
    agg = sk.groupBy(*dims).agg(
        F.count(F.lit(1)).alias("n_vals"),
        F.max("v").alias("v_max"),
        F.sum("v").alias("digest"),
    )
    full = F.col("n_vals") >= k
    theta_v = F.when(full, F.col("v_max")).otherwise(F.lit(DOMAIN))
    est = F.when(
        full,
        F.floor(
            F.lit(float(k - 1))
            * F.lit(float(DOMAIN))
            / F.col("v_max").cast("double")
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.col("n_vals").cast("bigint"))
    return agg.select(
        *dims,
        "n_vals",
        theta_v.alias("theta_v"),
        "digest",
        est.alias("est"),
    )


def det_sample(
    df: DataFrame, key: Column | str, denom: int = 16
) -> DataFrame:
    """Deterministic hash-Bernoulli sample: keep rows whose key hashes
    below 2^52/denom — an exactly-reproducible 1/denom sample (same
    rows in any engine, any partitioning, any rerun), the property
    random() sampling can never give an oracle.  Composable: the same
    row is in the 1/4 sample iff it is in the 1/16 sample's superset,
    so nested sample tiers share scans.  The filter is a JVM expression
    evaluated at the scan, so column pruning and pushdown survive."""
    return df.filter(theta_hash(key) < F.lit(DOMAIN // denom))


# --- priority sampling (weighted bottom-k) ----------------------------------
#
# Duffield–Lund–Thorup priority sampling: item i with weight w_i gets
# priority q_i = w_i / u_i with u_i uniform in (0,1]; keep the k largest
# priorities, let tau = the (k+1)-th.  The estimator for ANY subset-sum
# SUM(w_i over i satisfying P) is SUM over sampled i with P(i) of
# max(w_i, tau) — unbiased (VLDB'07 proves zero covariance between
# items), and within O(1/sqrt(k)) relative error for the totals the
# declared queries gate.  Determinism: u = (v+1)/2^52 from the same
# md5-derived 52-bit v as the theta sketches — (v+1) and the division by
# a power of two are EXACT in a double, so q is the identical IEEE
# double in Spark and DuckDB and the retained set is engine-independent
# (the property random() priorities can never give an oracle).
#
# Mergeable like KMV: the global top-(k+1) by priority is a subset of
# the union of per-partial top-(k+1)s, so month-partial samples merged
# to coarser dims equal a direct build — the digest equality the
# declared query gates.


def priority_sample(
    df: DataFrame,
    dims: list[str],
    key: str,
    weight: str,
    payload: tuple[str, ...] = (),
    k: int = DEFAULT_K,
) -> DataFrame:
    """Weighted priority sample per dimension tuple: rows
    (dims…, payload…, v, w, q, rn) with rn ≤ k+1 — ranks 1..k are the
    sample, rank k+1 carries tau.  ``payload`` columns ride along so
    downstream subset predicates can be evaluated on the sample.

    Plan shape (hot-group safe, same as kmv_sketch): row_number ≤ k+1
    inside 64 deterministic salt slices (pmod(v, 64)) bounds any one
    reducer's sort, then the ≤ 64(k+1) survivors per group take the
    global top-(k+1).  Correct because any of the k+1 globally-largest
    priorities is among the k+1 largest of its own slice."""
    v = theta_hash(key)
    w = F.col(weight).cast("double")
    q = (w * F.lit(float(DOMAIN))) / (v + F.lit(1)).cast("double")
    hashed = df.select(
        *dims, *payload, v.alias("v"), w.alias("w"), q.alias("q")
    )
    w1 = Window.partitionBy(
        *dims, F.pmod(F.col("v"), F.lit(_SALT))
    ).orderBy(F.desc("q"), "v")
    pre = (
        hashed.withColumn("srn", F.row_number().over(w1))
        .filter(F.col("srn") <= k + 1)
        .drop("srn")
    )
    w2 = Window.partitionBy(*dims).orderBy(F.desc("q"), "v")
    return (
        pre.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k + 1)
    )


def priority_merge(
    sp: DataFrame, dims: list[str], k: int = DEFAULT_K
) -> DataFrame:
    """Merge priority samples to coarser dimensions: re-rank the union
    by (q desc, v) and keep the top-(k+1).  Lossless — every rank of
    the direct build survives in some input partial — so incremental
    per-day samples fold to the same sample a full rescan builds.
    Input is ≤ k+1 rows per input tuple: a tiny exchange."""
    w2 = Window.partitionBy(*dims).orderBy(F.desc("q"), "v")
    return (
        sp.drop("rn")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k + 1)
    )


def priority_estimate_cents(w_col, tau_col) -> Column:
    """Exact-integer estimator leaf: max(w, tau) quantized to cents via
    floor(x·100 + 0.5) — multiply and floor of the same IEEE double are
    identical in every engine, and the BIGINT cents sum is associative,
    so the estimate is bit-reproducible cross-engine (round(x, 9) on
    ~1e6-scale money doubles is NOT: the engines disagree at the 15th
    significant digit)."""
    return F.floor(
        F.greatest(w_col, tau_col) * F.lit(100.0) + F.lit(0.5)
    ).cast("bigint")


# --- bottom-k uniform sample (rank-quantile sketch) -------------------------
#
# The KMV retention rule applied to whole ROWS: keep the k rows whose
# key hashes smallest, payload columns riding along.  Because the md5
# hash is independent of every payload column, the retained rows are a
# uniform-without-replacement sample of the distinct keys, so the
# sample's order statistics estimate POPULATION quantiles of any
# payload with distribution-free rank error O(1/sqrt(k)) (Bahadur;
# any DKW-style bound) — over ANY orderable type (money, dates,
# strings), which the value-space log-bin sketch (functions/qsketch.py,
# positive integers only) cannot do.  Mergeable exactly like KMV: the
# global bottom-k is a subset of the union of per-partial bottom-ks,
# so day/month partials re-truncated equal a direct full-rescan build
# — the digest equality the declared query gates.


def bottomk_sample(
    df: DataFrame,
    dims: list[str],
    key: str,
    payload: tuple[str, ...] = (),
    k: int = DEFAULT_K,
) -> DataFrame:
    """Uniform bottom-k hash sample per dimension tuple: rows
    (dims…, payload…, v) with the k smallest key hashes.  Plan shape
    (hot-group safe, same as kmv_sketch): row_number ≤ k inside 64
    deterministic salt slices bounds any one reducer's sort to ~1/64
    of a group's rows, then the ≤ 64k survivors take the global
    bottom-k.  Correct because any of the k globally-smallest hashes
    is among the k smallest of its own slice."""
    hashed = df.select(*dims, *payload, theta_hash(key).alias("v"))
    w1 = Window.partitionBy(
        *dims, F.pmod(F.col("v"), F.lit(_SALT))
    ).orderBy("v")
    pre = (
        hashed.withColumn("srn", F.row_number().over(w1))
        .filter(F.col("srn") <= k)
        .drop("srn")
    )
    w2 = Window.partitionBy(*dims).orderBy("v")
    return (
        pre.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def bottomk_merge(
    sp: DataFrame, dims: list[str], k: int = DEFAULT_K
) -> DataFrame:
    """Merge bottom-k samples to coarser dimensions: re-rank the union
    by v and keep the bottom-k.  Lossless (every retained row of the
    direct build survives in some input partial); input is ≤ k rows
    per input tuple, so this is a tiny exchange."""
    w = Window.partitionBy(*dims).orderBy("v")
    return (
        sp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_scale_count(cnt: Column, theta_v: Column) -> Column:
    """Scale a below-theta sample count up to a set-size estimate:
    cnt · 2^52 / theta_v, rounded to BIGINT (cnt exact when theta_v
    covers the whole domain — i.e. both sketches were exact)."""
    return F.when(
        theta_v >= F.lit(DOMAIN), cnt.cast("bigint")
    ).otherwise(
        F.floor(
            cnt.cast("double")
            * F.lit(float(DOMAIN))
            / theta_v.cast("double")
            + F.lit(0.5)
        ).cast("bigint")
    )


def kmv_set_op(
    sk: DataFrame, st: DataFrame, pairs: DataFrame, dim: str, how: str
) -> DataFrame:
    """The theta set operation for every (sa, sb) row of ``pairs``
    (values of the sketch's one dimension column ``dim``): A ∩ B with
    ``how="left_semi"``, A \\ B with ``how="left_anti"``.  theta = the
    min of the pair's two thresholds (``st`` = kmv_stats over
    ``dim``); A's retained values below theta are semi- or anti-joined
    against B's retained values, then counted, summed (the exact
    digest) and scaled by 2^52/theta.  Returns (sa, sb, theta_v, n,
    digest, est), one row per pair whose two values are in ``st``
    (zeros when no value survives)."""
    th = st.select(F.col(dim).alias("s"), "theta_v")
    pt = (
        F.broadcast(pairs)
        .join(
            th.select(F.col("s").alias("sa"), F.col("theta_v").alias("tha")),
            "sa",
        )
        .join(
            th.select(F.col("s").alias("sb"), F.col("theta_v").alias("thb")),
            "sb",
        )
        .select("sa", "sb", F.least("tha", "thb").alias("theta_v"))
    )
    a_vals = sk.select(F.col(dim).alias("sa"), "v")
    b_vals = sk.select(F.col(dim).alias("sbb"), F.col("v").alias("vb"))
    picked = (
        F.broadcast(pt)
        .join(a_vals, "sa")
        .filter(F.col("v") < F.col("theta_v"))
        .join(
            b_vals,
            (F.col("vb") == F.col("v")) & (F.col("sbb") == F.col("sb")),
            how,
        )
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("digest"))
    )
    n = F.coalesce("n", F.lit(0))
    return pt.join(picked, ["sa", "sb"], "left").select(
        "sa",
        "sb",
        "theta_v",
        n.alias("n"),
        F.coalesce("digest", F.lit(0)).alias("digest"),
        kmv_scale_count(n, F.col("theta_v")).alias("est"),
    )
