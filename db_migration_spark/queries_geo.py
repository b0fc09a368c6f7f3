"""Geospatial declared queries (operators/geo.py) — exact-integer grid
geometry under the DuckDB oracle gate.

Coordinates are synthesized deterministically from the live tables with
pure modular arithmetic (both engines evaluate the identical integer
formula), so every query is exact — no float trig, no tolerance:

    x = (((key² + 1)       % 99991) * 48271 % 50000) * 2
    y = (((key² + key + 7) % 99989) * 16807 % 50000) * 2

(quadratic scrambling with DIFFERENT moduli per axis: a plain linear
congruence puts the points on a 1-D lattice whose minimum pairwise
distance exceeds any useful radius — measured: zero pairs at R=1000;
the quadratic map scatters them like a uniform sample — 338 pairs at
R=1000 at sf0.01, matching the πR²n²/2A expectation of ~350.  Both
coordinates stay even for the polygon parity rule, and key² stays
< 2⁶³ far beyond sf1000.)

* ``geo_cell_density`` — fixed-grid cell aggregation (the heat-map /
  spatial-index build primitive): one hash aggregate on (cx, cy).
* ``geo_radius_pairs`` — all pairs within integer radius via the 3×3
  cell-neighborhood EQUI-join (operators/geo.py radius_pairs); the
  oracle brute-forces the same pairs with DuckDB's inequality join.
  Plan-guarded: no CartesianProduct / nested loop anywhere.
* ``geo_nn_radius`` — bounded-radius nearest neighbor per point (same
  candidate generator + one row_number window; ties by neighbor id).
* ``geo_polygon_contains`` — ray-casting point-in-polygon compiled to a
  constant-folded crossing-count SUM (map-only, no shuffle); vertex
  y-coordinates are odd while point coordinates are even, so no ray
  ever grazes a vertex (integer robustness by parity).
* ``geo_path_manhattan`` — per-user trajectory length from the events
  stream (lag window + aggregate sharing one exchange).

The reference has no geospatial tier (azanium is a migration CLI);
this is north-star breadth like the dedup/ANN pillar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import geo

_PTS_SQL = """
  SELECT c_custkey AS id,
         ((c_custkey * c_custkey + 1) % 99991) * 48271 % 50000 * 2 AS x,
         ((c_custkey * c_custkey + c_custkey + 7) % 99989) * 16807 % 50000 * 2
           AS y,
         c_mktsegment AS seg
  FROM customer
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        k.alias("id"),
        ((k * k + 1) % 99991 * 48271 % 50000 * 2).cast("long").alias("x"),
        ((k * k + k + 7) % 99989 * 16807 % 50000 * 2).cast("long").alias("y"),
        F.col("c_mktsegment").alias("seg"),
    )


def q_geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid density: 5000-unit cells over the synthesized customer
    points — count + exact coordinate sums per cell.  One map-side-
    combinable hash aggregate; at 100 TB the natural pre-aggregation
    for any heat map or grid-index build."""
    pts = _points(spark, sf_dir)
    cx, cy = geo.cell_of("x", "y", 5000)
    return (
        pts.withColumn("cx", cx)
        .withColumn("cy", cy)
        .groupBy("cx", "cy")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("x").alias("sum_x"),
            F.sum("y").alias("sum_y"),
        )
    )


ORACLE_CELL_DENSITY = f"""
WITH pts AS ({_PTS_SQL})
SELECT x // 5000 AS cx, y // 5000 AS cy,
       count(*) AS n_points,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(y) AS BIGINT) AS sum_y
FROM pts GROUP BY 1, 2
"""


def q_geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join: unordered customer-point pairs within integer
    distance 1000, via the 3×3 cell-neighborhood equi-join
    (operators/geo.py radius_pairs — cell side = radius, each true pair
    produced exactly once, no post-join dedup).  The oracle brute-forces
    the same pairs with DuckDB's range-predicate join.  Banded per
    id_a % 8 so the declared result exercises distribution, not one
    global row."""
    pairs = geo.radius_pairs(
        _points(spark, sf_dir).select("id", "x", "y"), radius=1000
    )
    return (
        pairs.withColumn("band", F.col("id_a") % 8)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("dist2").alias("sum_dist2"),
            F.min("dist2").alias("min_dist2"),
        )
    )


ORACLE_RADIUS_PAIRS = f"""
WITH pts AS ({_PTS_SQL}),
cand AS (
  SELECT a.id AS id_a,
         (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
  FROM pts a JOIN pts b
    ON b.x BETWEEN a.x - 1000 AND a.x + 1000
   AND b.y BETWEEN a.y - 1000 AND a.y + 1000
   AND a.id < b.id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 1000000
)
SELECT id_a % 8 AS band, count(*) AS n_pairs,
       CAST(sum(dist2) AS BIGINT) AS sum_dist2,
       CAST(min(dist2) AS BIGINT) AS min_dist2
FROM cand GROUP BY 1
"""


def q_geo_nn_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius nearest neighbor (operators/geo.py
    nn_within_radius): each point's closest other point within 2000
    units, ties by smaller neighbor id — the full (id, nn_id, dist2)
    relation, value-hashed row by row against the brute-force oracle."""
    return geo.nn_within_radius(
        _points(spark, sf_dir).select("id", "x", "y"), radius=2000
    )


ORACLE_NN_RADIUS = f"""
WITH pts AS ({_PTS_SQL}),
cand AS (
  SELECT a.id AS id, b.id AS nn_id,
         (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS dist2
  FROM pts a JOIN pts b
    ON b.x BETWEEN a.x - 2000 AND a.x + 2000
   AND b.y BETWEEN a.y - 2000 AND a.y + 2000
   AND a.id <> b.id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000
),
rk AS (
  SELECT id, nn_id, CAST(dist2 AS BIGINT) AS dist2,
         row_number() OVER (PARTITION BY id ORDER BY dist2, nn_id) AS rn
  FROM cand
)
SELECT id, nn_id, dist2 FROM rk WHERE rn = 1
"""


# concave chevron; every vertex y is ODD (points are even — no ray
# grazes a vertex), one horizontal base edge (never crosses by parity)
_POLYGON = [
    (10001, 10001),
    (90001, 10001),
    (90001, 60001),
    (50001, 35001),
    (10001, 60001),
]


def _pip_oracle_terms() -> str:
    terms = []
    for (x1, y1), (x2, y2) in zip(_POLYGON, _POLYGON[1:] + _POLYGON[:1]):
        if y1 == y2:
            continue
        cmp_op = "<" if y2 > y1 else ">"
        terms.append(
            f"(CASE WHEN (({y1} > y) <> ({y2} > y)) AND "
            f"((x - {x1}) * {y2 - y1} {cmp_op} (y - {y1}) * {x2 - x1}) "
            f"THEN 1 ELSE 0 END)"
        )
    return " + ".join(terms)


def q_geo_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon (operators/geo.py point_in_polygon): integer
    ray casting against a concave literal polygon, compiled to one
    constant-folded crossing-count sum — the plan is a map-only scan
    (plan-guarded: no join, no shuffle before the final aggregate).
    The oracle replays the identical per-edge cross-multiplication in
    SQL, generated from the same vertex list."""
    pts = geo.point_in_polygon(_points(spark, sf_dir), _POLYGON)
    return pts.groupBy("seg", "inside").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sum_x"),
    )


ORACLE_POLYGON = f"""
WITH pts AS ({_PTS_SQL}),
flagged AS (
  SELECT seg, x, ({_pip_oracle_terms()}) % 2 = 1 AS inside FROM pts
)
SELECT seg, inside, count(*) AS n_points, CAST(sum(x) AS BIGINT) AS sum_x
FROM flagged GROUP BY 1, 2
"""


def q_geo_path_manhattan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory length over the events stream: event
    positions synthesized from event_id, consecutive steps ordered by
    (ts, event_id) — |Δx|+|Δy| summed per user (operators/geo.py
    path_manhattan: the lag window and the aggregate share one hash
    exchange; plan-guarded).  Filtered to users with ≥ 20 events so the
    declared result is a few hundred rows of long trajectories."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.col("ts"),
        F.col("event_id"),
        ((F.col("event_id") * 48271) % 100000).cast("long").alias("x"),
        ((F.col("event_id") * 16807) % 100000).cast("long").alias("y"),
    )
    return geo.path_manhattan(ev, "user_id", "ts", "event_id").filter(
        F.col("n_points") >= 20
    )


ORACLE_PATH = """
WITH pts AS (
  SELECT user_id, ts, event_id,
         (event_id * 48271) % 100000 AS x,
         (event_id * 16807) % 100000 AS y
  FROM events
),
steps AS (
  SELECT user_id,
         abs(x - lag(x) OVER w) + abs(y - lag(y) OVER w) AS step
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(*) AS n_points,
       CAST(sum(step) AS BIGINT) AS path_len
FROM steps GROUP BY user_id HAVING count(*) >= 20
"""


REGISTRY = (
    (q_geo_cell_density, ORACLE_CELL_DENSITY),
    (q_geo_radius_pairs, ORACLE_RADIUS_PAIRS),
    (q_geo_nn_radius, ORACLE_NN_RADIUS),
    (q_geo_polygon_contains, ORACLE_POLYGON),
    (q_geo_path_manhattan, ORACLE_PATH),
)
