"""Datalog front door + EAV index/time-travel queries (SURVEY §2.9):
the datalog compiler's declared surface, x7 pivot variants, cardinality-
aware patches, AVET/VAET index stores.  Split out of queries.py (round-8
verdict task 5); bodies unchanged, same oracles."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import eav
from .queries_e2e import _build_once, _fx
from .queries_shared import _MELT_ATTRS, _ORACLE_MELT_BODY, _melted_lineitem

# ---------------------------------------------------------------------------
# §2.9 X7-ext — Datalog query surface over the datoms store
# ---------------------------------------------------------------------------


def q_datalog_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic-style Datalog compiled to Catalyst self-joins: entities whose
    returnflag is 'R' and linestatus is 'F', with their quantity."""
    from . import datalog

    datoms = _melted_lineitem(spark, sf_dir)
    return datalog.query(
        datoms,
        find=["?e", "?qty"],
        where=[
            ["?e", "l_returnflag", "R"],
            ["?e", "l_linestatus", "F"],
            ["?e", "l_quantity", "?qty"],
        ],
    )


# NB: datom-level join semantics, not row-level — entities melted from
# colliding (orderkey, linenumber) keys legitimately combine facts from
# different source rows, exactly as an EAV store would
ORACLE_DATALOG = f"""
WITH m AS ({_ORACLE_MELT_BODY})
SELECT DISTINCT r.e, q.v AS qty
FROM m r, m s, m q
WHERE r.a = 'l_returnflag' AND r.v = 'R'
  AND s.a = 'l_linestatus' AND s.v = 'F'
  AND q.a = 'l_quantity'
  AND r.e = s.e AND s.e = q.e
"""


def q_datalog_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-entity-variable Datalog — orders (?o) joined to customers (?c)
    through the shared value variable ?ck, with a literal status
    constraint.  Exercises the general clause-fold path (multi-entity
    equi-joins, string-unification of value variables), not the
    single-entity grouped rewrite that datalog_query covers."""
    from . import datalog

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    order_datoms = o.select(
        F.col("o_orderkey").alias("e"),
        F.lit("order/cust").alias("a"),
        F.col("o_custkey").cast("string").alias("v"),
    ).unionByName(
        o.select(
            F.col("o_orderkey").alias("e"),
            F.lit("order/status").alias("a"),
            F.col("o_orderstatus").alias("v"),
        )
    )
    cust_datoms = c.select(
        (F.col("c_custkey") + 100_000_000).alias("e"),
        F.lit("cust/key").alias("a"),
        F.col("c_custkey").cast("string").alias("v"),
    ).unionByName(
        c.select(
            (F.col("c_custkey") + 100_000_000).alias("e"),
            F.lit("cust/segment").alias("a"),
            F.col("c_mktsegment").alias("v"),
        )
    )
    datoms = order_datoms.unionByName(cust_datoms)
    return datalog.query(
        datoms,
        find=["?o", "?ck", "?seg"],
        where=[
            ["?o", "order/cust", "?ck"],
            ["?o", "order/status", "F"],
            ["?c", "cust/key", "?ck"],
            ["?c", "cust/segment", "?seg"],
        ],
    )


ORACLE_DATALOG_JOIN = """
SELECT DISTINCT o.o_orderkey AS o, CAST(o.o_custkey AS VARCHAR) AS ck,
       c.c_mktsegment AS seg
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
"""


def q_datalog_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic-style aggregate find: per attribute, the count of distinct
    entities carrying it — ``[:find ?a (count ?e) :where [?e ?a _]]``.
    Set semantics: the aggregate runs over distinct (a, e) solutions, so
    (count ?e) is a distinct-entity count, exactly Datomic's default."""
    from . import datalog

    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        F.col("event_id").cast("string").alias("v"),
    )
    return datalog.query(datoms, find=["?a", "(count ?e)"], where=[["?e", "?a", "_"]])


ORACLE_DATALOG_AGG = """
SELECT event_type AS a, count(DISTINCT user_id) AS count_e
FROM events GROUP BY event_type
"""


def q_datalog_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic not-clause → anti-join: users who clicked but never
    errored — ``[:find ?e :where [?e "click" _] (not [?e "error" _])]``."""
    from . import datalog

    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        F.col("event_id").cast("string").alias("v"),
    )
    return datalog.query(
        datoms,
        find=["?e"],
        where=[["?e", "click", "_"], ("not", ["?e", "error", "_"])],
    )


ORACLE_DATALOG_NOT = """
SELECT DISTINCT user_id AS e FROM events
WHERE event_type = 'click'
  AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'error')
"""


def q_datalog_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic or + not composed: users with a click OR a view who never
    errored — the or-clause rewrites to a union of branch queries, the
    not-clause anti-joins the result."""
    from . import datalog

    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        F.col("event_id").cast("string").alias("v"),
    )
    return datalog.query(
        datoms,
        find=["?e"],
        where=[
            ("or", [["?e", "click", "_"], ["?e", "view", "_"]]),
            ("not", ["?e", "error", "_"]),
        ],
    )


ORACLE_DATALOG_OR = """
SELECT DISTINCT user_id AS e FROM events
WHERE event_type IN ('click', 'view')
  AND user_id NOT IN (SELECT user_id FROM events WHERE event_type = 'error')
"""


def q_datalog_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive Datalog rule (ancestor over a parent relation) via path
    doubling: parent edges k → k/2 over the customer keys form a binary
    tree ~log₂(n) deep; the closure finds every (node, ancestor) pair in
    ⌈log₂ depth⌉ self-join rounds.  Oracled by a DuckDB recursive CTE —
    the iterative fixpoint sits inside the exact-correctness gate."""
    from . import datalog

    cust = load_table(spark, sf_dir, "customer")
    edges = cust.filter(F.col("c_custkey") >= 1).select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") / 2).cast("long").alias("dst"),
    )
    return datalog.transitive_closure(edges)


ORACLE_DATALOG_ANCESTORS = """
WITH RECURSIVE edges AS (
  SELECT c_custkey AS src, CAST(floor(c_custkey / 2) AS BIGINT) AS dst
  FROM customer WHERE c_custkey >= 1
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src, dst FROM reach
"""


def q_datalog_pull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic pull-pattern surface (datalog.pull): nation entities pulled
    with a card-one attribute, a card-many attribute (two planted tag
    datoms per nation), and a ref navigation into region entities —
    ``pull(e, ["nation/name", "nation/tag", {"nation/region":
    ["region/name"]}])``.  The output is the canonical-JSON document the
    pull API defines (pattern-order keys, sorted value arrays), which the
    oracle rebuilds byte-for-byte with plain string concatenation."""
    from . import datalog

    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    e = F.col("n_nationkey").cast("long")
    datoms = (
        nat.select(e.alias("e"), F.lit("nation/name").alias("a"),
                   F.col("n_name").alias("v"))
        .unionByName(nat.select(
            e.alias("e"), F.lit("nation/tag").alias("a"),
            F.format_string("alpha_%d", (F.col("n_nationkey") % 3)).alias("v")))
        .unionByName(nat.select(
            e.alias("e"), F.lit("nation/tag").alias("a"),
            F.format_string("beta_%d", (F.col("n_nationkey") % 2)).alias("v")))
        .unionByName(nat.select(
            e.alias("e"), F.lit("nation/region").alias("a"),
            (F.col("n_regionkey").cast("long") + 1000).cast("string").alias("v")))
        .unionByName(reg.select(
            (F.col("r_regionkey").cast("long") + 1000).alias("e"),
            F.lit("region/name").alias("a"), F.col("r_name").alias("v")))
    )
    return datalog.pull(
        datoms,
        ["nation/name", "nation/tag", {"nation/region": ["region/name"]}],
    )


ORACLE_DATALOG_PULL = """
SELECT CAST(n.n_nationkey AS BIGINT) AS e,
       '{"nation/name":["' || n.n_name || '"],"nation/tag":["' ||
       array_to_string(list_sort(['alpha_' || CAST(n.n_nationkey % 3 AS VARCHAR),
                                  'beta_'  || CAST(n.n_nationkey % 2 AS VARCHAR)]),
                       '","') ||
       '"],"nation/region":[{"region/name":["' || r.r_name || '"]}]}'
       AS pulled
FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
"""


def q_datalog_pull_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic wildcard pull ``[*]`` (datalog.pull with "*"): every
    attribute of every entity in the universe, keys in sorted attribute
    order, absent attributes as empty arrays.  Same planted fixture as
    datalog_pull, so region entities (ref targets) also surface — with
    their one region/name attribute filled and the nation attributes
    empty.  The attribute universe is resolved schema-tier (one tiny
    distinct collect), exactly how Datomic reads its ident registry."""
    from . import datalog

    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    e = F.col("n_nationkey").cast("long")
    datoms = (
        nat.select(e.alias("e"), F.lit("nation/name").alias("a"),
                   F.col("n_name").alias("v"))
        .unionByName(nat.select(
            e.alias("e"), F.lit("nation/tag").alias("a"),
            F.format_string("alpha_%d", (F.col("n_nationkey") % 3)).alias("v")))
        .unionByName(nat.select(
            e.alias("e"), F.lit("nation/region").alias("a"),
            (F.col("n_regionkey").cast("long") + 1000).cast("string").alias("v")))
        .unionByName(reg.select(
            (F.col("r_regionkey").cast("long") + 1000).alias("e"),
            F.lit("region/name").alias("a"), F.col("r_name").alias("v")))
    )
    return datalog.pull(datoms, ["*"])


ORACLE_DATALOG_PULL_WILDCARD = """
SELECT CAST(n.n_nationkey AS BIGINT) AS e,
       '{"nation/name":["' || n.n_name || '"],"nation/region":["' ||
       CAST(n.n_regionkey + 1000 AS VARCHAR) ||
       '"],"nation/tag":["alpha_' || CAST(n.n_nationkey % 3 AS VARCHAR) ||
       '"],"region/name":[]}' AS pulled
FROM nation n
UNION ALL
SELECT CAST(r.r_regionkey + 1000 AS BIGINT) AS e,
       '{"nation/name":[],"nation/region":[],"nation/tag":[],' ||
       '"region/name":["' || r.r_name || '"]}' AS pulled
FROM region r
"""


def q_eav_cas_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``:db.fn/cas`` semantics (eav.apply_cas): a CAS patch
    asserts only when the store's CURRENT visible value equals the
    expected one — expected NULL matches an absent/retracted datom.
    Fixture: every customer has a segment; every 7th is then retracted
    (CAS with NULL expected re-creates it), every remaining 3rd carries
    a stale expectation (rejected — value stays), the rest swap cleanly.
    The oracle computes the same case split in closed form."""
    from .operators.eav import apply_cas

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    seg = F.format_string("seg_%d", k % 5)
    base = cust.select(
        k.alias("e"), F.lit("cust/segment").alias("a"), seg.alias("v"),
        F.lit(1).alias("tx"), F.lit(True).alias("op"),
    ).unionByName(
        cust.filter(k % 7 == 0).select(
            k.alias("e"), F.lit("cust/segment").alias("a"), seg.alias("v"),
            F.lit(2).alias("tx"), F.lit(False).alias("op"),
        )
    )
    cas = cust.select(
        k.alias("e"),
        F.lit("cust/segment").alias("a"),
        F.when(k % 7 == 0, F.lit(None).cast("string"))
        .when(k % 3 == 0, F.lit("WRONG"))
        .otherwise(seg)
        .alias("expected"),
        F.format_string("updated_%d", k % 10).alias("v"),
        F.lit(3).alias("tx"),
    )
    resolved = apply_cas(base, cas)
    return resolved.select("e", "v").orderBy("e")


ORACLE_EAV_CAS = """
SELECT c_custkey AS e,
       CASE WHEN c_custkey % 7 = 0
              THEN 'updated_' || CAST(c_custkey % 10 AS VARCHAR)
            WHEN c_custkey % 3 = 0
              THEN 'seg_' || CAST(c_custkey % 5 AS VARCHAR)
            ELSE 'updated_' || CAST(c_custkey % 10 AS VARCHAR) END AS v
FROM customer ORDER BY e
"""


def q_x7_multi_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 cardinality-many pivot: EAV → one sorted ``array<string>`` per
    attribute per entity (pivot_multi) — the wide form for multi-valued
    ACeDB tags (the card-one exact pivot is x7_pivot_roundtrip).  Arrays
    are sorted, so results are layout-independent and hashable."""
    melted = _melted_lineitem(spark, sf_dir)
    return eav.pivot_multi(
        melted.filter(F.col("a").isin("l_returnflag", "l_linestatus")),
        ["l_returnflag", "l_linestatus"],
    )


ORACLE_X7_MULTI = f"""
WITH m AS ({_ORACLE_MELT_BODY})
SELECT e,
       array_agg(v ORDER BY v) FILTER (WHERE a = 'l_returnflag')
         AS l_returnflag,
       array_agg(v ORDER BY v) FILTER (WHERE a = 'l_linestatus')
         AS l_linestatus
FROM m
WHERE a IN ('l_returnflag', 'l_linestatus')
GROUP BY e
"""


def q_x7_attr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 escape hatch for very wide/sparse classes: one ``map<a,v>`` per
    entity instead of thousands of sparse columns (to_attr_map), rendered
    as sorted-key JSON for engine-portable comparison.  Restricted to
    entities with unique (orderkey, linenumber) — duplicate map keys are
    an error by design (mapKeyDedupPolicy=EXCEPTION)."""
    melted = _melted_lineitem(spark, sf_dir)
    w = Window.partitionBy("e")
    unique = (
        melted.withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__n") == len(_MELT_ATTRS))
        .drop("__n")
    )
    mapped = eav.to_attr_map(unique)
    return mapped.select("e", F.to_json("attrs").alias("attrs_json"))


ORACLE_X7_ATTR_MAP = (
    "WITH m AS ("
    + _ORACLE_MELT_BODY
    + """),
u AS (
  SELECT * FROM (
    SELECT m.*, count(*) OVER (PARTITION BY e) AS __n FROM m
  ) WHERE __n = """
    + str(len(_MELT_ATTRS))
    + """
)
SELECT e,
       '{' || string_agg('"' || a || '":"' || v || '"', ',' ORDER BY a, v)
           || '}' AS attrs_json
FROM u GROUP BY e
"""
)


def q_x7_sparse_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 wide-class fallback at PIPELINE level (SURVEY §7 hard part (c)):
    ``materialize_wide`` with the attribute-count threshold forced below
    the class width, so the class materializes as one ``map<a, array<v>>``
    column (to_attr_multimap) instead of pivoted columns — the layout a
    thousand-tag ACeDB class needs.

    The store fixture melts unique-keyed lineitem rows into class-qualified
    datoms: four card-one attributes plus a card-many ``lineitem/flags``
    (two datoms per entity) that would be a duplicate-map-key ERROR in the
    card-one map — the multimap absorbs it as a sorted array.  The declared
    result projects map size and per-attribute lookups; the oracle
    recomputes them straight from lineitem."""
    import os

    from .migrate import materialize_wide

    store = _fx(sf_dir, "sparse_map_store")
    schema_p = _fx(sf_dir, "sparse_map_schema")
    if not os.path.exists(os.path.join(store, "_SUCCESS")):
        melted = _melted_lineitem(spark, sf_dir)
        w = Window.partitionBy("e")
        unique = (
            melted.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") == len(_MELT_ATTRS))
            .drop("__n")
        )
        qualified = unique.select(
            "e",
            F.concat(F.lit("lineitem/"), F.col("a")).alias("a"),
            "v",
            "tx",
            "op",
        )
        flags = (
            unique.filter(F.col("a").isin("l_returnflag", "l_linestatus"))
            .select(
                "e",
                F.lit("lineitem/flags").alias("a"),
                "v",
                "tx",
                "op",
            )
        )
        qualified.unionByName(flags).withColumn(
            "class", F.lit("lineitem")
        ).write.mode("overwrite").parquet(store)
        spark.createDataFrame(
            [("lineitem", a, "one") for a in _MELT_ATTRS]
            + [("lineitem", "flags", "many")],
            ["class", "attribute", "cardinality"],
        ).coalesce(1).write.mode("overwrite").parquet(schema_p)
    out = materialize_wide(
        spark,
        store,
        schema_p,
        _fx(sf_dir, "sparse_map_out"),
        wide_attr_threshold=3,  # class has 5 attrs -> forces the map form
    )
    wide = spark.read.parquet(out["lineitem"])
    return wide.select(
        "e",
        F.size("attrs").alias("n_attrs"),
        F.element_at(F.col("attrs"), "lineitem/l_returnflag")[0].alias(
            "returnflag"
        ),
        F.element_at(F.col("attrs"), "lineitem/l_quantity")[0].alias(
            "quantity"
        ),
        F.element_at(F.col("attrs"), "lineitem/l_shipdate")[0].alias(
            "shipdate"
        ),
        F.array_join(
            F.element_at(F.col("attrs"), "lineitem/flags"), ","
        ).alias("flags"),
    )


ORACLE_X7_SPARSE_MAP = """
WITH unique_li AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS __n
    FROM lineitem
  ) WHERE __n = 1
)
SELECT l_orderkey * 8 + l_linenumber AS e,
       5 AS n_attrs,
       l_returnflag AS returnflag,
       CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS quantity,
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS shipdate,
       array_to_string(list_sort([l_returnflag, l_linestatus]), ',') AS flags
FROM unique_li
"""


# ---------------------------------------------------------------------------
# §2.9 X4 — cardinality-aware patch resolution
# ---------------------------------------------------------------------------

_X4CM_MANY = ["click", "view", "error"]  # stand-in card-many attributes


def q_x4_card_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 cardinality-aware (pseudoace.py:105-110 + the models schema's
    UNIQUE flag): card-one attributes upsert LWW per (e,a); card-many
    attributes resolve per (e,a,v) — asserts accumulate, and only a
    retraction of the same value removes it.  ``v = event_id % 50`` forces
    value collisions so retractions actually meet asserts; ``op`` is a
    function of v so tx-ties resolve deterministically."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        (F.col("event_id") % 50).cast("string").alias("v"),
        F.col("ts").alias("tx"),
        ((F.col("event_id") % 50) % 7 != 0).alias("op"),
        (F.col("event_id") % 2).alias("__par"),
    )
    base = ev.filter(F.col("__par") == 0).drop("__par")
    patches = ev.filter(F.col("__par") == 1).drop("__par")
    return eav.apply_patches(
        base, patches, tiebreak_col="v", card_many_attrs=_X4CM_MANY
    )


ORACLE_X4_CARD_MANY = """
WITH datoms AS (
  SELECT user_id AS e, event_type AS a, CAST(event_id % 50 AS VARCHAR) AS v,
         ts AS tx, ((event_id % 50) % 7 <> 0) AS op, event_id % 2 AS src
  FROM events
), ranked AS (
  SELECT e, a, v, tx, op,
         row_number() OVER (
           PARTITION BY e, a,
             CASE WHEN a IN ('click','view','error') THEN v END
           ORDER BY tx DESC, src DESC, v DESC) AS rn
  FROM datoms
)
SELECT e, a, v, tx, op FROM ranked WHERE rn = 1 AND op
"""


# ---------------------------------------------------------------------------
# §2.9 ext — Datomic as-of time travel over the datom log
# ---------------------------------------------------------------------------


def q_eav_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``as-of`` view (eav.as_of): a datom log with asserts AND
    retracts derived from events (monotonic tx = event_id, value =
    event_id % 5 so (e,a,v) keys collide across time and the
    latest-fact-wins resolution is actually exercised), cut at tx ≤
    5000, profiled per attribute.  A datom is visible iff its latest
    fact at the cut is an assert — retract hides, re-assert restores.
    The history view needs no operator (the raw log IS Datomic's history
    database)."""
    from .operators.eav import as_of

    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        (F.col("event_id") % 5).cast("string").alias("v"),
        F.col("event_id").alias("tx"),
        (F.col("event_id") % 3 != 0).alias("op"),
    )
    visible = as_of(datoms, F.lit(5000), tx_col="tx")
    return visible.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_visible"),
        F.countDistinct("e").alias("n_entities"),
        F.max("tx").alias("latest_tx"),
    )


ORACLE_EAV_AS_OF = """
WITH cut AS (
  SELECT user_id AS e, event_type AS a,
         CAST(event_id % 5 AS VARCHAR) AS v,
         event_id AS tx, (event_id % 3 <> 0) AS op
  FROM events WHERE event_id <= 5000
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY e, a, v ORDER BY tx DESC) AS rn
  FROM cut
)
SELECT a, count(*) AS n_visible, count(DISTINCT e) AS n_entities,
       max(tx) AS latest_tx
FROM latest WHERE rn = 1 AND op
GROUP BY a
"""


def q_eav_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``since`` view (eav.since) — the complement of as-of:
    resolution over only the facts transacted AFTER the cut, so a datom
    untouched since the cut is invisible (Datomic's since-db subtlety).
    Same derived datom log as eav_as_of; same per-attribute profile, so
    the two rows directly exhibit the as-of/since split of one store."""
    from .operators.eav import since

    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("user_id").alias("e"),
        F.col("event_type").alias("a"),
        (F.col("event_id") % 5).cast("string").alias("v"),
        F.col("event_id").alias("tx"),
        (F.col("event_id") % 3 != 0).alias("op"),
    )
    visible = since(datoms, F.lit(500), tx_col="tx")
    return visible.groupBy("a").agg(
        F.count(F.lit(1)).alias("n_visible"),
        F.countDistinct("e").alias("n_entities"),
        F.min("tx").alias("earliest_tx"),
    )


ORACLE_EAV_SINCE = """
WITH tail AS (
  SELECT user_id AS e, event_type AS a,
         CAST(event_id % 5 AS VARCHAR) AS v,
         event_id AS tx, (event_id % 3 <> 0) AS op
  FROM events WHERE event_id > 500
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY e, a, v ORDER BY tx DESC) AS rn
  FROM tail
)
SELECT a, count(*) AS n_visible, count(DISTINCT e) AS n_entities,
       min(tx) AS earliest_tx
FROM latest WHERE rn = 1 AND op
GROUP BY a
"""


def q_eav_upsert_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``:db.unique/identity`` upsert (eav.resolve_tempids): a
    patch transaction whose entities are named by string tempids, each
    carrying a ``cust/id`` identity datom.  Tempids whose identity value
    exists in the db resolve to the existing entity id; the rest mint
    ``max(e)+1…`` densely in identity order through the distributed
    two-level prefix sum (corpus.dense_ids) — no 1-task row_number.
    Output: one row per patch identity with the resolved id and whether
    it upserted onto an existing entity."""
    from .operators.eav import resolve_tempids

    cust = load_table(spark, sf_dir, "customer")
    db = cust.select(
        F.col("c_custkey").alias("e"),
        F.lit("cust/id").alias("a"),
        F.col("c_name").alias("v"),
        F.lit(1).alias("tx"),
        F.lit(True).alias("op"),
    )
    hits = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lit("p-"), F.col("c_name")).alias("tempid"),
        F.lit("cust/id").alias("a"),
        F.col("c_name").alias("v"),
    )
    news = load_table(spark, sf_dir, "supplier").select(
        F.concat(F.lit("p-"), F.col("s_name")).alias("tempid"),
        F.lit("cust/id").alias("a"),
        F.col("s_name").alias("v"),
    )
    patches = hits.unionByName(news).select(
        "tempid", "a", "v", F.lit(2).alias("tx"), F.lit(True).alias("op")
    )
    resolved = resolve_tempids(db, patches, "cust/id")
    max_e = db.agg(F.max("e").alias("__m"))
    return (
        resolved.filter(F.col("a") == "cust/id")
        .join(F.broadcast(max_e))
        .select(
            F.col("v").alias("ident"),
            F.col("e").alias("resolved_e"),
            (F.col("e") <= F.col("__m")).alias("upserted"),
        )
        .orderBy("ident")
    )


ORACLE_EAV_UPSERT = """
WITH db AS (
  SELECT c_custkey AS e, c_name AS v FROM customer
),
patch_idents AS (
  SELECT c_name AS ident FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT s_name AS ident FROM supplier
),
existing AS (
  SELECT v, min(e) AS e FROM db GROUP BY v
),
hits AS (
  SELECT p.ident, x.e FROM patch_idents p JOIN existing x ON p.ident = x.v
),
misses AS (
  SELECT p.ident,
         (SELECT max(e) FROM db)
         + row_number() OVER (ORDER BY p.ident) AS e
  FROM patch_idents p LEFT JOIN existing x ON p.ident = x.v
  WHERE x.e IS NULL
)
SELECT ident, e AS resolved_e, TRUE AS upserted FROM hits
UNION ALL
SELECT ident, e AS resolved_e, FALSE AS upserted FROM misses
ORDER BY ident
"""


def q_eav_retract_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``:db/retractEntity`` with ``:db/isComponent`` cascade
    (eav.retract_entity): customers own their orders, orders own their
    lines (ACeDB hash-type subtree ownership — the reference's delete
    path drops whole object subtrees).  Entity id spaces are offset so
    the three levels never collide; roots are the first 50 customers.
    The closure is a bounded frontier loop, one hash join per level.
    The oracle is a recursive CTE over the same component edges."""
    from .operators.eav import retract_entity

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    own_orders = orders.select(
        F.col("o_custkey").alias("e"),
        F.lit("cust/orders").alias("a"),
        (F.col("o_orderkey") + 10000000).cast("string").alias("v"),
        F.lit(1).alias("tx"),
        F.lit(True).alias("op"),
    )
    own_lines = li.select(
        (F.col("l_orderkey") + 10000000).alias("e"),
        F.lit("order/lines").alias("a"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber") + 100000000)
        .cast("string")
        .alias("v"),
        F.lit(1).alias("tx"),
        F.lit(True).alias("op"),
    )
    datoms = own_orders.unionByName(own_lines)
    roots = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 50)
        .select(F.col("c_custkey").alias("e"))
    )
    closed = retract_entity(
        datoms, roots, ["cust/orders", "order/lines"]
    )
    return closed.agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.min("e").alias("min_e"),
        F.max("e").alias("max_e"),
        F.sum(F.col("e").cast("decimal(28,0)")).cast("double").alias("sum_e"),
    )


ORACLE_EAV_RETRACT = """
WITH RECURSIVE edges AS (
  SELECT o_custkey AS parent, o_orderkey + 10000000 AS child FROM orders
  UNION ALL
  SELECT l_orderkey + 10000000 AS parent,
         l_orderkey * 10 + l_linenumber + 100000000 AS child
  FROM lineitem
),
closure AS (
  SELECT c_custkey AS e FROM customer WHERE c_custkey < 50
  UNION
  SELECT child AS e FROM closure JOIN edges ON closure.e = edges.parent
)
SELECT count(*) AS n_entities, min(e) AS min_e, max(e) AS max_e,
       CAST(sum(CAST(e AS DECIMAL(28,0))) AS DOUBLE) AS sum_e
FROM closure
"""


def q_datalog_with(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic ``:with`` clause — bag semantics for aggregates: ``[:find
    ?t (sum ?amt) :with ?e]``.  Without :with, the solution SET collapses
    two events of the same type and amount into one tuple and the sum
    undercounts; ``:with ?e`` widens the distinct key by the entity var
    so every event contributes.  Amounts are integer-valued, so the
    double-typed sum is order-independent and exact cross-engine."""
    from . import datalog

    ev = load_table(spark, sf_dir, "events")
    datoms = ev.select(
        F.col("event_id").alias("e"), F.lit("ev/type").alias("a"),
        F.col("event_type").alias("v"),
    ).unionByName(
        ev.select(
            F.col("event_id").alias("e"), F.lit("ev/amt").alias("a"),
            F.round(F.col("value")).cast("long").cast("string").alias("v"),
        )
    )
    return datalog.query(
        datoms,
        find=["?t", "(sum ?amt)"],
        where=[["?e", "ev/type", "?t"], ["?e", "ev/amt", "?amt"]],
        with_vars=["?e"],
    ).orderBy("t")


ORACLE_DATALOG_WITH = """
SELECT event_type AS t,
       CAST(sum(CAST(round(value) AS BIGINT)) AS DOUBLE) AS sum_amt
FROM events
GROUP BY event_type
ORDER BY t
"""


def q_datalog_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic collection find-spec ``:find [?n ...]`` — the distinct
    solution values of one variable gathered into a single sorted-array
    row (sorted because an unordered Datomic collection must pick an
    order to be comparable across engines)."""
    from . import datalog

    nation = load_table(spark, sf_dir, "nation")
    datoms = nation.select(
        F.col("n_nationkey").alias("e"), F.lit("nation/name").alias("a"),
        F.col("n_name").alias("v"),
    ).unionByName(
        nation.select(
            F.col("n_nationkey").alias("e"),
            F.lit("nation/region").alias("a"),
            F.col("n_regionkey").cast("string").alias("v"),
        )
    )
    return datalog.collection(
        datoms,
        "?n",
        where=[["?e", "nation/region", "3"], ["?e", "nation/name", "?n"]],
    )


ORACLE_DATALOG_COLLECTION = """
SELECT list_sort(list(DISTINCT n_name)) AS n_coll
FROM nation WHERE n_regionkey = 3
"""


def q_datalog_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic rule set (the ``%`` input): ``notable`` has two
    definitions — big-ticket (price predicate, rule-local variable) or
    urgent (literal constraint) — invoked from the caller's :where and
    expanded disjunctively; per-status distinct-order counts aggregate
    the solution set (datalog.query rules= parameter)."""
    from . import datalog

    o = load_table(spark, sf_dir, "orders")
    datoms = (
        o.select(
            F.col("o_orderkey").alias("e"),
            F.lit("order/price").alias("a"),
            F.col("o_totalprice").cast("string").alias("v"),
        )
        .unionByName(
            o.select(
                F.col("o_orderkey").alias("e"),
                F.lit("order/priority").alias("a"),
                F.col("o_orderpriority").alias("v"),
            )
        )
        .unionByName(
            o.select(
                F.col("o_orderkey").alias("e"),
                F.lit("order/status").alias("a"),
                F.col("o_orderstatus").alias("v"),
            )
        )
    )
    rules = {
        "notable": [
            (
                ["?o"],
                [
                    ["?o", "order/price", "?p"],
                    "CAST(?p AS DOUBLE) > 300000",
                ],
            ),
            (["?o"], [["?o", "order/priority", "1-URGENT"]]),
        ]
    }
    return datalog.query(
        datoms,
        find=["?s", "(count ?o)"],
        where=[("rule", "notable", ["?o"]), ["?o", "order/status", "?s"]],
        rules=rules,
    )


ORACLE_DATALOG_RULES = """
SELECT o_orderstatus AS s, count(DISTINCT o_orderkey) AS count_o
FROM orders
WHERE o_totalprice > 300000 OR o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""


def _ensure_index_store(spark: SparkSession, sf_dir: str) -> str:
    """Build the index store (eav.write_indexes: the AEVT, AVET and
    VAET layouts) once per sf — content-deterministic from the parquet
    tables, so it is built once (``_build_once``) and served
    thereafter."""
    from .operators.eav import write_indexes

    root = _fx(sf_dir, "index_store")

    def build() -> None:
        cust = load_table(spark, sf_dir, "customer")
        orders = load_table(spark, sf_dir, "orders")
        datoms = (
            cust.select(
                F.col("c_custkey").alias("e"), F.lit("cust/name").alias("a"),
                F.col("c_name").alias("v"), F.lit(1).alias("tx"),
                F.lit(True).alias("op"),
            )
            .unionByName(cust.select(
                F.col("c_custkey").alias("e"), F.lit("cust/segment").alias("a"),
                F.col("c_mktsegment").alias("v"), F.lit(1).alias("tx"),
                F.lit(True).alias("op"),
            ))
            .unionByName(orders.select(
                (F.col("o_orderkey") + 10000000).alias("e"),
                F.lit("order/customer").alias("a"),
                F.col("o_custkey").cast("string").alias("v"),
                F.lit(1).alias("tx"), F.lit(True).alias("op"),
            ))
        )
        write_indexes(datoms, root, ref_attrs=["order/customer"])

    _build_once(root, build)
    return root


def q_eav_avet_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic's AVET index as a storage layout (eav.write_indexes):
    value-range lookup on cust/name touches ONE hive partition
    directory (the ``a`` key — PartitionFilters plan-guarded) with the
    ``v`` range pushed into v-sorted row groups.  The oracle is the
    direct relational filter — identical rows, radically different scan
    cost at 100 TB."""
    from .operators.eav import avet_lookup

    root = _ensure_index_store(spark, sf_dir)
    return avet_lookup(
        spark, root, "cust/name",
        "Customer#000000100", "Customer#000000199",
    ).select("e", "v").orderBy("e")


ORACLE_EAV_AVET = """
SELECT c_custkey AS e, c_name AS v
FROM customer
WHERE c_name >= 'Customer#000000100' AND c_name <= 'Customer#000000199'
ORDER BY e
"""


def q_eav_vaet_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datomic's VAET index: reverse-ref navigation ("which orders point
    at these customers?") reads ONLY the ref-attribute partition — no
    scan of name/segment datoms.  Profile per target customer; oracle is
    the direct orders filter."""
    from .operators.eav import vaet_reverse_lookup

    root = _ensure_index_store(spark, sf_dir)
    targets = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < 50
    ).select(F.col("c_custkey").alias("e"))
    rev = vaet_reverse_lookup(spark, root, targets)
    return (
        rev.groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("n_referrers"),
            F.min("referrer").alias("min_referrer"),
        )
        .orderBy("target")
    )


ORACLE_EAV_VAET = """
SELECT o_custkey AS target, count(*) AS n_referrers,
       min(o_orderkey + 10000000) AS min_referrer
FROM orders WHERE o_custkey < 50
GROUP BY o_custkey ORDER BY target
"""


def q_datalog_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Datalog compiler reading the AEVT index STORE instead of an
    in-memory datom frame: each pattern clause binds a constant
    attribute, the compiler emits the equality filter, and because the
    AEVT layout hive-partitions by ``a``, Catalyst turns every clause
    into a one-directory pruned scan (PartitionFilters plan-guarded) —
    the join of Datomic's "index per access path" storage with the
    declarative query surface.  Orders-per-segment through the ref
    attribute, entity/value unification across the string boundary
    handled by the compiler."""
    from . import datalog

    root = _ensure_index_store(spark, sf_dir)
    datoms = spark.read.parquet(f"{root}/aevt").select("e", "a", "v")
    return datalog.query(
        datoms,
        find=["?seg", "(count ?o)"],
        where=[
            ["?o", "order/customer", "?c"],
            ["?c", "cust/segment", "?seg"],
        ],
    )


ORACLE_DATALOG_INDEXED = """
SELECT c_mktsegment AS seg, count(DISTINCT o_orderkey + 10000000) AS count_o
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


REGISTRY = (
    (q_datalog_query, ORACLE_DATALOG),
    (q_datalog_join, ORACLE_DATALOG_JOIN),
    (q_datalog_agg, ORACLE_DATALOG_AGG),
    (q_datalog_not, ORACLE_DATALOG_NOT),
    (q_datalog_or, ORACLE_DATALOG_OR),
    (q_datalog_ancestors, ORACLE_DATALOG_ANCESTORS),
    (q_datalog_pull, ORACLE_DATALOG_PULL),
    (q_datalog_pull_wildcard, ORACLE_DATALOG_PULL_WILDCARD),
    (q_eav_cas_patch, ORACLE_EAV_CAS),
    (q_x7_multi_pivot, ORACLE_X7_MULTI),
    (q_x7_attr_map, ORACLE_X7_ATTR_MAP),
    (q_x7_sparse_map, ORACLE_X7_SPARSE_MAP),
    (q_x4_card_many, ORACLE_X4_CARD_MANY),
    (q_eav_as_of, ORACLE_EAV_AS_OF),
    (q_eav_since, ORACLE_EAV_SINCE),
    (q_eav_upsert_identity, ORACLE_EAV_UPSERT),
    (q_eav_retract_cascade, ORACLE_EAV_RETRACT),
    (q_datalog_with, ORACLE_DATALOG_WITH),
    (q_datalog_collection, ORACLE_DATALOG_COLLECTION),
    (q_datalog_rules, ORACLE_DATALOG_RULES),
    (q_eav_avet_lookup, ORACLE_EAV_AVET),
    (q_eav_vaet_reverse, ORACLE_EAV_VAET),
    (q_datalog_indexed, ORACLE_DATALOG_INDEXED),
)
