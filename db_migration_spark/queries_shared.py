"""Shared query-building helpers and oracle SQL fragments used by more
than one queries* module — a LEAF module (imports only operators), so any
query module can import it at module top."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import eav
from .operators.similarity import FP_SCALE, NSW_H, NSW_K, NSW_M, NSW_W, fp_dot


_MELT_ATTRS = ["l_quantity", "l_returnflag", "l_linestatus", "l_shipdate"]


def _melt_lineitem_df(li: DataFrame) -> DataFrame:
    prepared = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("__e"),
        F.col("l_quantity").cast("long").cast("string").alias("l_quantity"),
        "l_returnflag",
        "l_linestatus",
        F.col("l_shipdate").cast("date").cast("string").alias("l_shipdate"),
        F.col("l_shipdate").alias("__tx"),
    )
    return eav.melt(prepared, F.col("__e"), _MELT_ATTRS, "__tx")


def _melted_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _melt_lineitem_df(load_table(spark, sf_dir, "lineitem"))


_ORACLE_MELT_BODY = """
SELECT l_orderkey * 8 + l_linenumber AS e, 'l_quantity' AS a,
       CAST(CAST(floor(l_quantity) AS BIGINT) AS VARCHAR) AS v, l_shipdate AS tx, true AS op
FROM lineitem
UNION ALL
SELECT l_orderkey * 8 + l_linenumber, 'l_returnflag', l_returnflag, l_shipdate, true
FROM lineitem
UNION ALL
SELECT l_orderkey * 8 + l_linenumber, 'l_linestatus', l_linestatus, l_shipdate, true
FROM lineitem
UNION ALL
SELECT l_orderkey * 8 + l_linenumber, 'l_shipdate',
       CAST(CAST(l_shipdate AS DATE) AS VARCHAR), l_shipdate, true
FROM lineitem
"""


def _ann_recall_gate(approx: DataFrame, exact: DataFrame, bound: float) -> DataFrame:
    """One deterministic acceptance row for an ANN variant: exact-side
    counts (SQL-recomputable) plus a mean-recall@k boolean.  The
    hashing/seeding inside each variant is deterministic, so the
    boolean is a fixed property of the fixture, not a flaky check."""
    hits = exact.join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    base = exact.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    return base.crossJoin(hits).select(
        "n_queries",
        "n_exact",
        # vacuous pass on an empty exact set (matches the oracle's TRUE)
        F.coalesce(
            F.try_divide(F.col("n_hit"), F.col("n_exact")) >= bound,
            F.lit(True),
        ).alias("recall_ok"),
    )


# exact top-10 head shared by the three ANN acceptance oracles
_ORACLE_ANN_EXACT_HEAD = """
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
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact,
       TRUE AS recall_ok
FROM ranked WHERE rank <= 10
"""


# THE shared exact word-3-gram shingle/Jaccard CTE block — single
# definition so a future shingle-rule change cannot fork the ngram
# oracle from the sketch acceptance oracles that gate against it
# (minhash/simhash recompute "exact Jaccard >= threshold" over the
# SAME pair space).
_SHINGLE_JACCARD_CTES = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
), sh AS (
  -- mirrors functions/text.shingles(): docs with < k tokens contribute
  -- ONE whole-text shingle instead of vanishing from the pair space
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
){extra_ctes}
"""

# the .ace dump profile recomputed from the generating tables; shared by
# the format plugin's batch, streaming and write-back entry points (the
# profile must be identical however the dump dir is read)
ORACLE_ACE_DATASOURCE = """
SELECT 'Customer' AS class, 'Name' AS tag, count(*) AS n_records,
       count(DISTINCT 'C' || c_custkey) AS n_objs,
       min(c_name) AS min_v, max(c_name) AS max_v,
       count(*) AS n_ts, CAST(0 AS BIGINT) AS n_comments
FROM customer
UNION ALL
SELECT 'Customer', 'Address', count(*), count(DISTINCT 'C' || c_custkey),
       min('CITY_' || c_nationkey), max('CITY_' || c_nationkey), 0, 0
FROM customer
UNION ALL
SELECT 'Customer', 'Acctbal', count(*), count(DISTINCT 'C' || c_custkey),
       min(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)),
       max(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)), 0, 0
FROM customer
UNION ALL
SELECT 'Customer', 'Segment', count(*), count(DISTINCT 'C' || c_custkey),
       min(c_mktsegment), max(c_mktsegment), 0, 0
FROM customer
UNION ALL
SELECT 'Nation', 'RegionKey', count(*), count(DISTINCT n_name),
       min(CAST(n_regionkey AS VARCHAR)), max(CAST(n_regionkey AS VARCHAR)),
       count(*), count(*)
FROM nation
UNION ALL
SELECT 'Region', 'Comment', count(*), count(DISTINCT r_name),
       min('area ' || r_regionkey), max('area ' || r_regionkey), 0, 0
FROM region
"""


# HNSW upper-layer parameters: 1-in-8 node sample, degree 4, 2 hops,
# beam 4 — the routing layer is SMALL and cheap by design
_HNSW_STRIDE, _HNSW_M1, _HNSW_H1, _HNSW_W1 = 8, 4, 2, 4


def _exact_topk(emb: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id) of each query's exact top-``k``, self
    excluded, ranked by the SAME fixed-point dot the beams rank by —
    the brute-force side of every graph-ANN answer and gate."""
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            fp_dot(F.col("qv"), F.col("embedding")).alias("xrel"),
        )
    )
    wx = Window.partitionBy("query_id").orderBy(F.desc("xrel"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )


def _beam_topk(beam: DataFrame, k: int) -> DataFrame:
    """A final (query_id, node, rel) beam ranked to its top-``k``
    answers, the query itself excluded: (query_id, rank, neighbor_id,
    rel) with the beams' desc(rel), node tie-break."""
    wf = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
    return (
        beam.filter(F.col("node") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", F.col("node").alias("neighbor_id"), "rel")
    )


def _beam_recall_gate(
    beam: DataFrame, emb: DataFrame, q: DataFrame, bound: float
) -> DataFrame:
    """The graph-ANN acceptance row: the beam's top-K answers against
    the exact fixed-point-dot top-K through :func:`_ann_recall_gate`."""
    return _ann_recall_gate(
        _beam_topk(beam, NSW_K), _exact_topk(emb, q, NSW_K), bound
    )


def _nsw_answer(beam: DataFrame, emb: DataFrame, q: DataFrame) -> DataFrame:
    """Rank the final beam to top-K (self excluded) and join each
    answer against the exact brute-force top-K (``in_exact10`` puts
    recall inside the hash gate).  Shared by the NSW and HNSW tails."""
    exact = _exact_topk(emb, q, NSW_K).withColumn("hit", F.lit(True))
    return (
        _beam_topk(beam, NSW_K)
        .join(exact, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "rel",
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact10"),
        )
        .orderBy("query_id", "rank")
    )


def _nsw_oracle_sql() -> str:
    dot = (
        "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
        "CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * "
        f"{FP_SCALE} + 0.5) AS BIGINT))) AS BIGINT)"
    )
    sql = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 3),
dots AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         {dot.format(a="a.embedding", b="b.embedding")} AS dot
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
knn AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
        PARTITION BY src ORDER BY dot DESC, dst) AS rn
    FROM dots) WHERE rn <= {NSW_M}),
edges AS (SELECT src, dst FROM knn
          UNION SELECT dst AS src, src AS dst FROM knn),
entry AS (SELECT min(vec_id) AS node FROM embeddings),
s0 AS (
  SELECT query_id, node, {dot.format(a="qv", b="e.embedding")} AS rel
  FROM q CROSS JOIN entry JOIN embeddings e ON e.vec_id = node)"""
    for i in range(1, NSW_H + 1):
        sql += f""",
c{i} AS (
  SELECT query_id, node FROM s{i - 1}
  UNION
  SELECT s.query_id, ed.dst AS node
  FROM s{i - 1} s JOIN edges ed ON ed.src = s.node),
s{i} AS (
  SELECT query_id, node, rel FROM (
    SELECT x.*, row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, node) AS rn
    FROM (SELECT c.query_id, c.node,
                 {dot.format(a="qv", b="e.embedding")} AS rel
          FROM c{i} c
          JOIN embeddings e ON e.vec_id = c.node
          JOIN q ON q.query_id = c.query_id) x)
  WHERE rn <= {NSW_W})"""
    sql += f""",
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY {dot.format(a="qv", b="e.embedding")} DESC,
                        e.vec_id) AS rn
    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id)
  WHERE rn <= {NSW_K}),
fin AS (
  SELECT query_id, node AS neighbor_id, rel,
         CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, node) AS INTEGER) AS rank
  FROM s{NSW_H} WHERE node <> query_id)
SELECT f.query_id, f.rank, f.neighbor_id, f.rel,
       (e.neighbor_id IS NOT NULL) AS in_exact10
FROM fin f LEFT JOIN exact e
  ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
WHERE f.rank <= {NSW_K}
ORDER BY 1, 2
"""
    return sql


ORACLE_NSW = _nsw_oracle_sql()
