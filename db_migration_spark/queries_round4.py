"""Round-4 engine-surface additions.

* ``asof_nearest_tolerance`` — the FULL pandas-merge_asof surface
  (operators/relational.py ``asof_join_nearest``): direction=nearest
  with a tolerance window, left-outer semantics, matched timestamp in
  the output.  Single-shuffle union-and-carry plan (the forward pass is
  a second in-partition sort over the SAME exchange — plan-guarded).
  The oracle replays both carries with DuckDB's IGNORE NULLS windows
  and the same tie rule (equidistant → backward, the pandas rule).
* ``f_hof_suite`` — higher-order array functions parity: transform /
  filter / exists / forall / aggregate / zip_with / slice / reverse /
  array_position against DuckDB's list lambdas (list_transform,
  list_filter, list_slice, …).  All integer-exact.
* ``sql_pivot_clause`` — the SQL PIVOT front door (Spark's PIVOT
  clause); the oracle is the equivalent conditional aggregation (DuckDB
  PIVOT's column naming differs, so parity is at the semantics level
  with explicit aliases, like the rest of the f_* suites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators.relational import asof_join_nearest
# NSW graph machinery lives in operators/similarity (round-8 move); the
# aliases keep this module's oracles and external callers (tests, tools)
# working unchanged.
from .operators.similarity import (
    FP_SCALE as _MMR_SCALE,
    NSW_H as _NSW_H,
    NSW_K as _NSW_K,
    NSW_M as _NSW_M,
    NSW_W as _NSW_W,
    fp_dot as _fp_dot,
    nsw_beam_search,
    nsw_build_edges,
    nsw_build_edges_descent,
    nsw_build_edges_lsh,
)
from .queries_e2e import _build_once, _fx
from .queries_annstore import ensure_nsw_exact_edges, ensure_nsw_graph_store
from .queries_shared import (
    ORACLE_NSW,
    _HNSW_H1,
    _HNSW_M1,
    _HNSW_STRIDE,
    _HNSW_W1,
    _ORACLE_ANN_EXACT_HEAD,
    _beam_recall_gate,
    _nsw_answer,
)
from .queries_stats import _copurchase_edges


def q_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join with a 2 h tolerance: every click
    matched to the user's nearest-in-time purchase (ties → backward),
    unmatched clicks kept with NULLs.  Right side pre-deduped to one
    row per (user, ts) keeping the max event id — the determinism
    contract, mirrored in the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_id").alias("p_id"), "cents")
    )
    return asof_join_nearest(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["p_id", "cents"],
        direction="nearest",
        tolerance_seconds=7200,
    )


ORACLE_ASOF_NEAREST = """
WITH base AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
r0 AS (
  SELECT user_id, ts, event_id AS p_id, cents,
         row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC)
           AS rn
  FROM base WHERE event_type = 'purchase'
),
r AS (SELECT user_id, ts, p_id, cents FROM r0 WHERE rn = 1),
l AS (
  SELECT user_id, ts, event_id AS click_id FROM base
  WHERE event_type = 'click'
),
u AS (
  SELECT user_id, ts, 0 AS side,
         {'rts': ts, 'p_id': p_id, 'cents': cents} AS rv,
         CAST(NULL AS BIGINT) AS click_id
  FROM r
  UNION ALL
  SELECT user_id, ts, 1,
         CAST(NULL AS STRUCT(rts TIMESTAMP, p_id BIGINT, cents BIGINT)),
         click_id
  FROM l
),
c AS (
  SELECT *,
    last_value(rv IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts, side
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
    first_value(rv IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY ts ASC, side DESC
      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
  FROM u
),
m AS (
  SELECT user_id, ts, click_id,
         b, f,
         b IS NOT NULL
           AND abs(epoch_us(ts) - epoch_us(b.rts)) <= 7200000000 AS b_ok,
         f IS NOT NULL
           AND abs(epoch_us(f.rts) - epoch_us(ts)) <= 7200000000 AS f_ok
  FROM c WHERE side = 1
)
SELECT user_id, ts, click_id,
  CASE WHEN b_ok AND (NOT f_ok
            OR epoch_us(ts) - epoch_us(b.rts)
               <= epoch_us(f.rts) - epoch_us(ts))
       THEN b.rts WHEN f_ok THEN f.rts END AS matched_ts,
  CASE WHEN b_ok AND (NOT f_ok
            OR epoch_us(ts) - epoch_us(b.rts)
               <= epoch_us(f.rts) - epoch_us(ts))
       THEN b.p_id WHEN f_ok THEN f.p_id END AS p_id,
  CASE WHEN b_ok AND (NOT f_ok
            OR epoch_us(ts) - epoch_us(b.rts)
               <= epoch_us(f.rts) - epoch_us(ts))
       THEN b.cents WHEN f_ok THEN f.cents END AS cents
FROM m
"""


def q_f_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform, filter, exists,
    forall, aggregate (fold), zip_with, slice, reverse, array_position
    — in one codegen projection over per-row integer sequences; DuckDB
    answers with list lambdas.  Everything integer-exact; size()/len()
    and list_position types normalized to BIGINT on both engines."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 37 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_orderkey") % 7 + 3).alias("n"),
        )
    )
    arr = F.sequence(F.lit(1).cast("long"), F.col("n"))
    sq = F.transform(arr, lambda x: x * x)
    zipped = F.zip_with(arr, F.reverse(arr), lambda a, b: a + b)
    fold = lambda a: F.aggregate(  # noqa: E731
        a, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return o.select(
        "k",
        fold(arr).alias("sum_arr"),
        fold(sq).alias("sum_sq"),
        F.size(F.filter(arr, lambda x: x % 2 == 0)).cast("long").alias("n_even"),
        F.exists(arr, lambda x: x > 5).alias("has_gt5"),
        F.forall(arr, lambda x: x > 0).alias("all_pos"),
        fold(zipped).alias("sum_zip"),
        F.array_join(F.slice(sq, 2, 3), ",").alias("mid_sq"),
        F.array_position(arr, 3).alias("pos3"),
    )


ORACLE_HOF = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderkey % 7 + 3 AS n
  FROM orders WHERE o_orderkey % 37 = 0
),
arrs AS (
  SELECT k, range(1, n + 1) AS arr,
         list_transform(range(1, n + 1), x -> x * x) AS sq
  FROM o
)
SELECT k,
  CAST(list_sum(arr) AS BIGINT) AS sum_arr,
  CAST(list_sum(sq) AS BIGINT) AS sum_sq,
  CAST(len(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
  len(list_filter(arr, x -> x > 5)) > 0 AS has_gt5,
  len(list_filter(arr, x -> x > 0)) = len(arr) AS all_pos,
  CAST(list_sum(list_transform(range(1, len(arr) + 1),
                               i -> arr[i] + list_reverse(arr)[i]))
       AS BIGINT) AS sum_zip,
  array_to_string(list_slice(sq, 2, 4), ',') AS mid_sq,
  CAST(list_position(arr, 3) AS BIGINT) AS pos3
FROM arrs
"""


SQL_PIVOT_SPARK = """
SELECT * FROM (
  SELECT l_returnflag AS rf,
         l_linestatus AS ls,
         CAST(floor(l_quantity) AS BIGINT) AS q
  FROM lineitem
)
PIVOT (
  sum(q) AS s, count(q) AS c
  FOR ls IN ('O' AS o, 'F' AS f)
)
"""


def q_sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL PIVOT clause through Spark's front door (multi-aggregate,
    aliased pivot values → o_s/o_c/f_s/f_c columns).  DuckDB's PIVOT
    names columns differently, so the oracle is the equivalent
    conditional aggregation with explicit aliases — semantics-level
    parity, the same discipline as the f_* suites."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_PIVOT_SPARK)


ORACLE_PIVOT = """
SELECT l_returnflag AS rf,
       CAST(sum(CASE WHEN l_linestatus = 'O'
                     THEN CAST(floor(l_quantity) AS BIGINT) END) AS BIGINT)
         AS o_s,
       count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_c,
       CAST(sum(CASE WHEN l_linestatus = 'F'
                     THEN CAST(floor(l_quantity) AS BIGINT) END) AS BIGINT)
         AS f_s,
       count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_c
FROM lineitem
GROUP BY l_returnflag
"""


def q_sql_ddl_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog/DDL front door: CREATE TABLE … USING PARQUET LOCATION
    (external table) AS SELECT, then INSERT INTO appending the rest —
    the managed-ingest surface users drive instead of DataFrame writes.
    Idempotent across sessions: once the location is built, later runs
    re-attach with CREATE TABLE IF NOT EXISTS over the existing files
    (catalog metadata is session-scoped; the data is not).  The oracle
    recomputes the CTAS+INSERT union straight from ``orders``."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    loc = _fx(sf_dir, "ddl_orders_rollup")
    spark.sql("DROP TABLE IF EXISTS ddl_rollup")

    def build() -> None:
        spark.sql(
            f"""
            CREATE TABLE ddl_rollup USING PARQUET LOCATION '{loc}' AS
            SELECT o_orderkey AS k, o_orderpriority AS prio,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders_src WHERE o_orderkey % 3 = 0
            """
        )
        spark.sql(
            """
            INSERT INTO ddl_rollup
            SELECT o_orderkey, o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
            FROM orders_src WHERE o_orderkey % 3 <> 0
            """
        )

    _build_once(loc, build)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS ddl_rollup USING PARQUET LOCATION '{loc}'"
    )
    return spark.sql(
        """
        SELECT prio, count(*) AS n_orders,
               sum(cents) AS sum_cents, max(k) AS max_key
        FROM ddl_rollup GROUP BY prio
        """
    )


ORACLE_DDL_CTAS = """
SELECT o_orderpriority AS prio, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       max(o_orderkey) AS max_key
FROM orders GROUP BY 1
"""


def q_mapinarrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``mapInArrow`` extension seam (the third sanctioned Python
    surface after mapInPandas and the UDTF): per-document stats computed
    directly on pyarrow RecordBatches with pyarrow.compute kernels — no
    pandas materialization, columnar end to end.  Like
    ``udtf_passage_split`` this certifies the API contract (schema,
    batch iteration, zero-copy columns); expression-twin semantics keep
    it under the exact gate."""
    import pyarrow as pa
    import pyarrow.compute as pc

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.utf8_length(text),
                    pc.list_value_length(pc.utf8_split_whitespace(text)),
                    pc.utf8_upper(pc.utf8_slice_codeunits(text, 0, 12)),
                ],
                names=["doc_id", "n_chars", "n_words", "shout_prefix"],
            )

    return docs.mapInArrow(
        stats,
        "doc_id long, n_chars int, n_words int, shout_prefix string",
    )


ORACLE_MAPINARROW = """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_chars,
       CAST(len(string_split_regex(text, '[ \\t\\n\\r]+')) AS INTEGER)
         AS n_words,
       upper(substr(text, 1, 12)) AS shout_prefix
FROM documents
"""


# identical string on BOTH engines (the sql_frontend discipline); the
# only dialect trap — integer division — is avoided with floor(x / 10),
# exact for keys far past 2^53^(1/1)
SQL_BOM_ROLLUP = """
WITH RECURSIVE bom AS (
  SELECT p_partkey AS part, p_partkey AS root,
         CAST(1 AS BIGINT) AS eff_qty
  FROM part WHERE p_partkey >= 1 AND p_partkey < 10
  UNION ALL
  SELECT c.p_partkey, b.root,
         b.eff_qty * (c.p_partkey % 3 + 1)
  FROM part c JOIN bom b
    ON CAST(floor(c.p_partkey / 10) AS BIGINT) = b.part
   AND c.p_partkey >= 10
)
SELECT b.root,
       count(*) AS n_parts,
       CAST(max(b.eff_qty) AS BIGINT) AS max_eff_qty,
       CAST(sum(b.eff_qty *
                CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS rolled_cost_cents
FROM bom b JOIN part p ON p.p_partkey = b.part
GROUP BY b.root
"""


def q_sql_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials cost rollup — the recursive-CTE pattern with a
    MULTIPLICATIVE semiring along paths (effective quantity = product of
    per-edge multipliers), not just reachability: a synthesized decimal
    forest over ``part`` (parent = ⌊key/10⌋, so depth ≈ log₁₀|part| and
    the frontier shrinks geometrically — the recursion shape that
    survives 100 TB).  The IDENTICAL SQL string runs on DuckDB."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(SQL_BOM_ROLLUP)


SQL_AGG_FILTER = """
SELECT l_returnflag AS rf,
       count(*) FILTER (WHERE l_quantity > 25) AS n_big,
       CAST(sum(CAST(floor(l_extendedprice) AS BIGINT))
              FILTER (WHERE l_discount > 0.05) AS BIGINT) AS price_disc,
       count(*) FILTER (WHERE l_linestatus = 'O' AND l_tax < 0.04)
         AS n_open_lowtax,
       CAST(min(CAST(floor(l_extendedprice) AS BIGINT))
              FILTER (WHERE l_quantity >= 49) AS BIGINT) AS min_bulk_price
FROM lineitem
GROUP BY l_returnflag
"""


def q_sql_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL:2003 ``FILTER (WHERE …)`` aggregate modifier through the
    front door — per-aggregate predicates in ONE pass (the engine plans
    a single hash aggregate with conditional accumulators, not N
    self-joins).  Identical string on DuckDB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(SQL_AGG_FILTER)


def q_sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-compat ``LATERAL VIEW explode`` syntax (the legacy front
    door Spark keeps for migrated warehouses) — token census by initial
    letter; the oracle is the DuckDB unnest equivalent."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_lv"
    )
    return spark.sql(
        """
        SELECT substring(w.word, 1, 1) AS initial,
               count(*) AS n_tokens,
               count(DISTINCT w.word) AS n_distinct
        FROM documents_lv
        LATERAL VIEW explode(split(text, ' ')) w AS word
        GROUP BY substring(w.word, 1, 1)
        """
    )


ORACLE_LATERAL_VIEW = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT substr(word, 1, 1) AS initial,
       count(*) AS n_tokens,
       count(DISTINCT word) AS n_distinct
FROM toks GROUP BY 1
"""


def q_corpus_chat_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT data prep: render documents into a chat template
    (system/user/assistant blocks with role markers) and emit the
    LOSS-MASK boundaries in whitespace-token space — the
    mask-everything-before-the-assistant-span convention.  All pure
    string/integer expressions (map-only); the oracle rebuilds the
    template and token arithmetic from the same word slices."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    user = F.array_join(F.slice(words, 1, 12), " ")
    assistant = F.array_join(F.slice(words, 13, 1_000_000), " ")
    sys_block = F.lit("<|system|>\nYou are a helpful assistant.")
    user_block = F.concat(F.lit("\n<|user|>\n"), user)
    asst_block = F.concat(F.lit("\n<|assistant|>\n"), assistant)
    rendered = F.concat(sys_block, user_block, asst_block, F.lit("\n<|end|>"))

    def ntok(c):
        return F.size(F.split(F.trim(c), r"\s+")).cast("long")

    prefix_toks = ntok(F.concat(sys_block, user_block, F.lit("\n<|assistant|>")))
    return docs.select(
        "doc_id",
        F.length(rendered).alias("rendered_len"),
        prefix_toks.alias("mask_end_token"),
        # split('') yields [''] on both engines — pin the honest 0
        F.when(assistant == "", F.lit(0).cast("long"))
        .otherwise(ntok(assistant))
        .alias("assistant_tokens"),
        F.substring(rendered, 1, 60).alias("rendered_prefix"),
    )


ORACLE_CHAT_TEMPLATE = """
WITH parts AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
           AS usr,
         -- DuckDB array_to_string([]) is NULL where Spark array_join
         -- gives '' — coalesce pins the short-document case
         coalesce(array_to_string(
           list_slice(string_split(text, ' '), 13, 1000000), ' '), '')
           AS asst
  FROM documents
),
blocks AS (
  SELECT doc_id,
         '<|system|>' || chr(10) || 'You are a helpful assistant.'
           AS sys_block,
         chr(10) || '<|user|>' || chr(10) || usr AS user_block,
         chr(10) || '<|assistant|>' || chr(10) || asst AS asst_block,
         asst
  FROM parts
)
SELECT doc_id,
       CAST(length(sys_block || user_block || asst_block
                   || chr(10) || '<|end|>') AS BIGINT) AS rendered_len,
       CAST(len(string_split_regex(
              trim(sys_block || user_block || chr(10) || '<|assistant|>'),
              '\\s+')) AS BIGINT) AS mask_end_token,
       CAST(CASE WHEN asst = '' THEN 0
                 ELSE len(string_split_regex(trim(asst), '\\s+')) END
            AS BIGINT) AS assistant_tokens,
       substr(sys_block || user_block || asst_block || chr(10) || '<|end|>',
              1, 60) AS rendered_prefix
FROM blocks
"""


def q_corpus_context_stuffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: for each query, stuff the highest-scoring
    passages into the prompt GREEDILY under a 120-token budget (running
    token sum over the relevance order; a passage that would overflow
    is dropped and later smaller ones may still fit — the standard
    greedy stuffing rule is prefix-only, so we keep prefix semantics:
    stop at the first overflow).  Candidate retrieval is the ANN
    bucket-probe shape — each query probes 2 of 64 passage buckets via
    a pure EQUI-join, then scores the probe set with a deterministic
    integer hash.  (The first cut broadcast-crossed queries×passages;
    the ×10 scale run showed it quadratic at 18.7s — the probe join is
    the plan that survives 100 TB, and the same rewrite every real
    retrieval tier embodies.)"""
    docs = load_table(spark, sf_dir, "documents")
    passages = docs.select(
        F.col("doc_id").alias("pid"),
        (F.col("doc_id") % 64).alias("bucket"),
        F.size(F.slice(F.split(F.col("text"), " "), 1, 40))
        .cast("long")
        .alias("cost"),
    )
    queries_df = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("qid"))
        .withColumn(
            "bucket",
            F.explode(
                F.array_distinct(  # both probes may land in one bucket
                    F.array(
                        (F.col("qid") * 31 + 7) % 64,
                        (F.col("qid") * 17 + 3) % 64,
                    )
                )
            ),
        )
    )
    from pyspark.sql import Window

    scored = (
        queries_df.join(passages, on="bucket")
        .withColumn(
            "score", ((F.col("pid") + 1) * (F.col("qid") + 7)) % 1000
        )
        .filter(F.col("score") >= 500)  # relevance threshold on the probes
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("pid")
    )
    stuffed = (
        scored.withColumn("cum", F.sum("cost").over(w))
        .filter(F.col("cum") <= 120)
    )
    return stuffed.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.max("cum").alias("tokens_used"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (1000 - F.col("score")).alias("inv"),
                            F.col("pid").alias("pid"),
                        )
                    )
                ),
                lambda s: s["pid"].cast("string"),
            ),
            ",",
        ).alias("context_ids"),
    )


ORACLE_CONTEXT_STUFFING = """
WITH p AS (
  SELECT doc_id AS pid, doc_id % 64 AS bucket,
         CAST(len(list_slice(string_split(text, ' '), 1, 40)) AS BIGINT)
           AS cost
  FROM documents
),
q AS (SELECT doc_id AS qid FROM documents WHERE doc_id % 25 = 0),
scored AS (
  SELECT qid, pid, cost, ((pid + 1) * (qid + 7)) % 1000 AS score
  FROM q JOIN p
    ON p.bucket IN ((q.qid * 31 + 7) % 64, (q.qid * 17 + 3) % 64)
  WHERE ((pid + 1) * (qid + 7)) % 1000 >= 500
),
stuffed AS (
  SELECT qid, pid, score,
         sum(cost) OVER (PARTITION BY qid ORDER BY score DESC, pid
                         ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored
)
SELECT qid,
       count(*) AS n_passages,
       CAST(max(cum) AS BIGINT) AS tokens_used,
       string_agg(CAST(pid AS VARCHAR), ',' ORDER BY score DESC, pid)
         AS context_ids
FROM stuffed
WHERE cum <= 120
GROUP BY qid
"""


def q_sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (``partitionOverwriteMode=dynamic``):
    rewrite ONLY the partitions present in the incoming frame, leaving
    sibling partitions untouched — the idempotent partition-level upsert
    every warehouse ingest uses.  Build: full partitioned write, then a
    dynamic overwrite of the URGENT partition with bumped cents.  The
    declared read aggregates the whole table; only an overwrite that
    replaced exactly one partition matches the oracle."""
    import os

    loc = _fx(sf_dir, "dyn_overwrite_orders")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    data_dir = os.path.join(loc, "table")

    def build() -> None:
        orders.write.partitionBy("prio").parquet(data_dir)
        urgent_bumped = orders.filter(
            F.col("prio") == "1-URGENT"
        ).withColumn("cents", F.col("cents") + 7)
        (
            urgent_bumped.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("prio")
            .parquet(data_dir)
        )

    _build_once(loc, build)
    return (
        spark.read.parquet(data_dir)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
    )


ORACLE_DYN_OVERWRITE = """
SELECT o_orderpriority AS prio, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                + CASE WHEN o_orderpriority = '1-URGENT' THEN 7 ELSE 0 END)
            AS BIGINT) AS sum_cents
FROM orders GROUP BY 1
"""


def q_emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed Gram matrix over the embedding corpus — the
    tall-skinny X^T·X building block of PCA/covariance/whitening: at
    100 TB the corpus never leaves the executors; only the dim×dim
    (here 64×64 → 2080 upper-triangle cells) aggregate comes back, and
    the eigensolve is a trivial driver-side step on that output.

    Embeddings are quantized to integer millis FIRST (both engines cast
    float→double→floor identically), so the accumulation is exact
    integer arithmetic — no float reduction-order wobble, hash-exact
    under the gate.  Plan: posexplode → self equi-join on vec_id (64×
    fan-out per vector, upper triangle only) → one hash aggregate."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    )
    q = e.select(
        "vec_id",
        "i",
        F.floor(F.col("x").cast("double") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    a, b = q.alias("a"), q.alias("b")
    return (
        a.join(b, on=[F.col("a.vec_id") == F.col("b.vec_id"),
                      F.col("a.i") <= F.col("b.i")])
        .groupBy(
            F.col("a.i").alias("dim_i"), F.col("b.i").alias("dim_j")
        )
        .agg(
            F.sum(F.col("a.q") * F.col("b.q")).alias("gram"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


ORACLE_GRAM = """
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
q AS (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
           AS q
  FROM embeddings, idx
)
SELECT a.i AS dim_i, b.i AS dim_j,
       CAST(sum(a.q * b.q) AS BIGINT) AS gram,
       count(*) AS n_vectors
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY a.i, b.i
"""


def q_graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-walk corpus generation (the node2vec/DeepWalk sampling
    primitive that feeds graph-embedding training): 3-hop walks from
    ~|parts|/97 seed nodes over the co-purchase graph, where the next
    hop at step t is the neighbor minimizing a deterministic integer
    hash h(seed, t, neighbor) — uniform-ish, seeded, and REPLAYABLE on
    any engine (real RNG would be unverifiable; this is the same
    derandomization the sampling operators use).  Each hop is one
    equi-join on the current node + one row_number window per seed; the
    adjacency list is checkpointed once and reused by all hops.

    At 100 TB this runs walks for every node: the per-hop join shuffles
    (walk-front × adjacency) on node id — linear in walks × degree,
    never materializing paths beyond the frontier."""
    from pyspark.sql import Window

    und = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = und.select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    ).unionByName(und.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
    walk = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").alias("s"), F.col("p_partkey").alias("n0"))
    )
    for t in (1, 2, 3):
        cand = walk.join(adj, walk[f"n{t-1}"] == adj["u"]).withColumn(
            "h",
            (
                F.col("s") * 1000003 + F.lit(t) * 9176 + F.col("v") * 7919
            ) % 104729,
        )
        w = Window.partitionBy("s").orderBy("h", "v")
        walk = (
            cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("u", "h", "rk")
            .withColumnRenamed("v", f"n{t}")
        )
    return walk.select(
        "s",
        F.concat_ws(
            "->", F.col("n0"), F.col("n1"), F.col("n2"), F.col("n3")
        ).alias("path"),
    )


ORACLE_RANDOM_WALKS = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
und AS (
  SELECT DISTINCT x.l_partkey AS lo, y.l_partkey AS hi
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
adj AS (
  SELECT lo AS u, hi AS v FROM und
  UNION ALL SELECT hi, lo FROM und
),
w0 AS (
  SELECT p_partkey AS s, p_partkey AS n0 FROM part WHERE p_partkey % 97 = 0
),
c1 AS (
  SELECT s, n0, v,
         row_number() OVER (PARTITION BY s ORDER BY
           (s * 1000003 + 1 * 9176 + v * 7919) % 104729, v) AS rk
  FROM w0 JOIN adj ON n0 = u
),
w1 AS (SELECT s, n0, v AS n1 FROM c1 WHERE rk = 1),
c2 AS (
  SELECT s, n0, n1, v,
         row_number() OVER (PARTITION BY s ORDER BY
           (s * 1000003 + 2 * 9176 + v * 7919) % 104729, v) AS rk
  FROM w1 JOIN adj ON n1 = u
),
w2 AS (SELECT s, n0, n1, v AS n2 FROM c2 WHERE rk = 1),
c3 AS (
  SELECT s, n0, n1, n2, v,
         row_number() OVER (PARTITION BY s ORDER BY
           (s * 1000003 + 3 * 9176 + v * 7919) % 104729, v) AS rk
  FROM w2 JOIN adj ON n2 = u
),
w3 AS (SELECT s, n0, n1, n2, v AS n3 FROM c3 WHERE rk = 1)
SELECT s,
       CAST(n0 AS VARCHAR) || '->' || CAST(n1 AS VARCHAR) || '->'
         || CAST(n2 AS VARCHAR) || '->' || CAST(n3 AS VARCHAR) AS path
FROM w3
"""


# ---------------------------------------------------------------------------
# exact classical statistics, continued: Kolmogorov–Smirnov and Kendall
# ---------------------------------------------------------------------------


def q_stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic of URGENT vs
    non-URGENT order values per market segment, without per-row ranks:
    the raw stream collapses to counts per distinct value in one hash
    aggregate, then ONE cumulative window over the collapsed value
    domain gives both ECDFs.  D = max|F₁−F₂| crosses the gate as the
    integer pair (d_num, n1·n2) via cross-multiplication —
    d_num = max|n₂·cum₁(v) − n₁·cum₂(v)| — plus the smallest value
    attaining the max (the KS location).  No float anywhere; the same
    collapsed-domain shape as stats_mann_whitney, so the 100 TB cost is
    a hash aggregate + a window over distinct values, never a global
    sort of raw rows."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    vals = (
        orders.join(
            cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
            "o_custkey",
        )
        .select(
            "c_mktsegment",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("v"),
            (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("is_a"),
        )
        .groupBy("c_mktsegment", "v")
        .agg(
            F.sum("is_a").alias("c_a"),
            (F.count(F.lit(1)) - F.sum("is_a")).alias("c_b"),
        )
    )
    cum = (
        Window.partitionBy("c_mktsegment")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("c_mktsegment")
    diffed = (
        vals.withColumn("cum_a", F.sum("c_a").over(cum))
        .withColumn("cum_b", F.sum("c_b").over(cum))
        .withColumn("n1", F.sum("c_a").over(tot))
        .withColumn("n2", F.sum("c_b").over(tot))
        .withColumn(
            "diff",
            F.abs(F.col("n2") * F.col("cum_a") - F.col("n1") * F.col("cum_b")),
        )
        .withColumn("d_num", F.max("diff").over(tot))
    )
    return (
        diffed.filter(F.col("diff") == F.col("d_num"))
        .groupBy("c_mktsegment")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max("d_num").alias("d_num"),
            F.min("v").alias("v_at_max"),
        )
    )


ORACLE_KS_TEST = """
WITH vals AS (
  SELECT c_mktsegment,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS v,
         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_a,
         CAST(count(*) - sum(CASE WHEN o_orderpriority = '1-URGENT'
                                  THEN 1 ELSE 0 END) AS BIGINT) AS c_b
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
), cum AS (
  SELECT *,
         CAST(sum(c_a) OVER (PARTITION BY c_mktsegment ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_a,
         CAST(sum(c_b) OVER (PARTITION BY c_mktsegment ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_b,
         CAST(sum(c_a) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n1,
         CAST(sum(c_b) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS n2
  FROM vals
), diffed AS (
  SELECT *, abs(n2 * cum_a - n1 * cum_b) AS diff,
         max(abs(n2 * cum_a - n1 * cum_b))
           OVER (PARTITION BY c_mktsegment) AS d_num
  FROM cum
)
SELECT c_mktsegment, max(n1) AS n1, max(n2) AS n2,
       max(d_num) AS d_num, min(v) AS v_at_max
FROM diffed WHERE diff = d_num
GROUP BY c_mktsegment
"""


def q_stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall rank correlation between two nation revenue
    rankings (1995 vs 1996 order revenue): concordant / discordant /
    tied pair counts and the tau numerator C−D, all exact integers.

    The 100 TB shape: the fact stream collapses to one row per nation
    (a 25-row dim) in a single hash aggregate with map-side combine;
    the O(k²) pairwise comparison then runs on the collapsed dim —
    625 pairs — so the statistic costs one aggregate regardless of
    input scale.  (The classical O(n log n) inversion-count variant
    only matters when the ranked domain itself is fact-scale; ranked
    *entities* in revenue comparisons are dims.)"""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nationkey"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    rev = (
        orders.filter(F.col("yr").isin(1995, 1996))
        .join(F.broadcast(cust), "o_custkey")
        .groupBy("nationkey")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1995, F.col("cents"))), F.lit(0)
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("yr") == 1996, F.col("cents"))), F.lit(0)
            ).alias("y"),
        )
    )
    a, b = rev.alias("a"), rev.alias("b")
    # multiply the SIGNS of the differences, never the differences
    # themselves: revenue cents grow with data volume, and the raw
    # product (x_a−x_b)·(y_a−y_b) overflows int64 at the ×10 replica
    # scale already (caught by tools/scale_test.py).  sign·sign ∈
    # {−1,0,1} carries exactly the concordance information Kendall
    # needs and is overflow-free at any scale.
    pairs = a.join(b, F.col("a.nationkey") < F.col("b.nationkey")).select(
        (
            F.signum((F.col("a.x") - F.col("b.x")).cast("double")).cast("long")
            * F.signum((F.col("a.y") - F.col("b.y")).cast("double")).cast(
                "long"
            )
        ).alias("prod")
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("prod") > 0).cast("long")).alias("n_concordant"),
        F.sum((F.col("prod") < 0).cast("long")).alias("n_discordant"),
        F.sum((F.col("prod") == 0).cast("long")).alias("n_tied"),
        F.sum("prod").alias("tau_num"),
    )


ORACLE_KENDALL = """
WITH rev AS (
  SELECT c_nationkey AS nationkey,
         CAST(COALESCE(sum(CASE WHEN year(o_orderdate) = 1995
              THEN CAST(floor(o_totalprice * 100) AS BIGINT) END), 0)
              AS BIGINT) AS x,
         CAST(COALESCE(sum(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(floor(o_totalprice * 100) AS BIGINT) END), 0)
              AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY 1
), pairs AS (
  -- sign*sign, never the raw difference product (int64 overflow at scale)
  SELECT CAST(sign(a.x - b.x) AS BIGINT) * CAST(sign(a.y - b.y) AS BIGINT)
           AS prod
  FROM rev a JOIN rev b ON a.nationkey < b.nationkey
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_concordant,
       CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_discordant,
       CAST(sum(CASE WHEN prod = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied,
       CAST(sum(CASE WHEN prod > 0 THEN 1 WHEN prod < 0 THEN -1 ELSE 0 END)
            AS BIGINT) AS tau_num
FROM pairs
"""


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (3 rounds) over the co-purchase
    graph — the community-detection primitive behind LPA/SLPA, made
    fully deterministic: every node starts labeled with its own id, and
    each round re-labels it with the most frequent neighbor label,
    ties broken by the SMALLEST label (the derandomization that makes
    the result replayable on any engine — async/random LPA would be
    unverifiable).  Per round: one equi-join of the symmetrized
    adjacency against the label map + one (node,label) hash aggregate
    + one per-node argmax window — rounds are fixed (3), so at 100 TB
    the cost is 3 edge-list shuffles; the adjacency is checkpointed
    once and reused by every round.  The oracle unrolls the identical
    three rounds as chained CTEs."""
    from pyspark.sql import Window

    und = _copurchase_edges(spark, sf_dir).select(
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )
    adj = (
        und.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        .unionAll(und.select(F.col("hi").alias("u"), F.col("lo").alias("v")))
        .localCheckpoint(eager=False)
    )
    labels = adj.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    w = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("nlab"))
    for _ in range(3):
        cnt = (
            adj.join(
                labels.select(
                    F.col("node").alias("v"), F.col("lab").alias("nlab")
                ),
                "v",
            )
            .groupBy("u", "nlab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("u").alias("node"), F.col("nlab").alias("lab"))
        )
    return labels.select("node", F.col("lab").alias("community"))


ORACLE_LABEL_PROP = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS lo,
                  CAST(y.l_partkey AS BIGINT) AS hi
  FROM li x JOIN li y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
adj AS (SELECT lo AS u, hi AS v FROM e0
        UNION ALL SELECT hi AS u, lo AS v FROM e0),
l0 AS (SELECT DISTINCT u AS node, u AS lab FROM adj),
c1 AS (SELECT a.u, l.lab AS nlab, count(*) AS c
       FROM adj a JOIN l0 l ON a.v = l.node GROUP BY a.u, l.lab),
l1 AS (SELECT u AS node, nlab AS lab FROM (
         SELECT u, nlab, row_number() OVER (
           PARTITION BY u ORDER BY c DESC, nlab ASC) AS rk FROM c1)
       WHERE rk = 1),
c2 AS (SELECT a.u, l.lab AS nlab, count(*) AS c
       FROM adj a JOIN l1 l ON a.v = l.node GROUP BY a.u, l.lab),
l2 AS (SELECT u AS node, nlab AS lab FROM (
         SELECT u, nlab, row_number() OVER (
           PARTITION BY u ORDER BY c DESC, nlab ASC) AS rk FROM c2)
       WHERE rk = 1),
c3 AS (SELECT a.u, l.lab AS nlab, count(*) AS c
       FROM adj a JOIN l2 l ON a.v = l.node GROUP BY a.u, l.lab),
l3 AS (SELECT u AS node, nlab AS lab FROM (
         SELECT u, nlab, row_number() OVER (
           PARTITION BY u ORDER BY c DESC, nlab ASC) AS rk FROM c3)
       WHERE rk = 1)
SELECT node, lab AS community FROM l3
"""


def q_emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means over the embedding corpus —
    the clustering step behind SemDeDup / data-curation pipelines, as a
    fully integer, hash-exact query.  k=8 seed centroids are the 8
    lowest vec_ids (deterministic seeding); every vector is assigned to
    the centroid minimizing the integer squared L2 distance over
    milli-quantized coordinates (ties → lowest centroid id), and the
    output is the EXACT Lloyd update in sufficient-statistics form: per
    (cluster, dim) the member count and coordinate sum — 8×64 = 512
    rows regardless of corpus size.

    100 TB shape: the centroid table is k·d cells and rides as a
    broadcast; per-vector cost is k·d multiply-adds inside one hash
    aggregate (map-side combined); the only shuffles are the (vec_id,
    cid) distance aggregate and the final 512-cell rollup.  Distances
    are bounded by the coordinate DOMAIN (millis²·d), not the data
    volume — no overflow at any corpus size (contrast the Kendall
    lesson above)."""
    from pyspark.sql import Window

    q = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x").cast("double") * 1000 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    cent = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "i", F.col("q").alias("cq")
    )
    dist = (
        q.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cid"))
    assign = (
        dist.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "cid")
    )
    return (
        q.join(assign, "vec_id")
        .groupBy("cid", "i")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("q").alias("sum_q"),
        )
    )


ORACLE_KMEANS_STEP = """
WITH idx AS (SELECT unnest(range(1, 65)) AS i),
q AS (
  SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000 + 0.5) AS BIGINT)
           AS q
  FROM embeddings, idx
),
cent AS (SELECT vec_id AS cid, i, q AS cq FROM q WHERE vec_id < 8),
dist AS (
  SELECT q.vec_id, cent.cid,
         CAST(sum((q.q - cent.cq) * (q.q - cent.cq)) AS BIGINT) AS d2
  FROM q JOIN cent ON q.i = cent.i
  GROUP BY q.vec_id, cent.cid
),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2 ASC, cid ASC) AS rk
    FROM dist)
  WHERE rk = 1
)
SELECT a.cid, q.i, count(*) AS n_members,
       CAST(sum(q.q) AS BIGINT) AS sum_q
FROM q JOIN assign a ON q.vec_id = a.vec_id
GROUP BY a.cid, q.i
"""


def q_sql_udf_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 ``CREATE FUNCTION ... RETURN``) —
    the extension seam that stays ENTIRELY inside Catalyst: a scalar SQL
    UDF (exact-cents conversion) and a correlated SQL TABLE function
    (a customer's orders) used through LATERAL.  Catalyst inlines the
    scalar body and DECORRELATES the table function into a plain
    broadcast/shuffle hash equi-join — verified no Python eval and no
    nested-loop join in the plan (tests/test_plans_guard.py) — so user
    abstractions cost nothing at 100 TB, unlike row-at-a-time UDFs.
    The oracle inlines both bodies by hand in DuckDB SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sg_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION sg_cust_orders(ck BIGINT)
        RETURNS TABLE(okey BIGINT, ocents BIGINT)
        RETURN SELECT o_orderkey, sg_cents(o_totalprice)
               FROM orders WHERE o_custkey = ck
        """
    )
    return spark.sql(
        """
        SELECT c.c_mktsegment AS seg,
               count(t.okey) AS n_orders,
               CAST(sum(t.ocents) AS BIGINT) AS sum_cents,
               CAST(sum(sg_cents(c.c_acctbal)) AS BIGINT) AS sum_bal_cents
        FROM customer c, LATERAL sg_cust_orders(c.c_custkey) t
        GROUP BY c.c_mktsegment
        """
    )


ORACLE_SQL_UDF = """
SELECT c.c_mktsegment AS seg,
       count(o.o_orderkey) AS n_orders,
       CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_cents,
       CAST(sum(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS sum_bal_cents
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


def q_corpus_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (DPO/RLHF alignment data prep): the
    documents are partitioned into deterministic prompt groups
    (lang, doc_id % 50 — the stand-in for per-prompt candidate pools a
    generation log would provide) and each group emits ONE
    (chosen, rejected) pair: highest vs lowest deterministic quality
    score (whitespace token count; ties broken by doc_id so both
    engines pick identical rows), kept only when the score gap clears a
    margin — the filter that keeps near-equal pairs from teaching
    nothing.  Declared result aggregates per language so the gate
    certifies the pairing logic, not a row dump.

    Plan: one exact-integer projection, then a SINGLE hash aggregate
    per prompt group — ``max_by``/``min_by`` keyed on the composite
    ordering struct (score, −doc_id) pick the chosen and rejected rows
    in the same pass, partial-aggregating map-side.  No window sort, no
    self-join, one scan of the corpus: at 100 TB the shuffle carries
    one row per (lang, prompt) group, nothing more.  (The oracle uses
    the equivalent dual-row_number formulation — DuckDB's arg_max lacks
    composite ordering keys.)"""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 50).alias("pid"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + F.lit(1)
        ).cast("long").alias("score"),
    )
    row = F.struct(F.col("doc_id").alias("id"), F.col("score").alias("sc"))
    okey = F.struct(F.col("score"), (-F.col("doc_id")).alias("nd"))
    pairs = (
        docs.groupBy("lang", "pid")
        .agg(
            F.max_by(row, okey).alias("chosen"),
            F.min_by(row, okey).alias("rejected"),
        )
        .select(
            "lang", "pid",
            F.col("chosen.id").alias("chosen_id"),
            F.col("chosen.sc").alias("chosen_score"),
            F.col("rejected.id").alias("rejected_id"),
            F.col("rejected.sc").alias("rejected_score"),
        )
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .filter(F.col("chosen_score") - F.col("rejected_score") >= 8)
    )
    return pairs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("chosen_score").alias("sum_chosen"),
        F.sum("rejected_score").alias("sum_rejected"),
        F.sum(
            F.col("chosen_score") - F.col("rejected_score")
        ).alias("sum_gap"),
        F.min(F.col("chosen_score") - F.col("rejected_score")).alias(
            "min_gap"
        ),
    )


ORACLE_PREFERENCE_PAIRS = """
WITH docs AS (
  SELECT doc_id, lang, doc_id % 50 AS pid,
         CAST(length(text) - length(replace(text, ' ', '')) + 1
              AS BIGINT) AS score
  FROM documents
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang, pid
                            ORDER BY score DESC, doc_id ASC) AS rk_best,
         row_number() OVER (PARTITION BY lang, pid
                            ORDER BY score ASC, doc_id DESC) AS rk_worst
  FROM docs
),
pairs AS (
  SELECT b.lang, b.pid,
         b.doc_id AS chosen_id, b.score AS chosen_score,
         w.doc_id AS rejected_id, w.score AS rejected_score
  FROM (SELECT * FROM ranked WHERE rk_best = 1) b
  JOIN (SELECT * FROM ranked WHERE rk_worst = 1) w
    ON b.lang IS NOT DISTINCT FROM w.lang AND b.pid = w.pid
  WHERE b.doc_id <> w.doc_id AND b.score - w.score >= 8
)
SELECT lang, count(*) AS n_pairs,
       CAST(sum(chosen_score) AS BIGINT) AS sum_chosen,
       CAST(sum(rejected_score) AS BIGINT) AS sum_rejected,
       CAST(sum(chosen_score - rejected_score) AS BIGINT) AS sum_gap,
       CAST(min(chosen_score - rejected_score) AS BIGINT) AS min_gap
FROM pairs
GROUP BY lang
"""


def q_corpus_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM) pretraining transform: each document is
    split into (prefix, middle, suffix) at two deterministic,
    doc-keyed boundaries (30% and 70% of the text ± a per-doc jitter so
    the split points are not a fixed fraction — the randomization FIM
    training needs, replayable from doc_id alone).  The declared result
    certifies the actual SUBSTRING operations, not just the arithmetic:
    per language it aggregates the measured lengths of the three
    pieces, their recomposition invariant (Σp+m+s = Σ chars), and the
    count of degenerate (empty-middle) docs that a FIM loader must
    route to plain causal examples.

    Map-only plan — three codegen substrings per row, no shuffle before
    the final aggregate; at 100 TB this runs at scan speed."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.length("text").cast("long").alias("L"),
    )
    a = F.greatest(
        F.lit(0),
        (F.floor(F.col("L") * 3 / 10) + F.col("doc_id") % 7).cast("int"),
    )
    b = F.least(
        F.col("L").cast("int"),
        F.greatest(
            a, (F.floor(F.col("L") * 7 / 10) + F.col("doc_id") % 5).cast("int")
        ),
    )
    split = docs.select(
        "lang",
        F.substring(F.col("text"), 1, a).alias("p"),
        F.substring(F.col("text"), a + 1, b - a).alias("m"),
        F.substring(F.col("text"), b + 1, F.col("L").cast("int")).alias("s"),
        "L",
    )
    return split.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("p").cast("long")).alias("sum_prefix"),
        F.sum(F.length("m").cast("long")).alias("sum_middle"),
        F.sum(F.length("s").cast("long")).alias("sum_suffix"),
        F.sum("L").alias("sum_chars"),
        F.sum(
            F.when(F.length("m") == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_empty_middle"),
    )


ORACLE_FIM_SPLIT = """
WITH d AS (
  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS L
  FROM documents
),
cut AS (
  SELECT lang, text, L,
         greatest(0, CAST(floor(L * 3 / 10) + doc_id % 7 AS INT)) AS a,
         CAST(floor(L * 7 / 10) + doc_id % 5 AS INT) AS b_raw
  FROM d
),
pieces AS (
  SELECT lang, L,
         substring(text, 1, a) AS p,
         substring(text, a + 1, least(CAST(L AS INT),
                                      greatest(a, b_raw)) - a) AS m,
         substring(text, least(CAST(L AS INT), greatest(a, b_raw)) + 1,
                   CAST(L AS INT)) AS s
  FROM cut
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(p)) AS BIGINT) AS sum_prefix,
       CAST(sum(length(m)) AS BIGINT) AS sum_middle,
       CAST(sum(length(s)) AS BIGINT) AS sum_suffix,
       CAST(sum(L) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN length(m) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty_middle
FROM pieces
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# MMR diversified retrieval over fixed-point inner products
# ---------------------------------------------------------------------------

_MMR_CANDS = 12  # per-query candidate pool (top by relevance)
_MMR_K = 5  # selected set size

# integer trade-off weights: score = rel - max_sim_to_selected — the
# canonical lambda=0.5 MMR balance (Carbonell & Goldstein's default)
_MMR_LAM, _MMR_MU = 1, 1


def q_emb_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    diversified top-5 from each probe's top-12 inner-product
    candidates, greedy score = rel − max-sim-to-selected (λ=0.5) — the
    serving-side step that keeps a retrieval answer from returning
    five near-duplicates.

    Exactness: relevance AND pairwise similarity are fixed-point
    integer inner products (_fp_dot), so every greedy comparison is
    BIGINT arithmetic with id tie-breaks — the selected SET and ORDER
    are engine-reproducible, and the oracle replays the identical
    greedy as four chained CTEs (no recursion, no tolerance).  Plan
    shape: candidate generation is the brute-force scored top-12 per
    probe (3 probes broadcast — the declared exact tier; the IVF/LSH
    stores are the scale path for candidate generation); the greedy
    runs entirely on the 12-row-per-query candidate frame and its
    12×12 pairwise sims — bounded by k·|C|², independent of corpus
    size.  No counterpart in the reference; extends the §2.12
    retrieval family next to search_hybrid_rrf (fusion) and
    ann_*_topk (candidates)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            _fp_dot(F.col("qv"), F.col("embedding")).alias("rel"),
            "embedding",
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    cands = (
        scored.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= _MMR_CANDS)
        .drop("crn")
    )
    a, b = cands.alias("a"), cands.alias("b")
    pair = a.join(
        b,
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.cand_id") != F.col("b.cand_id")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.cand_id").alias("cand_id"),
        F.col("b.cand_id").alias("other_id"),
        _fp_dot(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
    )
    cands = cands.drop("embedding").localCheckpoint(eager=False)
    pair = pair.localCheckpoint(eager=False)

    # greedy: step 1 is pure relevance; steps 2..k re-score remaining
    # candidates against the selected set — all BIGINT comparisons
    w1 = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    sel = (
        cands.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", "cand_id", "rel", F.lit(1).alias("step"))
    )
    for step in range(2, _MMR_K + 1):
        remaining = cands.join(
            sel.select("query_id", "cand_id"), ["query_id", "cand_id"],
            "left_anti",
        )
        ms = (
            pair.join(
                sel.select(
                    "query_id", F.col("cand_id").alias("other_id")
                ),
                ["query_id", "other_id"],
            )
            .groupBy("query_id", "cand_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        scored_t = remaining.join(ms, ["query_id", "cand_id"]).withColumn(
            "mmr",
            F.lit(_MMR_LAM) * F.col("rel") - F.lit(_MMR_MU) * F.col("max_sim"),
        )
        wt = Window.partitionBy("query_id").orderBy(F.desc("mmr"), "cand_id")
        pick = (
            scored_t.withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", "cand_id", "rel", F.lit(step).alias("step")
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        "query_id", "step", F.col("cand_id").alias("neighbor_id"), "rel"
    ).orderBy("query_id", "step")


def _mmr_oracle_sql() -> str:
    dot = (
        "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
        "CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * "
        f"{_MMR_SCALE} + 0.5) AS BIGINT))) AS BIGINT)"
    )
    head = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT query_id, e.vec_id AS cand_id,
         {dot.format(a="qv", b="e.embedding")} AS rel
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id),
cands AS (
  SELECT query_id, cand_id, rel FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, cand_id) AS crn
    FROM scored) WHERE crn <= {_MMR_CANDS}),
pair AS (
  SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
         {dot.format(a="ea.embedding", b="eb.embedding")} AS sim
  FROM cands a JOIN cands b
    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
  JOIN embeddings ea ON ea.vec_id = a.cand_id
  JOIN embeddings eb ON eb.vec_id = b.cand_id),
sel1 AS (
  SELECT query_id, cand_id, rel, 1 AS step FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
    FROM cands) WHERE rn = 1)"""
    for s in range(2, _MMR_K + 1):
        union = " UNION ALL ".join(
            f"SELECT * FROM sel{i}" for i in range(1, s)
        )
        head += f""",
sel{s} AS (
  SELECT query_id, cand_id, rel, {s} AS step FROM (
    SELECT c.query_id, c.cand_id, c.rel,
           row_number() OVER (PARTITION BY c.query_id
               ORDER BY {_MMR_LAM} * c.rel - {_MMR_MU} * m.max_sim DESC,
                        c.cand_id) AS rn
    FROM cands c
    JOIN (SELECT p.query_id, p.cand_id, max(p.sim) AS max_sim
          FROM pair p JOIN ({union}) s
            ON p.query_id = s.query_id AND p.other_id = s.cand_id
          GROUP BY 1, 2) m
      ON m.query_id = c.query_id AND m.cand_id = c.cand_id
    WHERE NOT EXISTS (SELECT 1 FROM ({union}) s2
                      WHERE s2.query_id = c.query_id
                        AND s2.cand_id = c.cand_id)
  ) WHERE rn = 1)"""
    all_sel = " UNION ALL ".join(
        f"SELECT * FROM sel{i}" for i in range(1, _MMR_K + 1)
    )
    return (
        head
        + f"""
SELECT query_id, step, cand_id AS neighbor_id, rel
FROM ({all_sel}) ORDER BY query_id, step
"""
    )


ORACLE_MMR = _mmr_oracle_sql()


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: exact top-10 by inner product among the
    vectors sharing the probe's ``label`` — the metadata-predicate +
    similarity query every vector store serves (Qdrant/Milvus filtered
    search; Lucene KNN with pre-filter).  Scores are fixed-point
    integer inner products (_fp_dot), so ranks AND scores reproduce
    bit-for-bit — a stronger oracle than the count-gate the float-
    cosine ANN rows use.  Plan: the label equality prunes BEFORE any
    scoring (predicate pushdown to the scan; in the IVF-store serving
    tier the same predicate prunes file groups via zone maps —
    ann_ivf_pruned_store), probes broadcast, one row_number top-k.
    Extends the §2.12 similarity tier."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("q_label"),
    )
    scored = (
        emb.join(
            F.broadcast(q), emb["label"] == q["q_label"]
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("neighbor_id"),
            _fp_dot(F.col("qv"), F.col("embedding")).alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "neighbor_id", "q_label", "rel")
        .orderBy("query_id", "rank")
    )


ORACLE_ANN_FILTERED = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS q_label
           FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT query_id, q_label, e.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i ->
              CAST(floor(CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i]
                   AS DOUBLE) * {_MMR_SCALE} + 0.5) AS BIGINT)))
              AS BIGINT) AS rel
  FROM embeddings e JOIN q ON e.label = q.q_label
  WHERE e.vec_id <> query_id)
SELECT query_id, rank, neighbor_id, q_label, rel FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS INTEGER)
    AS rank
  FROM scored) WHERE rank <= 10
ORDER BY query_id, rank
"""


def q_ann_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN serving (Navigable Small World — Malkov et al.;
    the single-layer core of HNSW): a beam search over a prebuilt
    M-nearest-neighbor graph answers top-10, completing the similarity
    family's index spectrum (brute / LSH / IVF / PQ / graph).  The
    search is the deterministic BREADTH-BEAM variant — each hop expands
    the whole beam's out-edges, rescores, and keeps the top-W by
    fixed-point relevance with id tie-breaks — so the visited set and
    final ranking are engine-reproducible, and the oracle replays the
    identical H=3 hops as chained CTEs (the MMR greedy precedent).
    ``in_exact10`` joins each answer against the exact brute-force
    top-10, surfacing recall inside the hash gate instead of beside it.

    Scale: the SERVING cost is what the graph buys — per probe the
    search touches ≤ W·(M+1) nodes per hop (≤ 432 score evaluations
    here) regardless of corpus size, vs. the corpus-sized scan of the
    brute tier; edges live as an adjacency table equi-joined on src
    (bucketed by src at 100 TB, so a hop is a co-located lookup, and
    the beam side is probe-bounded and broadcast).  The offline BUILD
    here is the exact all-pairs kNN (declared: corpus² at test scale);
    the scale path for the build is the sign-LSH blocked candidate
    generation dedup_embedding_cosine already demonstrates, which
    bounds build candidates per node without touching the serving
    plan.  No counterpart in the reference; §2.12 similarity tier."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # the exact build is PRIMED once per code version (r7 verdict task
    # 7): same edges, same oracle — the query times serving only
    edges = spark.read.parquet(
        ensure_nsw_exact_edges(spark, sf_dir)["l0"]
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    beam = nsw_beam_search(emb, edges, q)
    return _nsw_answer(beam, emb, q)


def q_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical NSW (Malkov & Yashunin's HNSW, two layers): a
    sparse upper layer (every 8th vector, degree-4 graph) routes each
    probe in 2 cheap hops to a GOOD layer-0 entry point, and the
    layer-0 beam search runs exactly ann_nsw_topk's plan from that
    entry instead of the global one — the hierarchy buys entry
    quality, which is precisely single-entry NSW's weakness.  Both
    layers' searches are the same deterministic breadth-beam
    (nsw_beam_search) and the oracle replays layer 1, the routing
    argmax, and layer 0 as one CTE chain; ``in_exact10`` exposes the
    recall gain inside the hash gate.  Scale: the upper layer is
    corpus/8 nodes with degree 4 — its build is 64× cheaper than layer
    0's and its search adds ≤ W1·(M1·2+1)·H1 scored candidates per
    probe; serving stays corpus-size independent."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    paths = ensure_nsw_exact_edges(spark, sf_dir)
    l1 = emb.filter(F.col("vec_id") % _HNSW_STRIDE == 0)
    edges1 = spark.read.parquet(paths["l1"])
    beam1 = nsw_beam_search(
        l1, edges1, q, hops=_HNSW_H1, width=_HNSW_W1
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("rel"), "node")
    entry0 = (
        beam1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", "node")
    )
    edges0 = spark.read.parquet(paths["l0"])
    beam = nsw_beam_search(emb, edges0, q, entry=entry0)
    return _nsw_answer(beam, emb, q)


def _hnsw_oracle_sql() -> str:
    dot = (
        "CAST(list_sum(list_transform(range(1, len({a}) + 1), i -> "
        "CAST(floor(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * "
        f"{_MMR_SCALE} + 0.5) AS BIGINT))) AS BIGINT)"
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
    FROM dots) WHERE rn <= {_NSW_M}),
edges AS (SELECT src, dst FROM knn
          UNION SELECT dst AS src, src AS dst FROM knn),
l1knn AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (
        PARTITION BY src ORDER BY dot DESC, dst) AS rn
    FROM dots
    WHERE src % {_HNSW_STRIDE} = 0 AND dst % {_HNSW_STRIDE} = 0)
  WHERE rn <= {_HNSW_M1}),
l1edges AS (SELECT src, dst FROM l1knn
            UNION SELECT dst AS src, src AS dst FROM l1knn),
l1entry AS (SELECT min(vec_id) AS node FROM embeddings
            WHERE vec_id % {_HNSW_STRIDE} = 0),
u0 AS (
  SELECT query_id, node, {dot.format(a="qv", b="e.embedding")} AS rel
  FROM q CROSS JOIN l1entry JOIN embeddings e ON e.vec_id = node)"""
    for i in range(1, _HNSW_H1 + 1):
        sql += f""",
uc{i} AS (
  SELECT query_id, node FROM u{i - 1}
  UNION
  SELECT s.query_id, ed.dst AS node
  FROM u{i - 1} s JOIN l1edges ed ON ed.src = s.node),
u{i} AS (
  SELECT query_id, node, rel FROM (
    SELECT x.*, row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, node) AS rn
    FROM (SELECT c.query_id, c.node,
                 {dot.format(a="qv", b="e.embedding")} AS rel
          FROM uc{i} c
          JOIN embeddings e ON e.vec_id = c.node
          JOIN q ON q.query_id = c.query_id) x)
  WHERE rn <= {_HNSW_W1})"""
    sql += f""",
s0 AS (
  SELECT query_id, node, rel FROM (
    SELECT query_id, node, rel, row_number() OVER (
        PARTITION BY query_id ORDER BY rel DESC, node) AS rn
    FROM u{_HNSW_H1}) WHERE rn = 1)"""
    for i in range(1, _NSW_H + 1):
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
  WHERE rn <= {_NSW_W})"""
    sql += f""",
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY query_id
               ORDER BY {dot.format(a="qv", b="e.embedding")} DESC,
                        e.vec_id) AS rn
    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id)
  WHERE rn <= {_NSW_K}),
fin AS (
  SELECT query_id, node AS neighbor_id, rel,
         CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, node) AS INTEGER) AS rank
  FROM s{_NSW_H} WHERE node <> query_id)
SELECT f.query_id, f.rank, f.neighbor_id, f.rel,
       (e.neighbor_id IS NOT NULL) AS in_exact10
FROM fin f LEFT JOIN exact e
  ON e.query_id = f.query_id AND e.neighbor_id = f.neighbor_id
WHERE f.rank <= {_NSW_K}
ORDER BY 1, 2
"""
    return sql


ORACLE_HNSW = _hnsw_oracle_sql()


def q_ann_nsw_descent_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR-build graph-ANN tier as a declared acceptance row:
    NN-descent kNN graph (nsw_build_edges_descent) + md5-seeded
    small-world long-range links (nsw_longrange_edges), beam-searched
    exactly like ann_nsw_topk.  The descent iterations and seeded
    hyperplanes are not SQL-expressible, so — like ann_lsh_topk — the
    recall CONTRACT is the gate: mean recall@10 vs the in-query exact
    top-10 must be ≥ 0.5 (measured 0.74 at sf0.001, 0.88 at sf0.01;
    50/50 at 20k clustered vectors, SCALE.md "Round-7 continuation").  Every
    ingredient is deterministic, so the boolean is a fixed property of
    the fixture, not a flaky check.  This is the variant a 100 TB
    corpus actually builds — cost ∝ n·(2m)² per descent round — where
    ann_nsw_topk's exact n² build is the oracle-replayable tier."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # the descent + long-range build is PRIMED once into the shared
    # txlog graph store (queries_annstore.ensure_nsw_graph_store) —
    # this query times serving, not construction (r7 verdict task 7)
    edges = (
        ensure_nsw_graph_store(spark, sf_dir)
        .read(spark)
        .localCheckpoint(eager=False)
    )
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    beam = nsw_beam_search(emb, edges, q)
    return _beam_recall_gate(beam, emb, q, bound=0.5)


REGISTRY = (
    (q_emb_mmr_diversify, ORACLE_MMR),
    (q_ann_filtered_topk, ORACLE_ANN_FILTERED),
    (q_ann_nsw_topk, ORACLE_NSW),
    (q_ann_hnsw_topk, ORACLE_HNSW),
    (q_ann_nsw_descent_topk, _ORACLE_ANN_EXACT_HEAD),
    (q_corpus_fim_split, ORACLE_FIM_SPLIT),
    (q_sql_udf_functions, ORACLE_SQL_UDF),
    (q_corpus_preference_pairs, ORACLE_PREFERENCE_PAIRS),
    (q_asof_nearest_tolerance, ORACLE_ASOF_NEAREST),
    (q_f_hof_suite, ORACLE_HOF),
    (q_sql_pivot_clause, ORACLE_PIVOT),
    (q_sql_ddl_ctas, ORACLE_DDL_CTAS),
    (q_mapinarrow_stats, ORACLE_MAPINARROW),
    (q_sql_bom_rollup, SQL_BOM_ROLLUP),
    (q_sql_agg_filter, SQL_AGG_FILTER),
    (q_sql_lateral_view, ORACLE_LATERAL_VIEW),
    (q_corpus_chat_template, ORACLE_CHAT_TEMPLATE),
    (q_corpus_context_stuffing, ORACLE_CONTEXT_STUFFING),
    (q_sink_dynamic_overwrite, ORACLE_DYN_OVERWRITE),
    (q_emb_gram_matrix, ORACLE_GRAM),
    (q_graph_random_walks, ORACLE_RANDOM_WALKS),
    (q_stats_ks_test, ORACLE_KS_TEST),
    (q_stats_kendall_tau, ORACLE_KENDALL),
    (q_graph_label_propagation, ORACLE_LABEL_PROP),
    (q_emb_kmeans_step, ORACLE_KMEANS_STEP),
)
