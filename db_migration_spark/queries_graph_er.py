"""Graph algorithms + entity resolution + ops utilities (pagerank, BFS,
encoding detection, ER blocking, skew report, zip archive scan,
MERGE INTO, trailing-range window, generator/null-semantics suites).
Split out of queries.py (round-8 verdict task 5); bodies unchanged."""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import eav
from .queries_e2e import _fx

# ---------------------------------------------------------------------------
# Graph ranking — deterministic fixed-point PageRank under the exact gate
# ---------------------------------------------------------------------------


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.pagerank) on the directed
    supplier-succession graph (consecutive lines of one order link their
    suppliers), 5 power iterations, damping 85%.  Every operation is
    BIGINT (ranks fixed-point at 1e12, floor division per edge), so the
    iterative result is bit-identical across engines and partitionings —
    the oracle unrolls the same five iterations as chained CTEs.  Top 50
    by rank with unique node tiebreak."""
    from .operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1),
        )
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
    )
    nodes = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("node")
    )
    ranked = pagerank(edges, nodes, iterations=5, damping_pct=85)
    return (
        ranked.select(F.col("node").alias("suppkey"), F.col("rank").alias("rank_fp"))
        .orderBy(F.desc("rank_fp"), "suppkey")
        .limit(50)
    )


def _pagerank_oracle(iters: int = 5) -> str:
    head = """
WITH edges AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
  WHERE a.l_suppkey <> b.l_suppkey
),
nodes AS (SELECT s_suppkey AS node FROM supplier),
deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
r{i} AS (
  SELECT n.node,
         CAST(150000000000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r{i-1}.r // d.d) AS s
    FROM r{i-1} JOIN deg d ON r{i-1}.node = d.src
                JOIN edges e ON e.src = r{i-1}.node
    GROUP BY e.dst
  ) c ON c.node = n.node
)""")
    tail = f"""
SELECT node AS suppkey, r AS rank_fp
FROM r{iters} ORDER BY rank_fp DESC, suppkey LIMIT 50
"""
    return head + "".join(steps) + tail


def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS hop distances (graph.bfs_hops): minimum hops from the
    suppliers of the first five nations over the supplier-succession graph, ≤ 4 levels.
    Frontier-only expansion — per-level work ∝ frontier out-edges, never
    ∝ path count (the graph is cyclic; naive path enumeration explodes).
    The oracle is a recursive CTE whose UNION (distinct) collapses the
    path explosion the same way, with min(hops) per node on top."""
    from .operators.graph import bfs_hops

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("b.l_linenumber") == F.col("a.l_linenumber") + 1),
        )
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
    )
    sources = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") < 5)
        .select(F.col("s_suppkey").alias("node"))
    )
    return bfs_hops(edges, sources, max_hops=4).orderBy("hops", "node")


ORACLE_GRAPH_BFS = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1
  WHERE a.l_suppkey <> b.l_suppkey
),
walk AS (
  SELECT s_suppkey AS node, 0 AS hops FROM supplier WHERE s_nationkey < 5
  UNION
  SELECT e.dst AS node, w.hops + 1 AS hops
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < 4
)
SELECT node, CAST(min(hops) AS INTEGER) AS hops
FROM walk GROUP BY node ORDER BY hops, node
"""


def q_text_encoding_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL charset detection + decode (sources/encoding.py): per nation
    a byte payload carrying a deterministic mixed-script text, encoded
    per key in one of five ways (plain UTF-8, UTF-8 BOM, UTF-16 LE/BE
    with BOMs, Latin-1 bytes that are invalid UTF-8).  The detection
    ladder (UTF-32 → UTF-16 → UTF-8-sig BOMs → strict UTF-8 scan →
    Latin-1 fallback) must label and decode every payload; the oracle
    recomputes encoding label and char count from the construction."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from .sources.encoding import decode_text_payloads

    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("media_id")
    )

    def gen(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                k = int(mid)
                text = f"nation {k} café — résumé {'x' * (k % 7)}"
                mode = k % 5
                if mode == 0:
                    payload = text.encode("utf-8")
                elif mode == 1:
                    payload = text.encode("utf-8-sig")
                elif mode == 2:
                    payload = text.encode("utf-16-le")
                    payload = b"\xff\xfe" + payload
                elif mode == 3:
                    payload = b"\xfe\xff" + text.encode("utf-16-be")
                else:
                    # Latin-1 bytes for the accented chars are invalid
                    # UTF-8 sequences -> the fallback branch
                    payload = text.replace("—", "-").encode("latin-1")
                rows.append((k, payload))
            yield _pd.DataFrame(rows, columns=["media_id", "payload"])

    media = nat.mapInPandas(gen, "media_id LONG, payload BINARY")
    return decode_text_payloads(media).select(
        "media_id", "encoding", "n_chars"
    )


ORACLE_TEXT_ENCODING = """
SELECT CAST(n_nationkey AS BIGINT) AS media_id,
       CASE n_nationkey % 5
            WHEN 0 THEN 'utf-8'
            WHEN 1 THEN 'utf-8-sig'
            WHEN 2 THEN 'utf-16-le'
            WHEN 3 THEN 'utf-16-be'
            ELSE 'latin-1' END AS encoding,
       -- text = 'nation {k} café — résumé ' + k%7 x's  (the latin-1
       -- branch swaps the em-dash for '-': same length)
       CAST(7 + len(CAST(n_nationkey AS VARCHAR)) + 15 + (n_nationkey % 7)
            AS INTEGER) AS n_chars
FROM nation
"""


def q_er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution, Fellegi-Sunter style: a deterministic "dirty"
    registry (every 4th customer's name loses its last digit to 'X') is
    matched back against the clean table — blocking on (nation,
    segment) so the pair space is Σ|block|², never n², then integer
    agreement weights (edit-distance ≤ 1: +30; exact balance: +20;
    exact name: +10) with a 40 threshold.  Everything integer/exact, so
    the oracle replays the same blocked scoring in SQL (DuckDB's
    levenshtein matches Spark's).  Output: matched pairs + score."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = cust.select(
        (k + 1000000).alias("d_id"),
        F.when(
            k % 4 == 0,
            F.concat(F.expr("substring(c_name, 1, length(c_name) - 1)"), F.lit("X")),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        F.col("c_acctbal").alias("d_bal"),
        F.col("c_mktsegment").alias("d_seg"),
    )
    clean = cust.select(
        k.alias("c_id"), "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    pairs = clean.join(
        dirty,
        (F.col("c_nationkey") == F.col("d_nat"))
        & (F.col("c_mktsegment") == F.col("d_seg")),
    )
    score = (
        F.when(F.levenshtein("c_name", "d_name") <= 1, F.lit(30)).otherwise(
            F.lit(-10)
        )
        + F.when(F.col("c_acctbal") == F.col("d_bal"), F.lit(20)).otherwise(
            F.lit(0)
        )
        + F.when(F.col("c_name") == F.col("d_name"), F.lit(10)).otherwise(
            F.lit(0)
        )
    )
    return (
        pairs.select("c_id", "d_id", score.alias("score"))
        .filter(F.col("score") >= 40)
        .orderBy("c_id", "d_id")
    )


ORACLE_ER_MATCH = """
WITH dirty AS (
  SELECT c_custkey + 1000000 AS d_id,
         CASE WHEN c_custkey % 4 = 0
              THEN substring(c_name, 1, length(c_name) - 1) || 'X'
              ELSE c_name END AS d_name,
         c_nationkey AS d_nat, c_acctbal AS d_bal, c_mktsegment AS d_seg
  FROM customer
),
pairs AS (
  SELECT c.c_custkey AS c_id, d.d_id,
         (CASE WHEN levenshtein(c.c_name, d.d_name) <= 1
               THEN 30 ELSE -10 END)
         + (CASE WHEN c.c_acctbal = d.d_bal THEN 20 ELSE 0 END)
         + (CASE WHEN c.c_name = d.d_name THEN 10 ELSE 0 END) AS score
  FROM customer c JOIN dirty d
    ON c.c_nationkey = d.d_nat AND c.c_mktsegment = d.d_seg
)
SELECT c_id, d_id, score FROM pairs WHERE score >= 40
ORDER BY c_id, d_id
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics (the pre-flight a 100 TB join needs before
    choosing salting/AQE strategies): top-20 hottest join keys of
    lineitem's l_suppkey with exact parts-per-million share — integer
    division so the share is bit-exact cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "l_suppkey",
            "cnt",
            F.expr("(cnt * 1000000) div total").alias("share_ppm"),
        )
        .orderBy(F.desc("cnt"), "l_suppkey")
        .limit(20)
    )


ORACLE_SKEW = """
WITH counts AS (
  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, cnt,
       CAST((cnt * 1000000) // (SELECT sum(cnt) FROM counts) AS BIGINT) AS share_ppm
FROM counts ORDER BY cnt DESC, l_suppkey LIMIT 20
"""


def q_archive_zip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL data-plane archive scan (sources/encoding.scan_zip_members):
    per region a ZIP (stdlib zipfile, deflate) of 3+k text members is
    built distributed, then exploded back into member rows — names,
    sizes, decompressed content hashes — through the Arrow seam.  CRC
    checks ride ZipFile.read, so a corrupt deflate stream fails the
    query rather than the gate.  Oracle recomputes every member row
    from the construction formulas."""
    from collections.abc import Iterator as _It
    import io as _io
    import zipfile as _zipfile

    import pandas as _pd

    from .sources.encoding import scan_zip_members

    reg = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("media_id")
    )

    def gen(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                k = int(mid)
                buf = _io.BytesIO()
                with _zipfile.ZipFile(
                    buf, "w", _zipfile.ZIP_DEFLATED
                ) as zf:
                    for i in range(3 + k):
                        zf.writestr(
                            f"doc_{i}.txt",
                            f"region {k} member {i} " + "ab" * (i + k),
                        )
                rows.append((k, buf.getvalue()))
            yield _pd.DataFrame(rows, columns=["media_id", "payload"])

    media = reg.mapInPandas(gen, "media_id LONG, payload BINARY")
    return scan_zip_members(media).select(
        "media_id", "member", "n_bytes", F.md5("payload").alias("payload_md5")
    )


ORACLE_ARCHIVE_ZIP = """
SELECT CAST(r.r_regionkey AS BIGINT) AS media_id,
       'doc_' || CAST(i.range AS VARCHAR) || '.txt' AS member,
       CAST(length('region ' || CAST(r.r_regionkey AS VARCHAR)
                   || ' member ' || CAST(i.range AS VARCHAR) || ' ')
            + 2 * (i.range + r.r_regionkey) AS INTEGER) AS n_bytes,
       md5('region ' || CAST(r.r_regionkey AS VARCHAR)
           || ' member ' || CAST(i.range AS VARCHAR) || ' '
           || repeat('ab', i.range + r.r_regionkey)) AS payload_md5
FROM region r CROSS JOIN range(8) i
WHERE i.range < 3 + r.r_regionkey
"""


def q_merge_into_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Delta ``MERGE INTO`` analog as a copy-on-write commit on the
    transaction-log store (``TxTable.merge`` with the
    ``eav.upsert_patches`` transform): a customer-datom store
    partitioned by market segment takes a patch transaction touching
    ONLY the BUILDING partition (updates for most, retractions for
    every 10th customer); untouched partitions carry over without
    paying the LWW window.  The merged version is read back and
    profiled per segment; the oracle recomputes the post-merge state in
    closed form.  (Delta itself is not installed — probed, STATUS.md —
    so the txlog seam IS the production path.)"""
    from .plans.txlog import TxTable

    root = _fx(sf_dir, "merge_store")
    shutil.rmtree(root, ignore_errors=True)
    t = TxTable(root)
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = cust.select(
        k.alias("e"),
        F.lit("cust/bal").alias("a"),
        F.floor(F.col("c_acctbal")).cast("long").cast("string").alias("v"),
        F.lit(1).alias("tx"),
        F.lit(True).alias("op"),
        F.col("c_mktsegment").alias("class"),
    )
    t.commit_overwrite(base)
    patches = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .select(
            k.alias("e"),
            F.lit("cust/bal").alias("a"),
            (k % 1000).cast("string").alias("v"),
            F.lit(2).alias("tx"),
            (k % 10 != 0).alias("op"),
            F.col("c_mktsegment").alias("class"),
        )
    )
    merged_v = t.merge(
        spark, eav.upsert_patches(patches, partition_col="class")
    )
    merged = t.read(spark, version=merged_v)
    return (
        merged.groupBy("class")
        .agg(
            F.count(F.lit(1)).alias("n_datoms"),
            F.sum(F.col("v").cast("long")).alias("sum_v"),
        )
        .orderBy("class")
    )


ORACLE_MERGE_INTO = """
WITH post AS (
  SELECT c_mktsegment AS class,
         CASE WHEN c_mktsegment = 'BUILDING'
              THEN c_custkey % 1000
              ELSE CAST(floor(c_acctbal) AS BIGINT) END AS v
  FROM customer
  WHERE NOT (c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0)
)
SELECT class, count(*) AS n_datoms, CAST(sum(v) AS BIGINT) AS sum_v
FROM post GROUP BY class ORDER BY class
"""


def q_w7_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window with a time interval (the frame mode the ROWS
    suite w3 doesn't cover): per customer, the trailing-30-day order
    total — frame = RANGE [now-30d, now] over o_orderdate, so date PEERS
    aggregate together regardless of row order (deterministic where a
    ROWS frame would not be).  Decimal-exact sums; Spark expresses the
    interval as epoch-second rangeBetween, DuckDB as INTERVAL bounds —
    same frame, value-identical."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("trailing_30d"),
    )


ORACLE_W7_TRAILING = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_30d
FROM orders
"""


def q_f_generator_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-expression coverage: posexplode (ordinal-preserving
    explode), inline (struct-array → rows), and stack (the melt
    primitive) in one pass over nation — DuckDB mirrors with UNNEST
    WITH ORDINALITY and union arms."""
    nat = load_table(spark, sf_dir, "nation")
    arr = F.array(
        F.col("n_name"),
        F.upper("n_name"),
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string")),
    )
    return nat.select(
        "n_nationkey", F.posexplode(arr).alias("pos", "val")
    ).orderBy("n_nationkey", "pos")


ORACLE_F_GENERATOR = """
SELECT n_nationkey, CAST(i.range AS INTEGER) AS pos,
       ([n_name, upper(n_name),
         'r' || CAST(n_regionkey AS VARCHAR)])[i.range + 1] AS val
FROM nation CROSS JOIN range(3) i
ORDER BY n_nationkey, pos
"""


def q_f_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NULL-semantics battery on one relation: count(*) vs
    count(col) vs count(DISTINCT col), sum/avg null-skipping, NULLS
    FIRST/LAST ordering keys, coalesce/nullif/nvl2, and null-safe
    equality — the parity corners engines most often disagree on.
    NULLs are planted deterministically (every 3rd balance, every 5th
    name)."""
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 3 != 0, F.col("s_acctbal")).alias("bal"),
        F.when(F.col("s_suppkey") % 5 != 0, F.col("s_name")).alias("nm"),
    )
    return supp.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("bal").alias("n_bal"),
        F.countDistinct("nm").alias("n_names"),
        F.sum(F.col("bal").cast("decimal(18,4)")).cast("double").alias("sum_bal"),
        F.sum(
            F.when(F.col("bal").eqNullSafe(F.lit(None).cast("double")), 1)
            .otherwise(0)
        ).alias("n_null_safe_eq_null"),
        F.min(F.coalesce("nm", F.lit("~"))).alias("min_nm_coalesced"),
        F.max(F.nullif(F.col("nm"), F.lit("Supplier#000000001"))).alias(
            "max_nm_nullif"
        ),
        # first(ignorenulls) is scan-order-dependent in Spark — pin the
        # "first" to the minimum key among non-null names (matches the
        # oracle's ORDER BY s_suppkey LIMIT 1) so the result survives
        # any partitioning
        F.expr(
            "min_by(nm, CASE WHEN nm IS NOT NULL THEN s_suppkey END)"
        ).alias("first_nm"),
    )


ORACLE_F_NULLS = """
WITH s AS (
  SELECT s_suppkey,
         CASE WHEN s_suppkey % 3 <> 0 THEN s_acctbal END AS bal,
         CASE WHEN s_suppkey % 5 <> 0 THEN s_name END AS nm
  FROM supplier
)
SELECT count(*) AS n_rows,
       count(bal) AS n_bal,
       count(DISTINCT nm) AS n_names,
       CAST(sum(CAST(bal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal,
       CAST(sum(CASE WHEN bal IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq_null,
       min(coalesce(nm, '~')) AS min_nm_coalesced,
       max(nullif(nm, 'Supplier#000000001')) AS max_nm_nullif,
       (SELECT nm FROM s WHERE nm IS NOT NULL ORDER BY s_suppkey LIMIT 1)
           AS first_nm
FROM s
"""


REGISTRY = (
    (q_graph_pagerank, _pagerank_oracle()),
    (q_graph_bfs_hops, ORACLE_GRAPH_BFS),
    (q_text_encoding_detect, ORACLE_TEXT_ENCODING),
    (q_er_match_pairs, ORACLE_ER_MATCH),
    (q_skew_report, ORACLE_SKEW),
    (q_archive_zip_scan, ORACLE_ARCHIVE_ZIP),
    (q_merge_into_upsert, ORACLE_MERGE_INTO),
    (q_w7_trailing_range, ORACLE_W7_TRAILING),
    (q_f_generator_suite, ORACLE_F_GENERATOR),
    (q_f_null_semantics, ORACLE_F_NULLS),
)
