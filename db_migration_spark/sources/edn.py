"""EDN datom-log source — the intermediate IR of the migration
(SURVEY §1.1 shape 2; reference ``pseudoace.py:69-95``).

The logs are line-oriented EDN vectors.  The subset pseudoace emits per
datom is regular enough to parse **JVM-side with regexp built-ins** — no
Python in the hot path; a 100 TB log directory parses at scan speed inside
whole-stage codegen.  Lines that don't match the fast pattern are left for
the (rare) pandas fallback.

Handled line shapes::

    [:db/add 17592186045418 :gene/id "WBGene00000001" #inst "2010-01-01T12:00:00Z"]
    [:db/retract 17592186045418 :gene/name "abc-1" #inst "2011-02-03T04:05:06Z"]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.eav import tx_sorted

# entity ids may be negative (xxhash64-derived surrogates, e.g. reified
# tx entities from tx_comment_datoms)
_LINE_PAT = (
    r'^\[:db/(add|retract)\s+(-?\d+)\s+:([^\s]+)\s+'
    r'(?:"((?:[^"\\]|\\.)*)"|([^\s"\]]+))'
    r'(?:\s+#inst\s+"([^"]+)")?\s*\]$'
)


def parse_edn_log(spark: SparkSession, path: str) -> DataFrame:
    """EDN log dir/file (.gz transparent) → datoms (e,a,v,tx,op).

    One regexp pass per line, all columns extracted JVM-side;
    ``op = (kind == 'add')`` reproduces assert/retract semantics.
    """
    lines = spark.read.text(path).filter(F.trim("value") != "")
    line = F.col("value")
    kind = F.regexp_extract(line, _LINE_PAT, 1)
    quoted_v = F.regexp_extract(line, _LINE_PAT, 4)
    bare_v = F.regexp_extract(line, _LINE_PAT, 5)
    return (
        lines.filter(line.rlike(_LINE_PAT))
        .select(
            F.regexp_extract(line, _LINE_PAT, 2).cast("long").alias("e"),
            F.regexp_extract(line, _LINE_PAT, 3).alias("a"),
            F.when(quoted_v != "", quoted_v).otherwise(bare_v).alias("v"),
            F.to_timestamp(F.regexp_extract(line, _LINE_PAT, 6)).alias("tx"),
            (kind == "add").alias("op"),
        )
    )


def write_edn_style_log(datoms: DataFrame, path: str, partitions: int | None = None):
    """S7 sink: datom DataFrame → gzipped line-oriented log files,
    range-partitioned and sorted by tx (T1 semantics: per-file parallel
    sort, globally ordered across files — ``pseudoace.py:87-95``)."""
    out = tx_sorted(datoms, partitions=partitions).select(
        F.format_string(
            '[:db/%s %s :%s "%s" #inst "%s"]',
            F.when(F.col("op"), F.lit("add")).otherwise(F.lit("retract")),
            F.col("e").cast("string"),
            F.col("a"),
            F.col("v"),
            F.date_format("tx", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        ).alias("value")
    )
    out.write.mode("overwrite").option("compression", "gzip").text(path)


def tx_comment_datoms(datoms: DataFrame) -> DataFrame:
    """Reify curator comments as TRANSACTION metadata datoms — Datomic's
    model for tace ``-C`` comments (the reference dumps with ``-C`` so
    comments ride into transaction metadata, runcommand.py:134-150): one
    ``[:db/add <tx-entity> :db/doc "comment"]`` datom per distinct
    (tx, comment), where the tx entity id is a deterministic hash of the
    transaction timestamp.  Union the result with the data datoms before
    an EDN write and the comments survive the log roundtrip with no
    format extension."""
    return (
        datoms.filter(F.col("comment").isNotNull())
        .select(
            F.xxhash64(F.lit("tx-entity"), F.col("tx")).alias("e"),
            F.lit("db/doc").alias("a"),
            F.col("comment").alias("v"),
            F.col("tx").alias("tx"),
            F.lit(True).alias("op"),
        )
        .distinct()
    )
