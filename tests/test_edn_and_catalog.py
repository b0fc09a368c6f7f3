"""EDN log parse/write roundtrip; id catalog; models schema; QA CSV; markdown."""

from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from db_migration_spark.sources.catalog_files import (
    MODELS_SCHEMA_DDL,
    models_schema_rows,
    read_id_catalog,
    read_schema_rows,
    report_to_markdown,
    write_qa_report_csv,
    write_schema_table,
)
from db_migration_spark.sources.edn import parse_edn_log, write_edn_style_log

EDN_LINES = """[:db/add 17592186045418 :gene/id "WBGene00000001" #inst "2010-01-01T12:00:00Z"]
[:db/add 17592186045418 :gene/name "aap-1" #inst "2010-01-01T12:00:01Z"]
[:db/retract 17592186045418 :gene/name "old-name" #inst "2010-01-02T00:00:00Z"]
[:db/add 17592186045419 :gene/score 3.5 #inst "2010-01-03T00:00:00Z"]
not an edn line
"""


def test_parse_edn_log(spark, tmp_path):
    p = tmp_path / "log.edn.gz"
    with gzip.open(p, "wt") as fp:
        fp.write(EDN_LINES)
    datoms = parse_edn_log(spark, str(p)).collect()
    assert len(datoms) == 4  # garbage line skipped
    by_v = {d["v"]: d for d in datoms}
    assert by_v["WBGene00000001"]["e"] == 17592186045418
    assert by_v["WBGene00000001"]["a"] == "gene/id"
    assert by_v["old-name"]["op"] is False
    assert by_v["3.5"]["tx"].year == 2010


def test_edn_roundtrip(spark, tmp_path):
    src = tmp_path / "in.edn"
    src.write_text(EDN_LINES)
    datoms = parse_edn_log(spark, str(src))
    out = tmp_path / "out"
    write_edn_style_log(datoms, str(out), partitions=2)
    back = parse_edn_log(spark, str(out)).collect()
    orig = datoms.collect()
    key = lambda d: (d["e"], d["a"], d["v"], d["tx"], d["op"])  # noqa: E731
    assert sorted(map(key, back)) == sorted(map(key, orig))


def test_id_catalog(tmp_path):
    p = tmp_path / "all_classes_report.WS250.txt.gz"
    with gzip.open(p, "wt") as fp:
        fp.write("Gene 48231\nProtein 28314\n\nVariation 812345\n")
    cat = read_id_catalog(str(p))
    assert {(r["class_name"], r["expected_count"]) for r in cat} == {
        ("Gene", 48231),
        ("Protein", 28314),
        ("Variation", 812345),
    }


MODELS = """// annotated models
?Gene
  Identity UNIQUE Text
  CGC_name Text
  Score Float
?Protein
  Peptide UNIQUE Text
"""


def test_models_schema(tmp_path):
    p = tmp_path / "models.wrm.WS250"
    p.write_text(MODELS)
    schema = models_schema_rows(str(p), release="WS250")
    rows = {(r["class"], r["attribute"]): r for r in schema}
    assert rows[("Gene", "Identity")]["cardinality"] == "one"
    assert rows[("Gene", "CGC_name")]["cardinality"] == "many"
    assert rows[("Gene", "Score")]["value_type"] == "double"
    assert rows[("Protein", "Peptide")]["release"] == "WS250"


def test_models_schema_gz_matches_plain(tmp_path):
    plain = tmp_path / "models.wrm.WS250"
    plain.write_text(MODELS)
    packed = tmp_path / "models.wrm.WS250.gz"
    with gzip.open(packed, "wt") as fh:
        fh.write(MODELS)
    rows = models_schema_rows(str(plain), release="WS250")
    assert len(rows) == 4
    assert models_schema_rows(str(packed), release="WS250") == rows


def test_schema_table_reads_like_the_ddl(spark, tmp_path):
    """The driver's schema-table read gives the rows Spark reads with
    MODELS_SCHEMA_DDL: for the driver-written table, and for a
    Spark-written one that lacks columns (they read as NULL)."""
    p = tmp_path / "models.wrm.WS250"
    p.write_text(MODELS)
    rows = models_schema_rows(str(p), release="WS250")
    installed = str(tmp_path / "schema")
    write_schema_table(rows, installed)
    assert read_schema_rows(installed) == rows
    assert spark.read.schema(MODELS_SCHEMA_DDL).parquet(installed).collect() == rows
    partial = str(tmp_path / "partial")
    spark.createDataFrame(
        [("lineitem", "flags", "many")], ["class", "attribute", "cardinality"]
    ).write.parquet(partial)
    assert read_schema_rows(partial) == (
        spark.read.schema(MODELS_SCHEMA_DDL).parquet(partial).collect()
    )


def test_qa_csv_and_markdown(spark, tmp_path):
    report = spark.createDataFrame(
        [("Gene", 10, 10), ("Protein", 5, 7)],
        "class_name STRING, acedb_count INT, datomic_count INT",
    )
    out = tmp_path / "report_csv"
    write_qa_report_csv(report, str(out))
    back = spark.read.option("header", True).csv(str(out)).collect()
    assert len(back) == 2
    raw = [
        ln
        for f in out.glob("*.csv")
        for ln in f.read_text().splitlines()
    ]
    assert raw[0].startswith('"')  # QUOTE_ALL dialect

    md = report_to_markdown(report.orderBy(F.desc("acedb_count")))
    assert "class_name" in md and "| " in md
    assert md.splitlines()[2].index("Gene") > 0


def test_comments_survive_edn_roundtrip_as_tx_datoms(spark, tmp_path):
    """tace -C comments reified as [:db/add <tx-e> :db/doc ...] datoms
    survive the EDN write/parse cycle alongside the data datoms."""
    import gzip

    from db_migration_spark.sources.ace import (
        ace_records_to_datoms,
        parse_ace_dump,
    )
    from db_migration_spark.sources.edn import (
        parse_edn_log,
        tx_comment_datoms,
        write_edn_style_log,
    )

    dump = tmp_path / "d.ace.gz"
    with gzip.open(dump, "wt") as fp:
        fp.write(
            'Gene : "g1"\n'
            'Name "n1" -C "curated by x" -O "2020-01-01_00:00:00"\n'
            'Desc "plain" -O "2020-01-02_00:00:00"\n'
        )
    datoms = ace_records_to_datoms(parse_ace_dump(spark, str(dump)))
    full = datoms.select("e", "a", "v", "tx", "op").unionByName(
        tx_comment_datoms(datoms)
    )
    out = tmp_path / "edn"
    write_edn_style_log(full, str(out))
    back = parse_edn_log(spark, str(out)).collect()
    assert len(back) == 3
    docs = [r for r in back if r["a"] == "db/doc"]
    assert len(docs) == 1 and docs[0]["v"] == "curated by x"
    assert docs[0]["tx"] is not None
    # tx entity id differs from the data entity id
    data_e = {r["e"] for r in back if r["a"] != "db/doc"}
    assert docs[0]["e"] not in data_e
