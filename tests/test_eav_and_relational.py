"""EAV operators (melt/pivot/patches/retraction) and relational slice."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from db_migration_spark.operators import eav, relational


def _datoms(spark, rows):
    return spark.createDataFrame(
        rows, "e LONG, a STRING, v STRING, tx TIMESTAMP, op BOOLEAN"
    )


TS = datetime.datetime


def test_apply_patches_lww_and_retraction(spark):
    base = _datoms(
        spark,
        [
            (1, "name", "old", TS(2020, 1, 1), True),
            (1, "score", "5", TS(2020, 1, 1), True),
            (2, "name", "keep", TS(2020, 1, 1), True),
        ],
    )
    patches = _datoms(
        spark,
        [
            (1, "name", "new", TS(2020, 2, 1), True),   # update
            (1, "score", "5", TS(2020, 2, 1), False),   # retraction
        ],
    )
    out = {(r["e"], r["a"]): r["v"] for r in eav.apply_patches(base, patches).collect()}
    assert out == {(1, "name"): "new", (2, "name"): "keep"}  # score retracted


def test_apply_patches_tie_prefers_patch(spark):
    t = TS(2020, 1, 1)
    base = _datoms(spark, [(1, "name", "base", t, True)])
    patches = _datoms(spark, [(1, "name", "patch", t, True)])
    out = eav.apply_patches(base, patches).collect()
    assert out[0]["v"] == "patch"


def test_melt_pivot_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "a", 10, TS(2020, 1, 1)), (2, "b", 20, TS(2020, 1, 2))],
        "id LONG, s STRING, n LONG, t TIMESTAMP",
    ).select(
        "id", "s", F.col("n").cast("string").alias("n"), "t"
    )
    datoms = eav.melt(df, F.col("id"), ["s", "n"], "t", class_name="Demo")
    assert datoms.count() == 4
    assert set(datoms.columns) == {"e", "a", "v", "tx", "op", "class"}
    wide = eav.pivot_wide(datoms, ["s", "n"]).collect()
    m = {r["e"]: (r["s"], r["n"]) for r in wide}
    assert m == {1: ("a", "10"), 2: ("b", "20")}


def test_to_attr_map(spark):
    datoms = _datoms(
        spark,
        [(1, "x", "1", TS(2020, 1, 1), True), (1, "y", "2", TS(2020, 1, 1), True)],
    )
    m = eav.to_attr_map(datoms).collect()[0]["attrs"]
    assert m == {"x": "1", "y": "2"}


def test_pivot_multi_collects_sorted(spark):
    datoms = _datoms(
        spark,
        [
            (1, "alias", "b", TS(2020, 1, 1), True),
            (1, "alias", "a", TS(2020, 1, 2), True),
        ],
    )
    out = eav.pivot_multi(datoms, ["alias"]).collect()[0]
    assert out["alias"] == ["a", "b"]


def test_qa_count_report_missing_classes(spark):
    actual = spark.createDataFrame(
        [("Gene", 10)], "class_name STRING, actual_count LONG"
    )
    expected = spark.createDataFrame(
        [("Gene", 10), ("Protein", 4)], "class_name STRING, expected_count LONG"
    )
    rows = {
        r["class_name"]: r
        for r in relational.qa_count_report(actual, expected).collect()
    }
    assert rows["Gene"]["matches"] is True
    assert rows["Protein"]["actual_count"] == 0
    assert rows["Protein"]["diff"] == -4
    assert rows["Protein"]["matches"] is False


def test_qa_report_rows_agree_with_qa_count_report(spark, tmp_path):
    """The driver report (the release's qa-report step) and the Spark
    report (the declared x6 query) apply the same rules: a class only in
    the counts, classes only in the catalog, count ties broken by class
    name — identical rows in identical order, and the driver CSV is
    byte for byte Spark's quoteAll + header CSV of the same rows."""
    from pathlib import Path

    from db_migration_spark.sources.catalog_files import write_qa_report_csv

    actual = [("Gene", 3), ("Protein", 2), ("Homology_group", 2), ("Orphan", 1),
              ('Odd"Class', 1), ("Back\\slash", 4)]
    expected = [("Gene", 3), ("Protein", 1), ("Homology_group", 2),
                ("Variation", 5), ("Allele", 7), ("Ünï,code", 2), ("Back\\slash", 4)]
    report = relational.qa_count_report(
        spark.createDataFrame(actual, "class_name STRING, actual_count BIGINT"),
        spark.createDataFrame(expected, "class_name STRING, expected_count BIGINT"),
    )
    rows = relational.qa_report_rows(actual, expected)
    assert [r.asDict() for r in rows] == [r.asDict() for r in report.collect()]
    assert [r["class_name"] for r in rows][:3] == ["Back\\slash", "Gene", "Homology_group"]

    def csv_bytes(out: Path) -> bytes:
        (part,) = out.glob("*.csv")
        return part.read_bytes()

    report.coalesce(1).write.option("header", True).option("quoteAll", True).csv(
        str(tmp_path / "spark")
    )
    write_qa_report_csv(rows, str(tmp_path / "driver"))
    assert csv_bytes(tmp_path / "driver") == csv_bytes(tmp_path / "spark")


def test_homology_split(spark):
    datoms = _datoms(
        spark, [(1, "a", "v", TS(2020, 1, 1), True)]
    ).withColumn("class", F.lit("Homology_group"))
    assert eav.homology_split(datoms, ["Homology_group"]).count() == 1
    assert eav.homology_split(datoms, ["Gene"]).count() == 0


def test_tx_sorted_writer_ordering(spark, tmp_path):
    import random

    random.seed(7)
    rows = [
        (i, "a", str(i), TS(2020, 1, 1 + random.randrange(28)), True)
        for i in range(1000)
    ]
    out = tmp_path / "sorted"
    eav.tx_sorted(_datoms(spark, rows), partitions=4).write.mode(
        "overwrite"
    ).parquet(str(out))
    # per-file: sorted within; across files: ranges are disjoint (T1 contract)
    import pyarrow.parquet as pq

    files = sorted(out.glob("part-*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        txs = pq.read_table(str(f)).column("tx").to_pylist()
        if not txs:
            continue
        assert txs == sorted(txs)
        ranges.append((min(txs), max(txs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, TS(2020, 1, 5), "p1"), (1, TS(2020, 1, 1), "p0"), (2, TS(2020, 1, 3), "p2")],
        "user LONG, ts TIMESTAMP, pid STRING",
    )
    right = spark.createDataFrame(
        [
            (1, TS(2020, 1, 2), "c1"),
            (1, TS(2020, 1, 4), "c2"),
            (1, TS(2020, 1, 6), "c3"),
        ],
        "user LONG, cts TIMESTAMP, cid STRING",
    )
    out = {
        r["pid"]: (r["cid"], r["cts"])
        for r in relational.asof_join(
            left, right, ["user"], "ts", "cts", ["cid", "cts"]
        ).collect()
    }
    assert out["p1"] == ("c2", TS(2020, 1, 4))  # latest click <= Jan 5
    assert out["p0"] == (None, None)            # nothing prior
    assert out["p2"] == (None, None)            # other user has no clicks


def test_asof_join_equal_ts_matches(spark):
    t = TS(2020, 1, 1)
    left = spark.createDataFrame([(1, t, "p")], "user LONG, ts TIMESTAMP, pid STRING")
    right = spark.createDataFrame([(1, t, "c")], "user LONG, cts TIMESTAMP, cid STRING")
    out = relational.asof_join(left, right, ["user"], "ts", "cts", ["cid"]).collect()
    assert out[0]["cid"] == "c"  # right_ts == left_ts counts as "prior"


def test_typed_cast(spark):
    datoms = _datoms(
        spark,
        [
            (1, "qty", "42", TS(2020, 1, 1), True),
            (1, "when", "2020-03-04", TS(2020, 1, 1), True),
            (1, "name", "abc", TS(2020, 1, 1), True),
            (1, "qty", "not-a-number", TS(2020, 1, 2), True),
        ],
    )
    out = eav.typed_cast(datoms, {"qty": "long", "when": "date", "name": "string"})
    rows = {(r["a"], r["v"]): r for r in out.collect()}
    assert rows[("qty", "42")]["v_long"] == 42
    assert rows[("qty", "not-a-number")]["v_long"] is None  # reject → null
    assert rows[("when", "2020-03-04")]["v_date"].month == 3
    assert rows[("name", "abc")]["v_long"] is None


def test_apply_patches_card_many_accumulates(spark):
    """Card-many attributes must accumulate across patches (per-(e,a,v)
    resolution), not collapse to one value; card-one still LWW per (e,a)."""
    base = _datoms(
        spark,
        [
            (1, "member", "A", TS(2020, 1, 1), True),
            (1, "member", "B", TS(2020, 1, 1), True),
            (1, "name", "old", TS(2020, 1, 1), True),
        ],
    )
    patches = _datoms(
        spark,
        [
            (1, "member", "C", TS(2020, 2, 1), True),    # assert adds
            (1, "member", "B", TS(2020, 2, 1), False),   # retract removes B only
            (1, "name", "new", TS(2020, 2, 1), True),    # card-one upsert
        ],
    )
    out = eav.apply_patches(base, patches, card_many_attrs=["member"]).collect()
    members = sorted(r["v"] for r in out if r["a"] == "member")
    names = [r["v"] for r in out if r["a"] == "name"]
    assert members == ["A", "C"]  # A kept, B retracted, C added
    assert names == ["new"]
    # regression: WITHOUT the cardinality list, the multi-valued tag
    # collapses — the silent-data-loss mode the card_many path prevents
    legacy = eav.apply_patches(base, patches).collect()
    assert len([r for r in legacy if r["a"] == "member"]) <= 1


def test_range_join_boundaries_and_multimatch(spark):
    """start-inclusive / end-exclusive, multi-interval match, no-match."""
    facts = spark.createDataFrame(
        [
            (1, TS(2024, 1, 1, 0, 0, 0)),    # == start of A
            (2, TS(2024, 1, 3, 12, 0, 0)),   # inside A and B (overlap)
            (3, TS(2024, 1, 6, 0, 0, 0)),    # == end of A (excluded), in B
            (4, TS(2024, 2, 1, 0, 0, 0)),    # no interval
        ],
        "fact_id LONG, ts TIMESTAMP",
    )
    intervals = spark.createDataFrame(
        [
            ("A", TS(2024, 1, 1), TS(2024, 1, 6)),
            ("B", TS(2024, 1, 3), TS(2024, 1, 9)),
        ],
        "name STRING, s TIMESTAMP, e TIMESTAMP",
    )
    out = sorted(
        (r["fact_id"], r["name"])
        for r in relational.range_join(facts, intervals, "ts", "s", "e").collect()
    )
    assert out == [(1, "A"), (2, "A"), (2, "B"), (3, "B")]


def test_as_of_retract_and_reassert(spark):
    """as-of semantics: retract hides a datom, later re-assert restores
    it, and the cut point decides which state is visible."""
    from db_migration_spark.operators.eav import as_of

    rows = [
        (1, "name", "x", 10, True),   # assert
        (1, "name", "x", 20, False),  # retract
        (1, "name", "x", 30, True),   # re-assert
        (2, "name", "y", 15, True),
        (2, "name", "y", 40, False),  # retracted at the end
    ]
    df = spark.createDataFrame(rows, "e LONG, a STRING, v STRING, tx LONG, op BOOLEAN")

    def vis(t):
        return {
            (r["e"], r["v"]) for r in as_of(df, t, tx_col="tx").collect()
        }

    assert vis(12) == {(1, "x")}
    assert vis(18) == {(1, "x"), (2, "y")}
    assert vis(25) == {(2, "y")}          # x retracted at 20
    assert vis(35) == {(1, "x"), (2, "y")}  # x re-asserted at 30
    assert vis(45) == {(1, "x")}          # y retracted at 40
