"""Catalog / schema / report file formats (SURVEY §2.1 S5, S11, S12; §2.9 X2).

* id catalog — ``all_classes_report.<WS>.txt(.gz)``: the expected per-class
  counts from the ACeDB side (``runcommand.py:38-60``).
* QA report CSV — QUOTE_ALL dialect (``pseudoace.py:147-148``), desc-sorted
  by count (``util.py:86``).
* annotated models file — the per-release schema
  (``pseudoace.py:14-53``): class/attribute/type/cardinality lines feeding
  typed casts (X2/X3).
* markdown/HTML rendering of the report (S13, ``util.py:74-99``).
"""

from __future__ import annotations

import gzip

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


def read_id_catalog(spark: SparkSession, path: str) -> DataFrame:
    """Whitespace-separated ``class count`` lines (gzip transparent, S5) →
    (class_name, expected_count)."""
    lines = spark.read.text(path).filter(F.trim("value") != "")
    return lines.select(
        F.regexp_extract("value", r"^\s*(\S+)\s+(\d+)\s*$", 1).alias("class_name"),
        F.regexp_extract("value", r"^\s*(\S+)\s+(\d+)\s*$", 2)
        .cast("long")
        .alias("expected_count"),
    ).filter(F.col("class_name") != "")


def write_qa_report_csv(report: DataFrame, path: str) -> None:
    """S12: quoted CSV sink, one file, rows in the report's own order —
    :func:`..operators.relational.qa_count_report` already sorts desc by
    count (util.py:86), so sorting again here would only re-run the
    range sort.  coalesce(1) mirrors the reference's single report file
    and keeps a sorted report's order — the report is O(#classes) rows,
    so one task is correct even at 100 TB input."""
    (
        report.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )


MODELS_SCHEMA_DDL = (
    "class STRING, attribute STRING, value_type STRING, "
    "cardinality STRING, release STRING"
)
_SchemaRow = Row("class", "attribute", "value_type", "cardinality", "release")


def models_schema_rows(path: str, release: str = "") -> list[Row]:
    """X2: simplified annotated-models parser → one driver row per
    attribute (class, attribute, value_type, cardinality, release), the
    ``MODELS_SCHEMA_DDL`` columns of FIXTURES.md §3.  The file is a few
    dozen lines, read on the driver (UTF-8, gzip for a ``.gz`` name):
    no Spark job.

    Line grammar (one attribute per line, ``?Class`` headers):

        ?Gene
          Identity  UNIQUE Text
          CGC_name  Text
          Lives_at  REF Location

    UNIQUE → cardinality 'one', else 'many' (the ACeDB default).
    """
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        lines = fh.readlines()
    rows = []
    cls = None
    for ln in lines:
        s = ln.strip()
        if not s or s.startswith("//"):
            continue
        if s.startswith("?"):
            cls = s.split()[0][1:]
            parts = s.split()[1:]
        else:
            parts = s.split()
        if cls is None or not parts:
            continue
        attr = parts[0]
        rest = [p for p in parts[1:]]
        unique = "UNIQUE" in rest
        rest = [p for p in rest if p != "UNIQUE"]
        vtype = (rest[0] if rest else "Text").lower()
        vtype = {"text": "string", "int": "long", "float": "double",
                 "datetype": "timestamp", "ref": "ref"}.get(vtype, vtype)
        rows.append(
            _SchemaRow(cls, attr, vtype, "one" if unique else "many", release)
        )
    return rows


def report_to_markdown(report: DataFrame, max_rows: int = 1000) -> str:
    """S13 (util.py:74-99): small-report markdown rendering — collect the
    O(#classes) rows and right-justify columns (A2+F5+F6 composition)."""
    rows = report.limit(max_rows).collect()
    cols = report.columns
    cells = [[str(v) if v is not None else "" for v in r] for r in rows]
    widths = [
        max([len(c)] + [len(row[i]) for row in cells]) for i, c in enumerate(cols)
    ]
    def fmt(row):
        return "| " + " | ".join(v.rjust(w) for v, w in zip(row, widths)) + " |"
    sep = "|" + "|".join("-" * (w + 2) for w in widths) + "|"
    return "\n".join([fmt(cols), sep] + [fmt(r) for r in cells])


def report_to_html(report: DataFrame, max_rows: int = 1000) -> str:
    """S13 second half (pseudoace.py:151-158): the QA report as an HTML
    table (the reference renders markdown → HTML for the e-mailed report).
    """
    import html as _html

    rows = report.limit(max_rows).collect()
    cols = report.columns
    head = "".join(f"<th>{_html.escape(str(c))}</th>" for c in cols)
    body = "\n".join(
        "<tr>"
        + "".join(
            f"<td>{'' if v is None else _html.escape(str(v))}</td>" for v in r
        )
        + "</tr>"
        for r in rows
    )
    return (
        "<table>\n<thead><tr>" + head + "</tr></thead>\n<tbody>\n"
        + body
        + "\n</tbody>\n</table>"
    )
