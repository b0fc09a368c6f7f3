"""Catalog / schema / report file formats (SURVEY §2.1 S5, S11, S12; §2.9 X2).

* id catalog — ``all_classes_report.<WS>.txt(.gz)``: the expected per-class
  counts from the ACeDB side (``runcommand.py:38-60``).
* QA report CSV — QUOTE_ALL dialect (``pseudoace.py:147-148``), desc-sorted
  by count (``util.py:86``).
* annotated models file — the per-release schema
  (``pseudoace.py:14-53``): class/attribute/type/cardinality lines feeding
  typed casts (X2/X3).
* markdown/HTML rendering of the report (S13, ``util.py:74-99``).

Each is O(#classes) or O(#attributes) lines, so each is read or written on
the driver with no Spark job; a written directory is published in one rename
(``plans.pipeline.publish_dir``).
"""

from __future__ import annotations

import gzip
import os
import re

from pyspark.sql import DataFrame, Row

from ..operators.relational import QA_REPORT_COLUMNS
from ..plans.pipeline import publish_dir


def _read_lines(path: str) -> list[str]:
    """The text lines of ``path`` read on the driver: UTF-8, gzip for a
    ``.gz`` name; a directory reads its visible files in name order (a
    Spark text write's ``part-*`` files)."""
    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))
        return [ln for n in names for ln in _read_lines(os.path.join(path, n))]
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", encoding="utf-8") as fh:
        return fh.readlines()


_CATALOG_LINE = re.compile(r"^\s*(\S+)\s+(\d+)\s*$", re.ASCII)
_CatalogRow = Row("class_name", "expected_count")


def read_id_catalog(path: str) -> list[Row]:
    """Whitespace-separated ``class count`` lines (gzip transparent, S5) →
    driver rows (class_name, expected_count); blank and malformed lines
    are dropped.  The catalog is one line per class: no Spark job."""
    rows = []
    for ln in _read_lines(path):
        m = _CATALOG_LINE.match(ln)
        if m:
            rows.append(_CatalogRow(m[1], int(m[2])))
    return rows


def _csv_field(v) -> str:
    """One QUOTE_ALL field as Spark's CSV writer spells it: booleans
    lower-case, NULL as an empty field, ``\\`` and ``"`` escaped by a
    backslash."""
    s = "" if v is None else str(v).lower() if isinstance(v, bool) else str(v)
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def write_qa_report_csv(report: DataFrame | list[Row], path: str) -> None:
    """S12: quoted CSV sink — one file with a header, rows in the
    report's own order, byte for byte what Spark's ``quoteAll`` CSV
    writer emits for string, integer and boolean columns.  ``report`` is
    either :func:`..operators.relational.qa_report_rows` rows or a
    DataFrame, collected here: the report is O(#classes) rows, so the
    driver writes it at any input scale — the reference's single report
    file.  The directory is published in one rename (``publish_dir``)."""
    if isinstance(report, DataFrame):
        columns, rows = report.columns, report.collect()
    else:
        columns, rows = QA_REPORT_COLUMNS, report
    text = "".join(
        ",".join(map(_csv_field, r)) + "\n" for r in [columns, *rows]
    )

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part-00000.csv"), "w", encoding="utf-8", newline="") as fh:
            fh.write(text)

    publish_dir(path, write)


MODELS_SCHEMA_DDL = (
    "class STRING, attribute STRING, value_type STRING, "
    "cardinality STRING, release STRING"
)
_SCHEMA_COLUMNS = ("class", "attribute", "value_type", "cardinality", "release")
_SchemaRow = Row(*_SCHEMA_COLUMNS)


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
    rows = []
    cls = None
    for ln in _read_lines(path):
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


def write_schema_table(rows: list[Row], path: str) -> None:
    """The installed models schema (X2) as a one-file parquet table at
    ``path``, written on the driver with pyarrow (no Spark job) and
    published in one rename; Spark reads it with ``MODELS_SCHEMA_DDL``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {c: pa.array([r[i] for r in rows], pa.string()) for i, c in enumerate(_SCHEMA_COLUMNS)}
    )

    def write(tmp: str) -> None:
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"), compression="zstd")

    publish_dir(path, write)


def read_schema_rows(path: str) -> list[Row]:
    """An installed models schema table (X2) as driver rows, read with
    pyarrow: O(#attributes) metadata, no Spark job.  As a read with
    ``MODELS_SCHEMA_DDL`` does, a column the table lacks reads as NULL."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = [
        table.column(c).to_pylist() if c in table.column_names else [None] * table.num_rows
        for c in _SCHEMA_COLUMNS
    ]
    return [_SchemaRow(*vals) for vals in zip(*cols)]


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
