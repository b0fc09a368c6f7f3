"""The end-to-end migration pipeline — the ``azanium migrate`` analog.

The reference's flagship command runs 11 sequential steps
(``/root/reference/src/azanium/runcommand.py:292-334``): validate inputs →
fetch ACeDB → tace dump → gzip → create DB → ace→EDN → sort logs → import →
patches → QA report → backup.  Steps 2-4 are acquisition/compression of
text the engine now reads directly; the remaining dataflow steps map 1:1
onto the operator library:

    reference step (boundary)      engine stage (native)                      Spark jobs
    -----------------------------  -----------------------------------------  ----------
    create-database + models (X2)  models_schema_rows (a driver read of           0
                                   the models file) → schema table, a
                                   driver pyarrow write
    acedump-to-edn-logs (X1)       parse_ace_dump → ace_records_to_datoms         4
    prepare-import (X3)            typed_cast per the installed schema
    sort-edn-logs (T1)             eav.tx_sorted(typed, "class") over the
                                   persisted parse: dumps parsed once
    import-logs (S8)               the same step's one batch parquet write,
                                   partitioned by class
    apply-patches (X4)             patches parsed and typed (X1+X3) like          2
                                   the dumps → apply_patches merge
    homol-import (X5)              file-level snapshot of the homology            0
                                   classes' partitions (snapshot_store)
    qa-report (X6 = A1 ⋈ J1)       per_class_counts collected (one query)       ≤ 3
                                   ⋈ id catalog on the driver
                                   (qa_report_rows) → one quoted CSV
    backup-db (S9)                 file-level snapshot (snapshot_store)           0

Every step reads the store with the schema it was written with
(``datom_store_schema`` of the installed models schema, whose rows the
job keeps on the driver), so no read launches a footer-inference job.
The tables of a handful of rows — the schema table, the id catalog and
the QA report — are read and written on the driver, and the homology
store and backup copy files: a release runs 9 Spark jobs.  The store's
columns, typed casts and card-many set all come from ``operators.eav``.

Resume semantics come from plans.Pipeline (durable JSON cursor — the
shelve ``LAST_STEP_OK`` analog, ``runcommand.py:393-406``) plus idempotent
stage-output paths.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.eav import (
    apply_patches,
    card_many_attrs,
    datom_store_schema,
    tx_sorted,
    typed_cast,
    value_types,
)
from .operators.relational import per_class_counts, qa_report_rows
from .plans.pipeline import Pipeline, Step, publish_dir
from .sources.ace import ace_records_to_datoms, parse_ace_dump
from .sources.catalog_files import (
    models_schema_rows,
    read_id_catalog,
    read_schema_rows,
    write_qa_report_csv,
    write_schema_table,
)


class MigrationJob:
    """One release migration: dumps dir + models file + id catalog →
    EAVT store + QA report + homology store + snapshot."""

    def __init__(
        self,
        spark: SparkSession,
        workspace: str,
        dumps_path: str,
        models_path: str,
        catalog_path: str,
        release: str,
        patches_path: str | None = None,
        homol_classes: list[str] | None = None,
    ):
        self.spark = spark
        self.ws = workspace
        self.dumps_path = dumps_path
        self.models_path = models_path
        self.catalog_path = catalog_path
        self.patches_path = patches_path
        self.release = release
        self.homol_classes = homol_classes or []
        self._schema: list | None = None  # installed schema rows (X2)

    # -- stage functions (each idempotent via its output path) -------------

    def _path(self, *parts: str) -> str:
        return os.path.join(self.ws, self.release, *parts)

    def _schema_rows(self) -> list:
        """The installed models schema (X2) as driver rows — kept from
        install-schema, or read once on the driver by a job that resumes
        past it."""
        if self._schema is None:
            self._schema = read_schema_rows(self._path("schema"))
        return self._schema

    def _read_store(self, name: str) -> DataFrame:
        return read_store(self.spark, self._path(name), self._schema_rows())

    def _datoms(self, path: str) -> DataFrame:
        """X1+X3: the ``.ace`` dumps under ``path`` parsed to datoms and
        typed per the installed schema — the one parse of both the
        release dumps and its patches."""
        return typed_cast(
            ace_records_to_datoms(parse_ace_dump(self.spark, path)),
            value_types(self._schema_rows()),
        )

    def validate(self) -> None:
        """Step 1 (runcommand.py:413-421 input validation): inputs exist."""
        for p in filter(None, [self.dumps_path, self.models_path, self.catalog_path]):
            if not os.path.exists(p.split("*")[0].rstrip("/") or p):
                raise FileNotFoundError(p)

    def install_schema(self) -> None:
        """X2 create-database analog: per-release schema table, parsed
        from the models file and written on the driver — no Spark job."""
        self._schema = models_schema_rows(self.models_path, self.release)
        write_schema_table(self._schema, self._path("schema"))

    def dump_to_datoms(self) -> str:
        """X1+X3: parse dumps → datoms, typed per schema, T1-sorted into
        the store layout (range-partitioned by tx, sorted within)."""
        out = self._path("datoms")
        typed = self._datoms(self.dumps_path).persist()
        # Store layout for scale: hive-partitioned by class (per-class QA
        # counts, homology splits and per-class pivots prune to their
        # directories), T1-sorted with class leading the range key so
        # each class's files cover disjoint tx ranges and are tx-sorted
        # inside — the per-class analog of the reference's globally
        # sorted EDN import, with no single-task global sort anywhere.
        # The range sort samples its input before the write reads it:
        # the persist makes the sample parse the dumps and the write
        # read the parsed datoms.
        try:
            tx_sorted(typed, "class").write.mode("overwrite").partitionBy(
                "class"
            ).parquet(out)
        finally:
            typed.unpersist()
        return out

    def merge_patches(self) -> str:
        """X4: late patches over the imported base — cardinality-aware.

        Card-one attributes (UNIQUE model lines) upsert LWW per (e,a);
        card-many attributes (the ACeDB default) resolve per (e,a,v) so a
        patch assert accumulates instead of collapsing the whole multi-value
        set — matching the Datomic patch transact the reference runs
        (pseudoace.py:105-110).  A release without patches snapshots
        ``datoms`` file by file, keeping its class-partitioned layout."""
        out = self._path("datoms_patched")
        if not self.patches_path:
            snapshot_store(self._path("datoms"), out)
            return out
        merged = apply_patches(
            self._read_store("datoms"),
            self._datoms(self.patches_path),
            card_many_attrs=card_many_attrs(self._schema_rows()),
        )
        merged.write.mode("overwrite").partitionBy("class").parquet(out)
        return out

    def homol_split(self) -> str:
        """X5: second store for homology classes (the '<release>-homol' DB,
        runcommand.py:439-461) — a file-level snapshot of their
        ``class=<c>`` partitions of the final store, no Spark job.  A
        release with no homology rows publishes an empty store."""
        src, out = self._path("datoms_patched"), self._path("homol")
        wanted = set(self.homol_classes)
        # partition directory names are the class values path-escaped
        parts = [
            p for p in os.listdir(src)
            if p.startswith("class=") and unquote(p[len("class="):]) in wanted
        ]
        snapshot_store(src, out, parts)
        return out

    def qa_report(self) -> list:
        """X6: per-class entity counts ⋈ expected id catalog → quoted CSV
        (the reference's human gate before backup, runcommand.py:188-203).
        The counts are the one Spark query; both sides are O(#classes)
        rows, so the reconcile and the CSV run on the driver."""
        actual = per_class_counts(
            self._read_store("datoms_patched"), "class", entity_col="e"
        ).collect()
        report = qa_report_rows(actual, read_id_catalog(self.catalog_path))
        write_qa_report_csv(report, self._path("qa_report"))
        return report

    def backup(self) -> str:
        """S9: file-level snapshot of the final store (the datomic
        backup-db analog) — no Spark job."""
        out = self._path("backup")
        snapshot_store(self._path("datoms_patched"), out)
        return out

    # -- assembly -----------------------------------------------------------

    def pipeline(self) -> Pipeline:
        steps = [
            Step("validate-inputs", self.validate),
            Step("install-schema", self.install_schema),
            Step("dump-to-datoms", self.dump_to_datoms),
            Step("merge-patches", self.merge_patches),
            Step("homol-split", self.homol_split),
            Step("qa-report", self.qa_report),
            Step("backup", self.backup),
        ]
        return Pipeline(steps, self._path("manifest.json"))

    def run(self) -> list[str]:
        return self.pipeline().run()


def read_store(spark: SparkSession, path: str, schema_rows: list) -> DataFrame:
    """The datom store at ``path`` read with the schema it was written
    with (:func:`datom_store_schema` of the installed ``schema_rows``):
    no footer-inference job, and an empty store reads as zero rows."""
    return spark.read.schema(
        datom_store_schema(value_types(schema_rows))
    ).parquet(path)


def snapshot_store(src: str, dst: str, partitions: list[str] | None = None) -> None:
    """Byte-level snapshot of the committed store directory ``src`` at
    ``dst`` — the datomic ``backup-db`` analog: its files are copied,
    never decoded and re-encoded.  With ``partitions`` (directory names
    under ``src``, e.g. ``class=Gene``) only those partitions are copied,
    beside ``src``'s top-level files.  The copy is published in one
    rename (``publish_dir``), so a crash never leaves a half snapshot at
    ``dst``."""
    def skip(d: str, names: list[str]) -> list[str]:
        if partitions is None or d != src:
            return []
        return [
            n for n in names
            if n not in partitions and os.path.isdir(os.path.join(d, n))
        ]

    publish_dir(dst, lambda tmp: shutil.copytree(src, tmp, ignore=skip))


def materialize_wide(
    spark: SparkSession,
    store_path: str,
    schema_path: str,
    out_root: str,
    classes: list[str] | None = None,
    wide_attr_threshold: int = 200,
) -> dict[str, str]:
    """X7 at pipeline level: one wide table per class, attributes from the
    installed models schema (X2).  Cardinality-one attributes become
    columns via the single-shuffle exact pivot; card-many become sorted
    arrays.  Per-class outputs are written independently — each reads only
    its class partition (pruned) and can be scheduled concurrently (the
    reference's two-stage split, changelog.rst:281-284, generalized).

    Classes wider than ``wide_attr_threshold`` attributes (SURVEY §7 hard
    part (c): ACeDB classes can carry thousands of tags) fall back to ONE
    ``map<a, array<v>>`` column per entity (``to_attr_multimap``) instead
    of thousands of mostly-null columns — a thousand-column pivot blows up
    the parquet schema/footer and the planner's per-column bookkeeping,
    while the map form stays one scannable column with the same
    information."""
    from .operators.eav import pivot_multi, to_attr_multimap

    schema_rows = read_schema_rows(schema_path)
    many = set(card_many_attrs(schema_rows))
    by_class: dict[str, list[str]] = {}
    for attr in value_types(schema_rows):
        by_class.setdefault(attr.split("/", 1)[0], []).append(attr)
    datoms = read_store(spark, store_path, schema_rows)
    out = {}
    for cls, attrs in by_class.items():
        if classes and cls not in classes:
            continue
        cls_datoms = datoms.filter(F.col("class") == cls)
        if len(attrs) > wide_attr_threshold:
            wide = to_attr_multimap(
                cls_datoms.filter(F.col("a").isin(list(attrs)))
            )
            path = os.path.join(out_root, cls)
            wide.write.mode("overwrite").parquet(path)
            out[cls] = path
            continue
        ones = [a for a in attrs if a not in many]
        manys = [a for a in attrs if a in many]
        wide = None
        if ones:
            # exact pivot only guards entities whose card-one datoms are
            # unique; entities missing some attribute still surface (guard
            # is per-attribute count, so use plain pivot here and LWW
            # upstream for duplicates)
            from .operators.eav import pivot_wide

            wide = pivot_wide(cls_datoms.filter(F.col("a").isin(ones)), ones)
        if manys:
            multi = pivot_multi(cls_datoms.filter(F.col("a").isin(manys)), manys)
            wide = multi if wide is None else wide.join(multi, "e", "full_outer")
        if wide is None:
            continue
        path = os.path.join(out_root, cls)
        wide.write.mode("overwrite").parquet(path)
        out[cls] = path
    return out
