"""The end-to-end migration pipeline — the ``azanium migrate`` analog.

The reference's flagship command runs 11 sequential steps
(``/root/reference/src/azanium/runcommand.py:292-334``): validate inputs →
fetch ACeDB → tace dump → gzip → create DB → ace→EDN → sort logs → import →
patches → QA report → backup.  Steps 2-4 are acquisition/compression of
text the engine now reads directly; the remaining dataflow steps map 1:1
onto the operator library:

    reference step (boundary)          engine stage (native)
    ---------------------------------  -----------------------------------
    create-database + models (X2)      models_schema_rows → schema table
    acedump-to-edn-logs (X1)           parse_ace_dump → ace_records_to_datoms
    sort-edn-logs (T1)                 repartitionByRange(class, tx) + sortWithin
                                       over the persisted parse: dumps parsed once
    import-logs (S8)                   batch parquet write, partitioned by class
    apply-patches (X4)                 apply_patches last-write-wins merge
    homol-import (X5)                  class-subset filter → second store
    qa-report (X6 = A1 ⋈ J1)           per_class_counts ⋈ id_catalog → CSV
    backup-db (S9)                     file-level snapshot (snapshot_store)

Every step reads the store with the schema it was written with
(``datom_store_schema`` of the installed models schema, whose rows the
job keeps on the driver), so no read launches a footer-inference job;
the backup copies files and launches no Spark job at all.

Resume semantics come from plans.Pipeline (durable JSON cursor — the
shelve ``LAST_STEP_OK`` analog, ``runcommand.py:393-406``) plus idempotent
stage-output paths.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.eav import (
    apply_patches,
    datom_store_schema,
    homology_split,
    typed_cast,
)
from .operators.relational import per_class_counts, qa_count_report
from .plans.pipeline import Pipeline, Step
from .sources.ace import ace_records_to_datoms, parse_ace_dump
from .sources.catalog_files import (
    MODELS_SCHEMA_DDL,
    models_schema_rows,
    read_id_catalog,
    write_qa_report_csv,
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
        install-schema, or read once with its fixed DDL by a job that
        resumes past it.  O(#attributes) metadata."""
        if self._schema is None:
            self._schema = (
                self.spark.read.schema(MODELS_SCHEMA_DDL)
                .parquet(self._path("schema"))
                .collect()
            )
        return self._schema

    def _read_store(self, name: str) -> DataFrame:
        """The datom store ``name`` read with the schema it was written
        with (:func:`datom_store_schema`): no footer-inference job, and
        an empty store reads as zero rows."""
        return self.spark.read.schema(
            datom_store_schema(value_types(self._schema_rows()))
        ).parquet(self._path(name))

    def validate(self, ctx: dict) -> str:
        """Step 1 (runcommand.py:413-421 input validation): inputs exist."""
        for p in filter(None, [self.dumps_path, self.models_path, self.catalog_path]):
            if not os.path.exists(p.split("*")[0].rstrip("/") or p):
                raise FileNotFoundError(p)
        return "ok"

    def install_schema(self, ctx: dict) -> DataFrame:
        """X2 create-database analog: per-release schema table."""
        self._schema = models_schema_rows(
            self.spark, self.models_path, self.release
        )
        schema = self.spark.createDataFrame(self._schema, MODELS_SCHEMA_DDL)
        schema.write.mode("overwrite").parquet(self._path("schema"))
        return schema

    def dump_to_datoms(self, ctx: dict) -> str:
        """X1+X3: parse dumps → datoms, typed per schema, T1-sorted into
        the store layout (range-partitioned by tx, sorted within)."""
        out = self._path("datoms")
        typed = typed_cast(
            ace_records_to_datoms(parse_ace_dump(self.spark, self.dumps_path)),
            value_types(self._schema_rows()),
        ).persist()
        # Store layout for scale: hive-partitioned by class (per-class QA
        # counts, homology splits and per-class pivots prune to their
        # directories), range-clustered so each class's files cover
        # disjoint tx ranges and are tx-sorted inside — the per-class
        # analog of the reference's globally sorted EDN import (T1), with
        # no single-task global sort anywhere.  The range sort samples
        # its input before the write reads it: the persist makes the
        # sample parse the dumps and the write read the parsed datoms.
        try:
            (
                typed.repartitionByRange(F.col("class"), F.col("tx"))
                .sortWithinPartitions("class", "tx")
                .write.mode("overwrite")
                .partitionBy("class")
                .parquet(out)
            )
        finally:
            typed.unpersist()
        return out

    def merge_patches(self, ctx: dict) -> str:
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
        base = self._read_store("datoms")
        patches = ace_records_to_datoms(
            parse_ace_dump(self.spark, self.patches_path)
        )
        for c, t in base.dtypes:
            if c not in patches.columns:
                patches = patches.withColumn(c, F.lit(None).cast(t))
        card_many = [
            f"{r['class']}/{r['attribute']}"
            for r in self._schema_rows()
            if r["cardinality"] == "many"
        ]
        merged = apply_patches(
            base, patches.select(*base.columns), card_many_attrs=card_many
        )
        merged.write.mode("overwrite").partitionBy("class").parquet(out)
        return out

    def homol_split(self, ctx: dict) -> str:
        """X5: second store for homology classes (the '<release>-homol' DB,
        runcommand.py:439-461)."""
        out = self._path("homol")
        homology_split(
            self._read_store("datoms_patched"), self.homol_classes
        ).write.mode("overwrite").parquet(out)
        return out

    def qa_report(self, ctx: dict) -> DataFrame:
        """X6: per-class entity counts ⋈ expected id catalog → quoted CSV
        (the reference's human gate before backup, runcommand.py:188-203)."""
        actual = per_class_counts(
            self._read_store("datoms_patched"), "class", entity_col="e"
        )
        expected = read_id_catalog(self.spark, self.catalog_path)
        report = qa_count_report(actual, expected)
        write_qa_report_csv(report, self._path("qa_report"))
        return report

    def backup(self, ctx: dict) -> str:
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

    def run(self) -> dict:
        return self.pipeline().run()


def value_types(schema_rows: list) -> dict[str, str]:
    """'Class/attribute' → value_type of installed schema rows (X2) —
    the attribute typing :func:`typed_cast` and
    :func:`datom_store_schema` take."""
    return {
        f"{r['class']}/{r['attribute']}": r["value_type"] for r in schema_rows
    }


def snapshot_store(src: str, dst: str) -> None:
    """Byte-level snapshot of the committed store directory ``src`` at
    ``dst`` — the datomic ``backup-db`` analog: its files are copied,
    never decoded and re-encoded.  The copy lands in a temp sibling that
    is renamed into place, so a crash never leaves a half snapshot at
    ``dst``."""
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(src, tmp)
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)


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

    schema_rows = spark.read.schema(MODELS_SCHEMA_DDL).parquet(schema_path).collect()
    by_class: dict[str, dict[str, str]] = {}
    for r in schema_rows:
        by_class.setdefault(r["class"], {})[
            f"{r['class']}/{r['attribute']}"
        ] = r["cardinality"]
    datoms = spark.read.schema(
        datom_store_schema(value_types(schema_rows))
    ).parquet(store_path)
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
        ones = [a for a, card in attrs.items() if card == "one"]
        manys = [a for a, card in attrs.items() if card == "many"]
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
