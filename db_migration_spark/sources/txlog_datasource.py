"""The transaction-log table as a STREAMING SOURCE — the Delta/Iceberg
streaming-source analog over plans/txlog.py, via Spark 4's Python
DataSource API (the partition-planned variant, not the driver-side
Simple reader: planning touches only the LOG; data files are read on
EXECUTORS, one input partition per parquet file — the shape that holds
at 100 TB).

Offsets are commit versions: a micro-batch covers versions
``(start, end]``, exactly the commits that appeared since the last
batch.  Append commits stream their rows as inserts, tagged with
``_commit_version``.  Rewrite commits (overwrite / merge / optimize)
are NOT row-level inserts; by default the source REFUSES them
(option ``ignoreChanges=true`` skips them instead) — the same contract
as Delta's streaming source, which errors on non-append commits unless
told otherwise.  Replayability: a (start, end] range always resolves to
the same commit files, so a restarted query re-reads identical batches.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_PA_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "bool": "boolean",
    "date32[day]": "date",
}


_DDL_TO_PA = {
    "tinyint": "int8",
    "byte": "int8",
    "smallint": "int16",
    "short": "int16",
    "int": "int32",
    "integer": "int32",
    "bigint": "int64",
    "long": "int64",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "bool",
    "date": "date32[day]",
    "timestamp": "timestamp[us]",
}


def _schema_fields(root: str) -> list[tuple[str, str, str]]:
    """[(column, spark-ddl, on-file name)] of the table — from the
    LOG-OWNED schema when recorded (so the stream's declared schema
    survives files written after an ADD COLUMN, and a renamed column is
    read from the physical name its files carry), else the first live
    group's parquet footer (legacy logs)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from ..plans.txlog import TxTable

    t = TxTable(root)
    js = t.table_schema_json()
    if js is not None:
        return [
            (f["name"], _spark_ddl_of(f["type"]), t._physical_name(sf))
            for f, sf in zip(js["fields"], StructType.fromJson(js).fields)
        ]
    groups = t.active_groups()
    if not groups:
        raise ValueError(f"cannot infer schema of empty table {root}")
    files = sorted(glob.glob(os.path.join(t._gpath(groups[0]), "*.parquet")))
    schema = pq.ParquetFile(files[0]).schema_arrow
    out = []
    for field in schema:
        s = str(field.type)
        if s.startswith("timestamp"):
            ddl = "timestamp"
        elif s.startswith("decimal"):
            ddl = s
        else:
            ddl = _PA_TO_DDL.get(s)
        if ddl is None:
            raise TypeError(f"unsupported column type {s} in txlog stream")
        out.append((field.name, ddl, field.name))
    return out


def _spark_ddl_of(t) -> str:
    """Spark DDL string for a StructType-JSON field type (flat types
    only — the txlog stream contract)."""
    if isinstance(t, str):
        return t
    raise TypeError(f"unsupported nested column type {t} in txlog stream")


def _data_schema_ddl(root: str) -> str:
    cols = [f"`{n}` {d}" for n, d, _phys in _schema_fields(root)]
    cols.append("`_commit_version` long")
    return ", ".join(cols)


class TxlogFilePartition(InputPartition):
    def __init__(self, path: str, version: int):
        self.path = path
        self.version = version


class TxlogStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("txlog stream source requires a path")
        self.ignore_changes = (
            str(options.get("ignoreChanges", "false")).lower() == "true"
        )
        self.ignore_deletes = (
            str(options.get("ignoreDeletes", "false")).lower() == "true"
        )
        # Delta's startingVersion: begin the stream AFTER this commit
        # (exclusive), instead of replaying the whole log.  Default -1
        # streams everything.
        self.starting_version = int(options.get("startingVersion", -1))
        # declared stream schema, pinned at query start: file batches
        # are projected onto it so commits after an ADD COLUMN (extra
        # file columns) or files from before one (missing columns →
        # typed nulls) never break a running stream
        self.fields = _schema_fields(self.root)

    def _table(self):
        from ..plans.txlog import TxTable

        return TxTable(self.root)

    def initialOffset(self) -> dict:
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        # a large backlog means MANY file partitions in one micro-batch,
        # which is fine — partitions are executor-side and planning cost
        # is one log replay (unlike the Simple reader, nothing
        # materializes on the driver), so no per-batch version cap is
        # needed
        return {"version": self._table().latest_version()}

    def partitions(self, start: dict, end: dict):
        import glob

        t = self._table()
        parts = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            c = t._read_commit(v)
            if c.get("op", "append") != "append":
                if not (c.get("add") or c.get("remove") or c.get("dv")):
                    continue  # metadata-only (constraint/schema): no rows
                delete_only = bool(c.get("dv")) and not (
                    c.get("add") or c.get("remove")
                )
                if delete_only and (self.ignore_deletes or self.ignore_changes):
                    continue
                if self.ignore_changes:
                    continue
                hint = (
                    "ignoreDeletes=true to skip delete commits"
                    if delete_only
                    else "ignoreChanges=true to skip rewrite commits"
                )
                raise ValueError(
                    f"txlog stream hit non-append commit v{v} "
                    f"({c.get('op')}); set {hint} "
                    "(the Delta streaming-source contract)"
                )
            for g in c.get("add", []):
                gdir = t._gpath(g)
                for f in sorted(glob.glob(os.path.join(gdir, "*.parquet"))):
                    parts.append(TxlogFilePartition(f, v))
        if not parts:  # engine requires ≥1 partition; emit an empty file list
            return [TxlogFilePartition("", int(end["version"]))]
        return parts

    def read(self, partition: TxlogFilePartition):
        if not partition.path:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        # yield Arrow RecordBatches, not Python rows: the Python data
        # source API transfers them columnar end-to-end (measured 35s →
        # ~4s at ×10 vs the row-at-a-time tuple path).  Project onto the
        # stream's declared schema: drop columns added after the query
        # started, null-fill columns this file predates.
        table = pq.read_table(partition.path)
        for batch in table.to_batches():
            ver = pa.array([partition.version] * batch.num_rows, pa.int64())
            cols, names = [], []
            for name, ddl, phys in self.fields:
                if phys in batch.schema.names:
                    cols.append(batch.column(phys))
                else:
                    pa_t = _DDL_TO_PA.get(ddl)
                    if pa_t is None and ddl.startswith("decimal"):
                        pa_t = ddl
                    cols.append(
                        pa.nulls(batch.num_rows, type=pa.type_for_alias(pa_t))
                    )
                names.append(name)
            yield pa.RecordBatch.from_arrays(
                [*cols, ver], names=[*names, "_commit_version"]
            )

    def commit(self, end: dict) -> None:
        pass


class TxlogStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "txlog"

    def schema(self):
        return _data_schema_ddl(self.options.get("path"))

    def streamReader(self, schema) -> TxlogStreamReader:
        return TxlogStreamReader(self.options)


def register(spark) -> None:
    try:
        spark.dataSource.register(TxlogStreamDataSource)
    except Exception as exc:  # pragma: no cover - double registration
        if "already" not in str(exc).lower():
            raise
