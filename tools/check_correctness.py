"""Local stand-in for the driver's t2 correctness gate.

Runs every declared query on Spark and its oracle on DuckDB at a given
sf dir, compares row count, column names, and an order-insensitive value
multiset (with exact equality — no tolerance — since the declared queries
are engineered for bit-identical results).

Usage: python tools/check_correctness.py [--json out.json] [sf_dir] [query ...]

``--json`` additionally writes a driver-artifact-shaped file: one record
per query with rows/schema/hash match booleans (hash here = the sorted
row-multiset comparison).  Every registry entry has an oracle.
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb

from db_migration_spark.queries import ORACLES, QUERIES
from db_migration_spark.session import get_spark


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(normalize(x) for x in v)
    return v


def row_key(row, col_order):
    # stringify with a type tag so NULLs and mixed types sort totally
    # (the driver hashes the multiset; sorting is just our local stand-in)
    def k(v):
        n = normalize(v)
        return "\x00None" if n is None else f"{type(n).__name__}:{n}"

    return tuple(k(row[i]) for i in col_order)


# --- declared-type parity -------------------------------------------------
# The round-3/round-4 driver hash-reds were all TYPE-metadata sensitivities
# the value multiset cannot see: client canonicalizers disagree on wide /
# exact numerics (DuckDB→pandas turns every DECIMAL into float64 and HUGEINT
# loses precision; Spark→pandas keeps exact Decimal objects).  So the
# stand-in additionally (a) maps both engines' declared output types into
# one canonical space and requires per-column equality, and (b) hard-fails
# any DECIMAL or HUGEINT at the oracle boundary — exact wide integers must
# cross as BIGINT (when they fit at scale) or as canonical decimal strings,
# fractional exact sums as DOUBLE (bit-equal when unscaled < 2^53).

_SPARK_CANON = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "binary": "bytes",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "void": "null",
}

_DUCK_CANON = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int",
    "UBIGINT": "int", "HUGEINT": "hugeint",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "BLOB": "bytes",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
    "TIMESTAMP WITH TIME ZONE": "ts",
    '"NULL"': "null", "NULL": "null",
}


def canon_spark(t: str) -> str:
    t = t.strip()
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("array<") and t.endswith(">"):
        return f"list<{canon_spark(t[6:-1])}>"
    if t.startswith(("struct<", "map<")):
        return "nested"
    return _SPARK_CANON.get(t, t)


def canon_duck(t: str) -> str:
    t = t.strip()
    if t.upper().startswith("DECIMAL"):
        return "decimal"
    if t.endswith("[]"):
        return f"list<{canon_duck(t[:-2])}>"
    if t.upper().startswith(("STRUCT(", "MAP(")):
        return "nested"
    return _DUCK_CANON.get(t.upper(), t)


def type_parity_errors(spark_fields, duck_described) -> list[str]:
    """Per-column canonical-type mismatches + boundary-policy violations.

    ``spark_fields``: StructField list; ``duck_described``: rows of
    ``DESCRIBE <sql>`` (name, type, ...).  Column match is by NAME (the
    driver sorts columns by name before hashing).
    """
    errs = []
    stypes = {f.name: f.dataType.simpleString() for f in spark_fields}
    dtypes = {r[0]: r[1] for r in duck_described}
    for name, st in stypes.items():
        cs = canon_spark(st)
        if "decimal" in cs:
            errs.append(f"{name}: spark {st} — decimal at oracle boundary")
        if name not in dtypes:
            continue
        cd = canon_duck(dtypes[name])
        if "decimal" in cd or "hugeint" in cd:
            errs.append(
                f"{name}: duckdb {dtypes[name]} — wide numeric at boundary"
            )
        if cs != cd and "decimal" not in cs + cd and "hugeint" not in cd:
            errs.append(f"{name}: spark {st} vs duckdb {dtypes[name]}")
    return errs


def main() -> int:
    import json

    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    report: dict[str, dict] = {}
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None, "err": f"spark: {exc}"[:300]}
            print(f"FAIL {name}: spark error: {exc}")
            continue
        try:
            described = con.execute(
                f"DESCRIBE {ORACLES[name]}"
            ).fetchall()
            ddf = con.execute(ORACLES[name])
            dcols = [d[0] for d in ddf.description]
            drows = ddf.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": len(srows),
                            "oracle_rows": None, "err": f"duckdb: {exc}"[:300]}
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        rec = {"rows_match": len(srows) == len(drows),
               "schema_match": sorted(scols) == sorted(dcols),
               "hash_match": None, "spark_rows": len(srows),
               "oracle_rows": len(drows), "err": None}
        report[name] = rec
        if not rec["schema_match"]:
            failures.append(name)
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            continue
        terrs = type_parity_errors(sdf.schema.fields, described)
        if terrs:
            failures.append(name)
            rec["schema_match"] = False
            rec["err"] = f"type parity: {'; '.join(terrs)}"[:300]
            print(f"FAIL {name}: type parity: {terrs}")
            continue
        if not rec["rows_match"]:
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            continue
        s_order = [scols.index(c) for c in sorted(scols)]
        d_order = [dcols.index(c) for c in sorted(dcols)]
        s_set = sorted(row_key(tuple(r), s_order) for r in srows)
        d_set = sorted(row_key(r, d_order) for r in drows)
        rec["hash_match"] = s_set == d_set
        if s_set != d_set:
            failures.append(name)
            ndiff = sum(1 for a, b in zip(s_set, d_set) if a != b)
            print(f"FAIL {name}: value mismatch ({ndiff}/{len(s_set)} rows)")
            for a, b in list(zip(s_set, d_set))[:200]:
                if a != b:
                    print(f"  spark: {a}\n  duck : {b}")
                    break
        else:
            print(
                f"PASS {name} ({len(srows)} rows, {time.time()-t0:.1f}s)"
            )
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {json_out} ({len(report)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
