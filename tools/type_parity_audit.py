"""Full-registry Spark-vs-DuckDB output type parity audit.

The driver's value-multiset hash is type-sensitive (round-3: DuckDB HUGEINT
vs Spark BIGINT hash-red on equal values).  Beyond HUGEINT, any numeric
type divergence (INTEGER vs BIGINT, DECIMAL precision) is the same latent
bug class.  This audits every declared query: Spark ``df.dtypes`` (schema
analysis only — no execution beyond fixture generation) against DuckDB
``DESCRIBE`` of the oracle, and prints one line per divergent column.

Usage: python tools/type_parity_audit.py [sf_dir] [name ...]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import duckdb

from db_migration_spark.queries import ORACLES, QUERIES
from db_migration_spark.session import get_spark

# duckdb type -> expected spark dtype string
MAP = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "DATE": "date",
    "TIMESTAMP": "timestamp_ntz",
    "TIMESTAMP WITH TIME ZONE": "timestamp",
    "BLOB": "binary",
}


def expected(duck_type: str) -> str | None:
    u = duck_type.upper()
    if u.startswith("DECIMAL"):
        return u.lower().replace(" ", "")
    if u.endswith("[]"):  # list types — element parity checked coarsely
        inner = expected(u[:-2])
        return f"array<{inner}>" if inner else None
    return MAP.get(u)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark("type-parity")
    spark.sparkContext.setLogLevel("ERROR")
    n_diff = 0
    for name in QUERIES:
        if only and name not in only:
            continue
        try:
            stypes = dict(QUERIES[name](spark, sf_dir).dtypes)
            dtypes = {
                r[0]: r[1]
                for r in con.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
            }
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {str(exc)[:150]}")
            n_diff += 1
            continue
        for col, dt in dtypes.items():
            st = stypes.get(col)
            exp = expected(dt)
            if st is None or exp is None:
                continue
            # tz-naive vs tz'd timestamps both round-trip identically here
            if st.startswith("timestamp") and exp.startswith("timestamp"):
                continue
            if st != exp:
                print(f"TYPE-DIFF {name}.{col}: spark={st} duck={dt}")
                n_diff += 1
    print(f"done, {n_diff} issues")
    return 1 if n_diff else 0


if __name__ == "__main__":
    raise SystemExit(main())
