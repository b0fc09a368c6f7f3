"""CLI shell — the ``azanium`` command-group analog (SURVEY §3).

Subcommands mirror the reference's entry points
(``/root/reference/src/azanium/__init__.py:14-38``, ``runcommand.py``):

    migrate        run the full migration pipeline (runcommand.py:411-436)
    migrate-homol  homology split only (runcommand.py:439-461)
    qa-report      regenerate the QA report (runcommand.py:188-203)
    reset-to-step  rewind the resume cursor (runcommand.py:346-387)
    clean          drop pipeline state (runcommand.py:258-280)
    bench          run the benchmark suite

Usage:  python -m db_migration_spark.cli migrate --workspace /tmp/ws \\
            --dumps dumps/ --models models.wrm.WS299 \\
            --catalog catalog.txt.gz --release WS299
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .session import get_spark


def _coerce_where_bound(schema, col: str, raw: str):
    """Coerce an ``--where col=value`` bound into the COLUMN's value
    domain as the table schema declares it: a numeric-looking STRING
    partition value ('00501') must stay a string, or the zone-map
    comparison TypeErrors and OPTIMIZE ... WHERE silently rewrites the
    whole table instead of one slice.  Date/timestamp bounds stay
    strings too (zone maps store isoformat strings).  Unknown columns
    (pre-schema legacy logs) fall back to best-effort int/float."""
    f = next(
        (f for f in (schema.fields if schema is not None else [])
         if f.name == col),
        None,
    )
    tname = f.dataType.typeName() if f is not None else None
    if tname in ("byte", "short", "integer", "long"):
        return int(raw)
    if tname in ("float", "double") or (
        tname is not None and tname.startswith("decimal")
    ):
        return float(raw)
    if tname is not None:
        return raw  # string/char/varchar/date/timestamp/binary: verbatim
    for cast in (int, float):
        try:
            return cast(raw)
        except ValueError:
            continue
    return raw


def _add_migrate_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--workspace", required=True)
    p.add_argument("--dumps", required=True)
    p.add_argument("--models", required=True)
    p.add_argument("--catalog", required=True)
    p.add_argument("--release", required=True)
    p.add_argument("--patches", default=None)
    p.add_argument("--homol-classes", default="", help="comma-separated")


def _job(args):
    from .migrate import MigrationJob

    spark = get_spark(f"migrate-{args.release}")
    return MigrationJob(
        spark,
        workspace=args.workspace,
        dumps_path=args.dumps,
        models_path=args.models,
        catalog_path=args.catalog,
        patches_path=args.patches,
        release=args.release,
        homol_classes=[c for c in args.homol_classes.split(",") if c],
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="db-migration-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    for name in ("migrate", "migrate-homol", "qa-report"):
        sp = sub.add_parser(name)
        _add_migrate_args(sp)

    sp = sub.add_parser("reset-to-step")
    _add_migrate_args(sp)
    sp.add_argument("--step", type=int, required=True)

    sp = sub.add_parser("clean")
    _add_migrate_args(sp)

    sub.add_parser("bench")
    sub.add_parser("install")

    sp = sub.add_parser(
        "table-maintain",
        help="transaction-log table maintenance: optimize (compact + "
        "optional cluster), checkpoint the log, vacuum old file groups, "
        "restore to a version, or print the commit history",
    )
    sp.add_argument("--table", required=True, help="TxTable root directory")
    sp.add_argument(
        "--action",
        choices=(
            "optimize", "checkpoint", "vacuum", "history", "restore",
            "rename-column", "drop-column", "bloom-index", "partitions",
            "clone",
        ),
        required=True,
    )
    sp.add_argument(
        "--column", default=None,
        help="target column for rename/drop/bloom-index/partitions",
    )
    sp.add_argument(
        "--to-name", default=None, help="new name for rename-column"
    )
    sp.add_argument(
        "--where", default=None,
        help="optimize only this slice: column=value (OPTIMIZE WHERE)",
    )
    sp.add_argument(
        "--bits-per-key", type=int, default=10,
        help="bloom index sizing",
    )
    sp.add_argument(
        "--to-version",
        type=int,
        default=None,
        help="target version for restore, or source version for clone",
    )
    sp.add_argument(
        "--to-table", default=None,
        help="clone: destination table root (must be empty)",
    )
    sp.add_argument(
        "--cluster-by",
        default="",
        help="comma-separated sort columns for optimize",
    )
    sp.add_argument("--target-groups", type=int, default=1)
    sp.add_argument("--retain-versions", type=int, default=7)
    sp.add_argument(
        "--min-age-seconds",
        type=float,
        default=3600.0,
        help="vacuum never touches groups younger than this",
    )

    sp = sub.add_parser(
        "distinct-rollup",
        help="portable HLL register rollup (functions/hll.py): build a "
        "mergeable (dims..., j, r) register table from a parquet "
        "source, or estimate distinct counts from an existing rollup "
        "along any dimension subset",
    )
    sp.add_argument("--action", choices=("build", "estimate"), required=True)
    sp.add_argument("--input", required=True, help="parquet path")
    sp.add_argument("--key", default=None, help="build: distinct-count key")
    sp.add_argument(
        "--dims", default="",
        help="comma-separated dimension columns (estimate may name any "
        "subset of the rollup's build dims)",
    )
    sp.add_argument("--output", default=None, help="build: rollup dir")

    sp = sub.add_parser(
        "theta-sketch",
        help="portable theta/KMV sketch (functions/theta.py): build a "
        "mergeable k-minimum-values table from a parquet source, "
        "estimate distinct counts from it, or run the set operations "
        "HLL cannot (intersect / diff between two segment values)",
    )
    sp.add_argument(
        "--action",
        choices=("build", "estimate", "intersect", "diff"),
        required=True,
    )
    sp.add_argument("--input", required=True, help="parquet path")
    sp.add_argument("--key", default=None, help="build: distinct-count key")
    sp.add_argument(
        "--dims", default="",
        help="comma-separated dimension columns (estimate may merge to "
        "any subset of the sketch's build dims)",
    )
    sp.add_argument(
        "--k", type=int, default=None,
        help="build: sketch size (default 256).  estimate/set ops read "
        "the k the sketch was BUILT with from its _sketch_meta.json; "
        "passing a conflicting --k there is an error (a larger k would "
        "silently treat the truncated sketch as exact)",
    )
    sp.add_argument("--output", default=None, help="build: sketch dir")
    sp.add_argument("--seg-a", default=None, help="set op: left segment")
    sp.add_argument("--seg-b", default=None, help="set op: right segment")

    sp = sub.add_parser(
        "det-sample",
        help="deterministic hash-Bernoulli sample (functions/theta.py "
        "det_sample): exactly-reproducible 1/denom row sample keyed on "
        "--key — the same rows in any engine or rerun; nested across "
        "denominators",
    )
    sp.add_argument("--input", required=True, help="parquet path")
    sp.add_argument("--key", required=True)
    sp.add_argument("--denom", type=int, default=16)
    sp.add_argument("--output", required=True)

    sp = sub.add_parser(
        "quantile-rollup",
        help="mergeable quantile sketch (functions/qsketch.py): build "
        "an exact-integer log-bin (dims…, bin, cnt) rollup from a "
        "parquet source, or estimate quantiles from a rollup at any "
        "dimension subset — never re-reading raw data",
    )
    sp.add_argument("--action", choices=("build", "estimate"), required=True)
    sp.add_argument("--input", required=True, help="parquet path")
    sp.add_argument(
        "--key", default=None,
        help="build: positive-integer value column to bin",
    )
    sp.add_argument(
        "--dims", default="",
        help="comma-separated dimension columns (estimate may merge to "
        "any subset of the rollup's build dims)",
    )
    sp.add_argument(
        "--quantiles", default="0.5,0.9,0.99",
        help="estimate: comma-separated q values in (0,1)",
    )
    sp.add_argument("--output", default=None, help="build: rollup dir")

    sp = sub.add_parser(
        "lsh-store",
        help="persisted MinHash-LSH band index "
        "(queries_dedupstore/operators.dedup): build a bucket-clustered "
        "band store from a documents table, probe it with a batch of "
        "new documents (near-dup pairs out), or point-probe it with one "
        "document's text — never re-reading the corpus",
    )
    sp.add_argument(
        "--action", choices=("build", "probe", "point"), required=True
    )
    sp.add_argument(
        "--input", required=True,
        help="build/probe: documents parquet (doc_id, text); "
        "point: the store dir",
    )
    sp.add_argument(
        "--store", required=True,
        help="band-store directory (build writes it; probe/point read it)",
    )
    sp.add_argument("--text", default=None, help="point: document text")
    sp.add_argument(
        "--num-hashes", type=int, default=None,
        help="build: signature length (default 32).  probe/point read "
        "the store's _lsh_meta.json; a conflicting value is an error",
    )
    sp.add_argument(
        "--bands", type=int, default=None,
        help="build: LSH bands (default 8); probe/point as --num-hashes",
    )
    sp.add_argument(
        "--threshold", type=float, default=0.4,
        help="probe/point: signature-agreement verify floor",
    )
    sp.add_argument(
        "--append", action="store_true",
        help="probe: append the batch's band rows + signatures to the "
        "store after probing (the incremental-ingest step)",
    )
    sp.add_argument(
        "--output", default=None,
        help="probe: optional parquet path for the found pairs",
    )
    sp.add_argument(
        "--batch-id", type=int, default=None,
        help="probe --append: idempotency identity for the batch "
        "(default: derived from the input path) — re-running the same "
        "append is a version no-op on both store logs",
    )

    sp = sub.add_parser(
        "catalog",
        help="multi-table transaction catalog: snapshot/history/branches "
        "at any ref, create-branch, merge a branch into main, or publish "
        "a prepared {table: version} commit atomically",
    )
    sp.add_argument("--root", required=True, help="TxCatalog root directory")
    sp.add_argument(
        "--action",
        required=True,
        choices=(
            "snapshot",
            "history",
            "branches",
            "create-branch",
            "merge",
            "commit",
            "create-tag",
            "tags",
        ),
    )
    sp.add_argument("--ref", default="main", help="branch to operate on")
    sp.add_argument(
        "--version",
        type=int,
        default=None,
        help="catalog version (snapshot/create-tag) or branch point "
        "(create-branch)",
    )
    sp.add_argument("--name", default=None, help="branch or tag name")
    sp.add_argument(
        "--tables", default=None, help="commit payload: table=version[,..]"
    )
    sp.add_argument(
        "--tag", default=None, help="resolve snapshot via an immutable tag"
    )
    sp.add_argument(
        "--as-of",
        type=float,
        default=None,
        dest="as_of",
        help="resolve snapshot via epoch timestamp (AS OF semantics)",
    )

    sp = sub.add_parser(
        "dsir",
        help="DSIR importance-resampling data selection "
        "(operators/corpus.py dsir_*): fit hashed-bigram bucket stats "
        "against a target predicate over a documents table "
        "(doc_id, lang, text), then select the top-k most target-like "
        "documents — deterministic top-k or hash-seeded Gumbel "
        "resampling; the fitted stats are a mergeable 256-row table",
    )
    sp.add_argument("--action", choices=("fit", "select"), required=True)
    sp.add_argument(
        "--input", required=True,
        help="documents parquet (doc_id, lang, text)",
    )
    sp.add_argument(
        "--target", default=None,
        help="SQL boolean predicate over the occurrence frame defining "
        "the target slice, e.g. \"lang = 'en'\" (fit; or select "
        "without --stats)",
    )
    sp.add_argument(
        "--stats", default=None,
        help="select: fitted stats directory from a prior fit",
    )
    sp.add_argument(
        "--output", default=None,
        help="fit: stats dir; select: optional parquet for the selection",
    )
    sp.add_argument("--top", type=int, default=50, help="select: k")
    sp.add_argument(
        "--gumbel", action="store_true",
        help="select: sample ∝ weight (seeded Gumbel-top-k) instead of "
        "deterministic top-k",
    )

    sp = sub.add_parser(
        "ann",
        help="vector-store operations (queries_annstore/operators/"
        "similarity): build a persisted IVF-PQ code store or an "
        "NN-descent small-world graph store over an embeddings table "
        "(vec_id, embedding), then serve top-k probes through it — "
        "zone-map list/frontier pruning, compressed ADC or beam search",
    )
    sp.add_argument(
        "--action",
        choices=(
            "build-ivfpq",
            "probe-ivfpq",
            "build-graph",
            "probe-graph",
            "repair-graph",
        ),
        required=True,
    )
    sp.add_argument(
        "--input", default=None,
        help="embeddings parquet (vec_id, embedding); required for "
        "build actions and for probes (query vectors come from it)",
    )
    sp.add_argument("--store", required=True, help="store root directory")
    sp.add_argument(
        "--query-ids", default="0,1,2",
        help="probe: comma-separated vec_ids to use as queries",
    )
    sp.add_argument("--k", type=int, default=10, help="probe: top-k")
    sp.add_argument(
        "--probes", type=int, default=6,
        help="probe-ivfpq: inverted lists scanned per query",
    )
    sp.add_argument(
        "--lists",
        type=int,
        default=None,
        help="IVF lists (build-ivfpq: default 16; probe-ivfpq: read "
        "from the store's params.json — a conflicting value is an "
        "error)",
    )

    sp = sub.add_parser(
        "corpus-prep",
        help="training-corpus pipeline: quality gate -> exact dedup "
        "survivors -> pack manifest over a documents table",
    )
    sp.add_argument("--input", required=True, help="documents parquet path/dir")
    sp.add_argument("--output", required=True, help="output directory")
    sp.add_argument("--format", choices=("parquet", "jsonl"), default="parquet")
    sp.add_argument("--seq-len", type=int, default=512)
    sp.add_argument("--min-tokens", type=int, default=5)

    args = ap.parse_args(argv)

    if args.cmd == "install":
        # the `azanium install` analog (install.py:27-49 preliminary
        # checks): no external binaries to fetch — the subprocess engines
        # are native now — so "install" = validate the runtime environment
        import pyspark

        checks = {
            "pyspark": pyspark.__version__,
            "java_home": os.environ.get("JAVA_HOME", ""),
            "testdata": os.path.isdir("/root/testdata"),
        }
        spark = get_spark("install-check")
        checks["spark_session"] = spark.version
        checks["parquet_read"] = bool(
            spark.range(1).count() == 1
        )
        print(json.dumps(checks))
        return 0 if all(bool(v) for v in checks.values()) else 1

    if args.cmd == "table-maintain":
        # the OPTIMIZE / VACUUM / CHECKPOINT maintenance entry point for
        # the transaction-log table format (plans/txlog.py) — the
        # operational surface Delta/Iceberg expose as SQL commands
        from .plans.txlog import TxTable

        t = TxTable(args.table)
        out: dict = {"table": args.table, "action": args.action}
        if args.action == "history":
            out["commits"] = [
                {k: c[k] for k in ("version", "op", "committed_at")}
                for c in t.history()
            ]
        elif args.action == "checkpoint":
            out["checkpointed_version"] = t.checkpoint()
        elif args.action == "restore":
            if args.to_version is None:
                raise SystemExit("restore requires --to-version")
            out["version"] = t.restore(args.to_version)
            out["restored_to"] = args.to_version
        elif args.action == "vacuum":
            deleted = t.vacuum(
                retain_versions=args.retain_versions,
                min_age_seconds=args.min_age_seconds,
            )
            out["deleted_groups"] = len(deleted)
        elif args.action == "rename-column":
            if not (args.column and args.to_name):
                raise SystemExit("rename-column requires --column --to-name")
            spark = get_spark("table-maintain")
            out["version"] = t.alter_rename_column(
                spark, args.column, args.to_name
            )
        elif args.action == "drop-column":
            if not args.column:
                raise SystemExit("drop-column requires --column")
            spark = get_spark("table-maintain")
            out["version"] = t.alter_drop_column(spark, args.column)
        elif args.action == "bloom-index":
            if not args.column:
                raise SystemExit("bloom-index requires --column")
            spark = get_spark("table-maintain")
            out["groups_indexed"] = t.add_bloom_index(
                spark, args.column, bits_per_key=args.bits_per_key
            )
        elif args.action == "clone":
            # CREATE TABLE ... SHALLOW CLONE [VERSION AS OF v]: a
            # metadata-only fork — zero data bytes copied at any size
            if not args.to_table:
                raise SystemExit("clone requires --to-table")
            dest = t.clone_shallow(args.to_table, version=args.to_version)
            c0 = dest._read_commit(0)
            out["to_table"] = args.to_table
            out["source_version"] = c0["source_version"]
            out["groups_referenced"] = len(c0["add"])
            out["bytes_copied"] = 0
        elif args.action == "partitions":
            if not args.column:
                raise SystemExit("partitions requires --column")
            out["partitions"] = [
                str(v) for v in t.partitions(args.column)
            ]
        else:  # optimize
            spark = get_spark("table-maintain")
            keys = [c for c in args.cluster_by.split(",") if c] or None
            where = None
            if args.where:
                w_col, _, w_raw = args.where.partition("=")
                w_val = _coerce_where_bound(
                    t.read_schema(spark), w_col, w_raw
                )
                where = (w_col, w_val, w_val)
            before = len(t.active_groups())
            out["version"] = t.optimize(
                spark,
                sort_key=keys,
                target_groups=args.target_groups,
                where=where,
            )
            out["groups_before"] = before
            out["groups_after"] = len(t.active_groups())
        print(json.dumps(out))
        return 0

    if args.cmd == "catalog":
        # the multi-table transaction / branching surface
        # (plans/catalog_txn.py) — the operational commands Nessie and
        # the Iceberg catalogs expose
        from .plans.catalog_txn import TxCatalog

        cat = TxCatalog(args.root, branch=args.ref)
        out = {"root": args.root, "ref": args.ref, "action": args.action}
        if args.action == "snapshot":
            version = args.version
            if args.tag is not None:
                version = cat.tag_version(args.tag)
                out["tag"] = args.tag
            elif args.as_of is not None:
                version = cat.version_at_timestamp(args.as_of)
            out["version"] = (
                version if version is not None else cat.latest_version()
            )
            out["tables"] = cat.snapshot(version)
        elif args.action == "create-tag":
            if not args.name:
                ap.error("create-tag requires --name")
            out["tag"] = args.name
            out["version"] = cat.create_tag(args.name, args.version)
        elif args.action == "tags":
            out["tags"] = cat.tags()
        elif args.action == "history":
            out["commits"] = cat.history()
        elif args.action == "branches":
            out["branches"] = cat.branches()
            out["head"] = cat.latest_version()
        elif args.action == "create-branch":
            if not args.name:
                ap.error("create-branch requires --name")
            br = cat.create_branch(args.name, at=args.version)
            out["branch"] = args.name
            out["branched_from"] = br.history()[0]["branched_from"]
        elif args.action == "merge":
            if not args.name:
                ap.error("merge requires --name")
            out["merged_version"] = cat.merge_branch(args.name)
            out["tables"] = cat.snapshot()
        elif args.action == "commit":
            if not args.tables:
                ap.error("commit requires --tables table=version[,..]")
            updates = {}
            for part in args.tables.split(","):
                k, _, v = part.partition("=")
                if not v:
                    ap.error(f"bad --tables entry {part!r}")
                updates[k.strip()] = int(v)
            out["version"] = cat.commit(updates)
            out["tables"] = cat.snapshot()
        print(json.dumps(out))
        return 0

    if args.cmd == "distinct-rollup":
        # the pre-aggregation front door: rollups build once, answer any
        # distinct-count question later without re-reading raw data
        from .functions.hll import hll_estimate, hll_merge, hll_registers

        spark = get_spark("distinct-rollup")
        dims = [c for c in args.dims.split(",") if c]
        df = spark.read.parquet(args.input)
        if args.action == "build":
            if not (args.key and args.output):
                raise SystemExit("build requires --key and --output")
            regs = hll_registers(df, dims, args.key)
            regs.write.mode("overwrite").parquet(args.output)
            print(
                json.dumps(
                    {
                        "action": "build",
                        "output": args.output,
                        "rollup_rows": spark.read.parquet(
                            args.output
                        ).count(),
                        "dims": dims,
                    }
                )
            )
            return 0
        # estimate: --input IS a rollup; merge to the requested dims
        # first (summing duplicate registers would be wrong), then
        # estimate per dimension tuple
        est = hll_estimate(hll_merge(df, dims), dims)
        rows = [r.asDict() for r in est.orderBy(*dims).collect()] if dims \
            else [est.collect()[0].asDict()]
        print(json.dumps({"action": "estimate", "dims": dims, "rows": rows}))
        return 0

    if args.cmd == "quantile-rollup":
        # quantile questions at any dimension subset from a bounded
        # (dims…, bin, cnt) table — the merge is a plain count SUM
        from .functions.qsketch import (
            logbin_merge,
            logbin_quantiles,
            logbin_table,
        )

        spark = get_spark("quantile-rollup")
        dims = [c for c in args.dims.split(",") if c]
        df = spark.read.parquet(args.input)
        if args.action == "build":
            if not (args.key and args.output):
                raise SystemExit("build requires --key and --output")
            # logbin is defined on positive non-NULL integers only:
            # v=0 yields bin -8, negatives hit two's-complement bin()
            # (which diverges from the oracle's signed rendering), and
            # NULLs land in a NULL bin — all silent corruption. Fail
            # loudly with a count instead.
            from pyspark.sql import functions as F

            bad = df.filter(
                F.col(args.key).isNull() | (F.col(args.key) <= 0)
            ).count()
            if bad:
                raise SystemExit(
                    f"--key {args.key} has {bad} NULL or <= 0 rows; "
                    "log-binning is defined on positive integers only "
                    "— filter or re-key the input first"
                )
            tbl = logbin_table(df, dims, args.key)
            tbl.write.mode("overwrite").parquet(args.output)
            print(
                json.dumps(
                    {
                        "action": "build",
                        "output": args.output,
                        "rollup_rows": spark.read.parquet(
                            args.output
                        ).count(),
                        "dims": dims,
                    }
                )
            )
            return 0
        qs_map: dict[float, str] = {}
        for tok in args.quantiles.split(","):
            tok = tok.strip()
            if not tok:
                continue
            q = float(tok)
            if not 0.0 < q < 1.0:
                raise SystemExit(f"--quantiles values must be in (0,1): {tok}")
            qs_map[q] = "p" + str(q)[2:]  # 0.5->p5, 0.99->p99, 0.999->p999
        if not qs_map:
            raise SystemExit("--quantiles is empty")
        qs = [(name, q) for q, name in qs_map.items()]
        est = logbin_quantiles(logbin_merge(df, dims), dims, qs)
        rows = (
            [r.asDict() for r in est.orderBy(*dims).collect()]
            if dims
            else [est.collect()[0].asDict()]
        )
        print(
            json.dumps(
                {"action": "estimate", "dims": dims, "rows": rows}
            )
        )
        return 0

    if args.cmd == "theta-sketch":
        # the set-algebra front door: sketches build once; estimate /
        # intersect / diff answer later without re-reading raw data
        from pyspark.sql import functions as F

        from .functions.theta import (
            kmv_merge,
            kmv_set_op,
            kmv_sketch,
            kmv_stats,
        )

        spark = get_spark("theta-sketch")
        dims = [c for c in args.dims.split(",") if c]
        df = spark.read.parquet(args.input)
        if args.action == "build":
            if not (args.key and args.output):
                raise SystemExit("build requires --key and --output")
            k = args.k if args.k is not None else 256
            sk = kmv_sketch(df, dims, args.key, k)
            sk.write.mode("overwrite").parquet(args.output)
            with open(
                os.path.join(args.output, "_sketch_meta.json"), "w"
            ) as fh:
                json.dump({"k": k, "dims": dims, "key": args.key}, fh)
            print(
                json.dumps(
                    {
                        "action": "build",
                        "output": args.output,
                        # count the WRITTEN files, not a second sketch job
                        "sketch_rows": spark.read.parquet(
                            args.output
                        ).count(),
                        "dims": dims,
                        "k": k,
                    }
                )
            )
            return 0
        meta_path = os.path.join(args.input, "_sketch_meta.json")
        built_dims: list[str] | None = None
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            built_k = int(meta["k"])
            built_dims = list(meta.get("dims", []))
            if args.k is not None and args.k != built_k:
                raise SystemExit(
                    f"sketch was built with k={built_k}; estimating with "
                    f"k={args.k} would be wrong (a larger k treats the "
                    "truncated sketch as exact) — omit --k"
                )
            args.k = built_k
        elif args.k is None:
            args.k = 256
        if args.action == "estimate":
            # --input IS a sketch; merge to the requested dims first
            # (k smallest of the union — keeping all rows would bias
            # theta), then estimate per tuple
            st = kmv_stats(kmv_merge(df, dims, args.k), dims, args.k)
            rows = (
                [r.asDict() for r in st.orderBy(*dims).collect()]
                if dims
                else [st.collect()[0].asDict()]
            )
            print(json.dumps({"action": "estimate", "dims": dims,
                              "rows": rows}))
            return 0
        # set ops: --input is a sketch over exactly one dim column
        if not (len(dims) == 1 and args.seg_a and args.seg_b):
            raise SystemExit(f"{args.action} requires --dims SEG "
                             "--seg-a A --seg-b B")
        seg = dims[0]
        if built_dims is not None and seg not in built_dims:
            raise SystemExit(
                f"sketch was built over dims={built_dims}; "
                f"--dims {seg} is not one of them"
            )
        if built_dims is None or built_dims != [seg]:
            # sketch is at finer dims: merge to (seg) first, exactly as
            # the estimate path does — running stats/set-algebra on the
            # unmerged rows double-counts duplicate v values across the
            # fine-grained tuples and takes theta from the wrong union
            df = kmv_merge(df, [seg], args.k)
        st = kmv_stats(df, [seg], args.k)
        pairs = (
            st.filter(F.col(seg) == args.seg_a)
            .select(F.col(seg).alias("sa"))
            .crossJoin(
                st.filter(F.col(seg) == args.seg_b).select(
                    F.col(seg).alias("sb")
                )
            )
        )
        how = "left_semi" if args.action == "intersect" else "left_anti"
        r = kmv_set_op(df, st, pairs, seg, how).first()
        if r is None:
            raise SystemExit("segment value(s) not present in sketch")
        print(
            json.dumps(
                {
                    "action": args.action,
                    "seg_a": args.seg_a,
                    "seg_b": args.seg_b,
                    "theta_v": r["theta_v"],
                    "estimate": int(r["est"]),
                }
            )
        )
        return 0

    if args.cmd == "det-sample":
        from .functions.theta import det_sample

        if args.denom < 1:
            raise SystemExit(f"--denom must be >= 1, got {args.denom}")
        spark = get_spark("det-sample")
        df = spark.read.parquet(args.input)
        samp = det_sample(df, args.key, args.denom)
        samp.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        total = df.count()
        print(
            json.dumps(
                {
                    "action": "det-sample",
                    "denom": args.denom,
                    "rows_in": total,
                    "rows_out": n,
                    "output": args.output,
                }
            )
        )
        return 0

    if args.cmd == "lsh-store":
        # build/probe/point logic is SHARED with the declared queries
        # (queries_dedupstore.build_lsh_store / probe_pairs /
        # point_matches) — the CLI is a front door, not a
        # re-implementation
        import zlib

        from pyspark.sql import functions as F

        from .operators.dedup import band_rows, minhash_signatures
        from .plans.txlog import TxTable
        from .queries_dedupstore import (
            build_lsh_store,
            point_matches,
            probe_pairs,
        )

        spark = get_spark("lsh-store")
        band_root = os.path.join(args.store, "bands")
        sig_root = os.path.join(args.store, "sigs")
        meta_path = os.path.join(args.store, "_lsh_meta.json")

        def load_meta() -> dict:
            if not os.path.exists(meta_path):
                raise SystemExit(f"no _lsh_meta.json under {args.store}")
            with open(meta_path) as fh:
                meta = json.load(fh)
            for k, v in (("num_hashes", args.num_hashes),
                         ("bands", args.bands)):
                if v is not None and v != meta[k]:
                    raise SystemExit(
                        f"store was built with {k}={meta[k]}; probing "
                        f"with {k}={v} would bucket differently — omit "
                        f"--{k.replace('_', '-')}"
                    )
            return meta

        if args.action == "build":
            if os.path.exists(meta_path):
                raise SystemExit(
                    f"{args.store} already holds an lsh store — building "
                    "on top would stack stale band rows under the live "
                    "index; use probe --append for incremental ingest, "
                    "or remove the store first"
                )
            t, ts = build_lsh_store(
                spark.read.parquet(args.input),
                args.store,
                args.num_hashes if args.num_hashes is not None else 32,
                args.bands if args.bands is not None else 8,
            )
            print(
                json.dumps(
                    {
                        "action": "build",
                        "store": args.store,
                        "docs": ts.read(spark).count(),
                        "band_rows": t.read(spark).count(),
                    }
                )
            )
            return 0

        meta = load_meta()
        t = TxTable(band_root)
        ts = TxTable(sig_root)
        if args.action == "probe":
            batch = spark.read.parquet(args.input)
            bsigs = minhash_signatures(
                batch, num_hashes=meta["num_hashes"]
            ).persist()
            pairs = probe_pairs(
                t.read(spark), ts.read(spark), bsigs,
                bands=meta["bands"], threshold=args.threshold,
            ).withColumn("est_jaccard", F.round("est_jaccard", 6))
            if args.output:
                pairs.write.mode("overwrite").parquet(args.output)
                n_pairs = spark.read.parquet(args.output).count()
            else:
                n_pairs = pairs.count()
            appended = False
            if args.append:
                # idempotent two-table append: both commits carry the
                # SAME batch identity (derived from the input path unless
                # --batch-id pins it), so a retried pipeline step is a
                # version no-op on both logs; signatures commit FIRST so
                # a crash in between leaves no band row whose candidate
                # would silently drop at the signature join
                bid = (
                    args.batch_id
                    if args.batch_id is not None
                    else zlib.crc32(
                        os.path.abspath(args.input).encode()
                    )
                )
                ts.commit_append(bsigs, txn=("lsh_sigs", bid))
                t.commit_append(
                    band_rows(bsigs, "doc_id", meta["bands"]),
                    txn=("lsh_bands", bid),
                )
                # keep the point-probe cost bound: fresh groups get
                # bloom sidecars (add_bloom_index only touches groups
                # that lack one)
                t.add_bloom_index(spark, "bucket")
                appended = True
            out = {
                "action": "probe",
                "n_batch": batch.count(),
                "n_pairs": n_pairs,
                "appended": appended,
            }
            if args.output:
                out["output"] = args.output
            bsigs.unpersist()
            print(json.dumps(out))
            return 0

        # point: one document's text against the store, bloom-pruned
        if not args.text:
            raise SystemExit("point requires --text")
        probe = spark.createDataFrame(
            [(-1, args.text)], "doc_id long, text string"
        )
        psig = minhash_signatures(probe, num_hashes=meta["num_hashes"])
        matches, scanned = point_matches(
            spark, t, ts, psig, meta["bands"], args.threshold
        )
        matches = (
            matches.select(
                "store_id", F.round("est_jaccard", 6).alias("est_jaccard")
            )
            .orderBy(F.desc("est_jaccard"), "store_id")
            .limit(20)
        )
        print(
            json.dumps(
                {
                    "action": "point",
                    "matches": [r.asDict() for r in matches.collect()],
                    "groups_scanned": len(scanned),
                    "cost_bounded": len(scanned) <= meta["bands"],
                }
            )
        )
        return 0

    if args.cmd == "dsir":
        from pyspark.sql import functions as F

        from .operators.corpus import (
            DSIR_BUCKETS,
            dsir_bucket_stats,
            dsir_gumbel_key,
            dsir_occurrences,
            dsir_weights_from_stats,
        )

        spark = get_spark("dsir")
        docs = spark.read.parquet(args.input)
        occ = dsir_occurrences(docs)
        if args.action == "fit":
            if not (args.target and args.output):
                raise SystemExit("fit requires --target and --output")
            if args.stats or args.gumbel:
                raise SystemExit(
                    "--stats/--gumbel are select-only flags; "
                    "fit ignores nothing silently"
                )
            stats = dsir_bucket_stats(occ, F.expr(args.target))
            stats.write.mode("overwrite").parquet(args.output)
            with open(
                os.path.join(args.output, "_dsir_meta.json"), "w"
            ) as fh:
                json.dump(
                    {"buckets": DSIR_BUCKETS, "target": args.target}, fh
                )
            fitted = spark.read.parquet(args.output)
            tot = fitted.agg(
                F.sum("rc").alias("r"), F.sum("tc").alias("t")
            ).collect()[0]
            print(
                json.dumps(
                    {
                        "action": "fit",
                        "output": args.output,
                        "buckets": fitted.count(),
                        "raw_bigrams": tot["r"],
                        "target_bigrams": tot["t"],
                    }
                )
            )
            return 0
        if args.stats and args.target:
            # mirror the fit branch's strictness: nothing is ignored
            # silently — a caller passing both has two conflicting
            # sources for the target distribution
            raise SystemExit(
                "select takes --stats OR --target, not both: --stats "
                "replays a fitted distribution, --target fits one now"
            )
        if args.stats:
            meta_path = os.path.join(args.stats, "_dsir_meta.json")
            try:
                with open(meta_path) as fh:
                    meta = json.load(fh)
            except (OSError, ValueError) as e:
                raise SystemExit(
                    f"--stats {args.stats} has no readable "
                    f"_dsir_meta.json ({e}); point --stats at a "
                    "directory produced by `dsir --action fit`"
                ) from e
            if meta["buckets"] != DSIR_BUCKETS:
                raise SystemExit(
                    f"stats fitted at {meta['buckets']} buckets; this "
                    f"build hashes into {DSIR_BUCKETS} — refit"
                )
            stats = spark.read.parquet(args.stats)
        elif args.target:
            stats = dsir_bucket_stats(occ, F.expr(args.target))
        else:
            raise SystemExit("select requires --stats or --target")
        w = dsir_weights_from_stats(occ, stats)
        order_col = "w_micro"
        if args.gumbel:
            w = dsir_gumbel_key(w)
            order_col = "key_micro"
        top = w.orderBy(F.desc(order_col), "doc_id").limit(args.top)
        if args.output:
            # write once, read the selection back — never execute the
            # full scoring DAG twice
            top.write.mode("overwrite").parquet(args.output)
            top = spark.read.parquet(args.output).orderBy(
                F.desc(order_col), "doc_id"
            )
        rows = [r.asDict() for r in top.collect()]
        print(
            json.dumps(
                {
                    "action": "select",
                    "mode": "gumbel" if args.gumbel else "topk",
                    "k": args.top,
                    "rows": rows[:10],
                    "n_selected": len(rows),
                }
            )
        )
        return 0

    if args.cmd == "ann":
        # build/probe logic is SHARED with the declared store queries
        # (queries_annstore) — the CLI is a front door, not a
        # re-implementation
        import shutil as _sh

        from pyspark.sql import functions as F

        from .operators.similarity import rank_topk
        from .plans.txlog import TxTable
        from .queries_annstore import (
            build_ivfpq_store,
            build_nsw_graph_store,
            descent_mv_repair,
            graph_store_beam,
            ivfpq_candidates,
        )
        from .queries_shared import _beam_topk

        spark = get_spark("ann-cli")
        if args.action.startswith("build") and not args.input:
            raise SystemExit(f"{args.action} requires --input")
        if args.action == "build-ivfpq":
            if args.lists is None:
                args.lists = 16
            emb = spark.read.parquet(args.input).select(
                "vec_id", "embedding"
            )
            _sh.rmtree(args.store, ignore_errors=True)
            t = build_ivfpq_store(emb, args.store, args.lists)
            print(
                json.dumps(
                    {
                        "store": args.store,
                        "n_vectors": t.count_rows(spark),
                        "n_groups": len(t.active_groups()),
                        "lists": args.lists,
                    }
                )
            )
            return 0
        if args.action == "build-graph":
            emb = spark.read.parquet(args.input).select(
                "vec_id", "embedding"
            )
            _sh.rmtree(args.store, ignore_errors=True)
            t = build_nsw_graph_store(emb, args.store)
            print(
                json.dumps(
                    {
                        "store": args.store,
                        "edges": t.count_rows(spark),
                        "n_groups": len(t.active_groups()),
                    }
                )
            )
            return 0
        if args.action == "repair-graph":
            # the compaction-analog maintenance op over a stream-
            # maintained MV store root (vectors/ + knn/, the layout
            # _ensure_stream_nsw_descent_mv and descent_mv_refresh
            # write): one full-graph NN-descent round, ≤ D·(D+1) new
            # scorings per node, changed edges committed as one CDC
            # delta.  The one-shot build-graph store bakes long-range
            # links into a single edges table and is rebuilt, not
            # repaired.
            vec_root = os.path.join(args.store, "vectors")
            knn_root = os.path.join(args.store, "knn")
            if not (os.path.isdir(vec_root) and os.path.isdir(knn_root)):
                raise SystemExit(
                    "repair-graph needs a stream-MV store root with "
                    "vectors/ and knn/ (build-graph stores are one-shot "
                    "-- rebuild them instead)"
                )
            stats = os.path.join(args.store, "maintenance_stats.jsonl")
            t = TxTable(knn_root)
            v0 = t.latest_version()
            descent_mv_repair(spark, vec_root, knn_root, stats)
            print(
                json.dumps(
                    {
                        "store": args.store,
                        "repaired": t.latest_version() > v0,
                        "version": t.latest_version(),
                        "edges": t.count_rows(spark),
                    }
                )
            )
            return 0
        qids = [int(x) for x in args.query_ids.split(",") if x != ""]
        if not args.input:
            raise SystemExit("probe actions need --input for query vectors")
        emb = spark.read.parquet(args.input).select("vec_id", "embedding")
        q = emb.filter(F.col("vec_id").isin(qids))
        if args.action == "probe-graph":
            # the beam walks and scores the store's own vectors/; the
            # probe-time --input supplies only the query vectors
            if not os.path.isdir(os.path.join(args.store, "vectors")):
                raise SystemExit(
                    f"graph store {args.store} has no vectors/ — rebuild "
                    "it with build-graph (stores written before vector "
                    "persistence cannot be probed safely)"
                )
            io = {"groups_read": 0, "groups_total": 0}
            beam = graph_store_beam(
                TxTable(os.path.join(args.store, "edges")),
                q.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qv"),
                ),
                io,
            )
            rows = (
                _beam_topk(beam, args.k)
                .select("query_id", "rank", "neighbor_id")
                .orderBy("query_id", "rank")
                .collect()
            )
            print(
                json.dumps(
                    {
                        "groups_planned": [
                            io["groups_read"],
                            io["groups_total"],
                        ],
                        "results": [list(r) for r in rows],
                    }
                )
            )
            return 0
        # probe-ivfpq: the quantizer state (centroids, lists, n_sub,
        # n_codes) is read FROM THE STORE, never recomputed from the
        # probe-time --input — recomputing from a different embeddings
        # file silently maps queries to list_ids that don't match the
        # stored assignments.
        params_path = os.path.join(args.store, "params.json")
        if not os.path.exists(params_path):
            raise SystemExit(
                f"store {args.store} has no params.json — rebuild with "
                "build-ivfpq (stores written before centroid "
                "persistence cannot be probed safely)"
            )
        with open(params_path) as fh:
            params = json.load(fh)
        if args.lists is not None and args.lists != params["lists"]:
            raise SystemExit(
                f"--lists {args.lists} does not match the store's "
                f"lists={params['lists']}; the stored value is "
                "authoritative"
            )
        scored, picked, total = ivfpq_candidates(
            spark,
            args.store,
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            args.probes,
        )
        rows = (
            rank_topk(scored, "approx_score", args.k)
            .select("query_id", "rank", "neighbor_id")
            .orderBy("query_id", "rank")
            .collect()
        )
        print(
            json.dumps(
                {
                    "groups_planned": [len(picked), total],
                    "results": [list(r) for r in rows],
                }
            )
        )
        return 0

    if args.cmd == "corpus-prep":
        # the end-to-end corpus pass a training-data user runs: gate ->
        # dedup -> pack, each stage a parquet output under --output
        from pyspark.sql import functions as F

        from .functions import text as TXT
        from .operators import corpus as C, dedup as D

        spark = get_spark("corpus-prep")
        if args.format == "jsonl":
            from .sources import jsonl as J

            docs = J.quarantine_split(spark, args.input, J.DOCUMENTS_SCHEMA)[0]
        else:
            docs = spark.read.parquet(args.input)
        gated = docs.filter(TXT.token_count(F.col("text")) >= args.min_tokens)
        keepers = D.exact_dedup(gated).select("keep_id")
        survivors = gated.join(
            keepers, gated["doc_id"] == keepers["keep_id"], "left_semi"
        )
        packed = C.pack_manifest(survivors, seq_len=args.seq_len)
        survivors.write.mode("overwrite").parquet(
            os.path.join(args.output, "documents")
        )
        packed.write.mode("overwrite").parquet(
            os.path.join(args.output, "pack_manifest")
        )
        stats = {
            "input_docs": docs.count(),
            "gated_docs": gated.count(),
            "surviving_docs": survivors.count(),
            # seq_ids are 0-based (start div seq_len) and not necessarily
            # contiguous across docs, so count distinct ids (0 when empty)
            "sequences": packed.agg(
                F.coalesce(F.countDistinct("seq_id"), F.lit(0))
            ).collect()[0][0],
        }
        print(json.dumps(stats))
        return 0

    if args.cmd == "bench":
        from . import queries  # noqa: F401 — import check
        import bench

        bench.main()
        return 0

    job = _job(args)
    if args.cmd == "migrate":
        # around-step notifications (notifications.py:75-82 analog): one
        # JSON line per step event on stderr
        pipe = job.pipeline()
        pipe.add_listener(
            lambda phase, n, step: print(
                json.dumps(
                    {"event": phase, "step": n, "description": step.description}
                ),
                file=sys.stderr,
            )
        )
        pipe.run()
    elif args.cmd == "migrate-homol":
        job.homol_split()
    elif args.cmd == "qa-report":
        job.qa_report()
    elif args.cmd == "reset-to-step":
        job.pipeline().reset_to_step(args.step)
    elif args.cmd == "clean":
        job.pipeline().clean()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
