"""The benchmark's workloads, each a closed loop with one client.

A workload is driven in four phases by ``run.py``:

``prepare(rep)``  input generation; repeated, so its time is a median
``warm_up()``     first calls — JIT, Python workers, cached plans — and,
                  for ``store``, seeding the table the ops run against
``op(i)``         one timed unit of work; returns nothing, raises on error
``check()``       correctness of everything the ops produced, run after
                  the timed loop; returns the number of failed ops

``layer_metrics()`` reports the per-layer numbers of a traced run, and
``repeat_op(tag)`` is a unit of work that leaves the workload's state as
it found it, so that a traced and an untraced call do the same work and
their ratio is the tracer's cost.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import gen
from tracing import SPARK_COUNTERS, spark_counters


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return _median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of the files under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.counters: list[dict[str, float]] = []  # one per traced op
        self.groups: list[str] = []  # job groups of the current op

    def begin_op(self, op_id: str) -> None:
        self.tracer.op_id = op_id
        self.groups = [op_id]
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, op_id)

    def after_op(self) -> None:
        """Traced op only, outside its timing: sum the Spark counters of
        the job groups the op ran under."""
        total = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for g in self.groups:
            for k, v in spark_counters(self.spark, g).items():
                total[k] += v
        self.counters.append(total)

    def trace_wrap(self) -> None:
        """Traced run: hook spans into engine calls the ops do not make
        directly."""

    def spark_layer(self) -> dict[str, float]:
        """Spark counters per traced op, and the median time Catalyst
        takes to plan one query physically."""
        n = max(1, len(self.counters))
        out = {
            f"spark.{k}": sum(c[k] for c in self.counters) / n
            for k in SPARK_COUNTERS
        }
        out["catalyst.plan_s"] = _median(self.tracer.durations("catalyst.plan"))
        return out

    def _plan(self, df) -> None:
        """Traced: time the physical planning of ``df`` on its own."""
        with self.tracer.span("catalyst.plan", "spark"):
            if self.tracer.enabled:
                df._jdf.queryExecution().executedPlan()


# -- migrate ------------------------------------------------------------------


class Migrate(Workload):
    """``MigrationJob.run()`` of a generated release into a fresh
    workspace, once per op."""

    name = "migrate"
    OBJECTS = 4000
    WARM_OPS = 2
    STEPS = (
        "install-schema",
        "dump-to-datoms",
        "merge-patches",
        "homol-split",
        "qa-report",
        "backup",
    )

    def __init__(self, *args):
        super().__init__(*args)
        self.release: gen.Release | None = None
        self.workspaces: list[str] = []

    def prepare(self, rep: int) -> None:
        if self.release is not None:
            shutil.rmtree(self.release.root)
        self.release = gen.write_release(
            os.path.join(self.work, f"release{rep}"),
            self.seed,
            max(50, int(self.OBJECTS * self.scale)),
        )

    def _job(self, ws: str):
        from db_migration_spark.migrate import MigrationJob

        r = self.release
        return MigrationJob(
            self.spark,
            workspace=ws,
            dumps_path=r.dumps,
            models_path=r.models,
            catalog_path=r.catalog,
            release=gen.RELEASE,
            patches_path=r.patches,
            homol_classes=gen.HOMOL_CLASSES,
        )

    def warm_up(self) -> None:
        """Full-size ops until the JIT has compiled the hot paths: the
        first op pays class loading and Python-worker start (about three
        times a steady op), the second is still about 15% slow, the third
        is steady."""
        for i in range(self.WARM_OPS):
            ws = os.path.join(self.work, f"warm{i}")
            self._job(ws).run()
            shutil.rmtree(ws)

    def op(self, i: int) -> None:
        ws = os.path.join(self.work, f"ws{i}")
        self._release(f"migrate-{i}", ws)
        self.workspaces.append(ws)

    def repeat_op(self, tag: str) -> None:
        """An op into a workspace removed afterwards: every op starts
        from the same state anyway."""
        ws = os.path.join(self.work, f"ws-{tag}")
        self._release(f"migrate-{tag}", ws)
        shutil.rmtree(ws)

    def _release(self, op_id: str, ws: str) -> None:
        pipeline = self._job(ws).pipeline()
        tracer = self.tracer
        self.begin_op(op_id)
        if tracer.enabled:

            def on_step(phase: str, _n: int, step) -> None:
                if phase == "start":
                    tracer.begin(f"pipeline.{step.description}", "plans.pipeline")
                    group = f"{op_id}/{step.description}"
                    self.groups.append(group)
                    self.spark.sparkContext.setJobGroup(group, group)
                else:
                    tracer.end()

            pipeline.add_listener(on_step)
        with tracer.span("migrate.release", "workload"):
            pipeline.run()

    def check(self) -> int:
        """Every op's workspace: datom count, QA report rows and patched
        values match the generator; the dumps parse with no rejects."""
        from pyspark.sql import functions as F

        from db_migration_spark.sources.ace import parse_ace_rejects

        spark, r = self.spark, self.release
        if parse_ace_rejects(spark, r.dumps).count() != 0:
            return len(self.workspaces)

        def each_ws(read):
            # one DataFrame over every op's output, tagged by op
            out = None
            for n, ws in enumerate(self.workspaces):
                df = read(os.path.join(ws, gen.RELEASE)).withColumn("op", F.lit(n))
                out = df if out is None else out.unionByName(df)
            return out

        store = each_ws(lambda base: spark.read.parquet(os.path.join(base, "datoms_patched")))
        qa = each_ws(
            lambda base: spark.read.option("header", True).csv(os.path.join(base, "qa_report"))
        )
        patched = spark.createDataFrame(
            [(c, o, f"{c}/{a}", v) for (c, o, a), v in sorted(r.patched.items())],
            "class STRING, obj_id STRING, a STRING, want STRING",
        ).select(F.xxhash64("class", "obj_id").alias("e"), "a", "want")
        ops = spark.range(len(self.workspaces)).select(F.col("id").cast("int").alias("op"))

        datoms = {row["op"]: row["count"] for row in store.groupBy("op").count().collect()}
        # patched values that did not win, per op (a missing datom counts)
        wrong = {
            row["op"]: row["count"]
            for row in ops.crossJoin(patched)
            .join(store.select("op", "e", "a", "v"), ["op", "e", "a"], "left")
            .filter(F.col("v").isNull() | (F.col("v") != F.col("want")))
            .groupBy("op")
            .count()
            .collect()
        }
        qa_got: dict[int, set] = {}
        for row in qa.collect():
            qa_got.setdefault(row["op"], set()).add(
                (
                    row["class_name"],
                    int(row["actual_count"]),
                    int(row["expected_count"]),
                    row["matches"] == "true",
                )
            )
        qa_want = {
            (c, r.entities.get(c, 0), n, c != r.mismatch_class)
            for c, n in r.catalog_counts.items()
        }
        return sum(
            datoms.get(n) != r.n_datoms or wrong.get(n, 0) or qa_got.get(n) != qa_want
            for n in range(len(self.workspaces))
        )

    def probes(self) -> dict[str, float]:
        """Traced run only, after the loop: the parse seam and the patch
        operator timed alone (noop sink), each after its physical plan is
        timed, and the store's on-disk size."""
        from pyspark.sql import functions as F

        from db_migration_spark.operators.eav import apply_patches
        from db_migration_spark.sources.ace import (
            ace_records_to_datoms,
            parse_ace_dump,
            parse_ace_rejects,
        )

        spark, r, tracer = self.spark, self.release, self.tracer
        parsed = parse_ace_dump(spark, r.dumps)
        self._plan(parsed)
        with tracer.span("sources.ace_parse", "sources"):
            parsed.write.format("noop").mode("overwrite").save()
        ws = os.path.join(self.workspaces[-1], gen.RELEASE)
        base = spark.read.parquet(os.path.join(ws, "datoms"))
        patches = ace_records_to_datoms(parse_ace_dump(spark, r.patches))
        for c, t in base.dtypes:
            if c not in patches.columns:
                patches = patches.withColumn(c, F.lit(None).cast(t))
        card_many = [
            f"{c}/{a}" for c, attrs in gen.MODELS.items()
            for a, note in attrs if "UNIQUE" not in note
        ]
        patched = apply_patches(
            base, patches.select(*base.columns), card_many_attrs=card_many
        )
        self._plan(patched)
        with tracer.span("operators.apply_patches", "operators"):
            patched.write.format("noop").mode("overwrite").save()
        store_bytes, _ = _dir_bytes(os.path.join(ws, "datoms_patched"))
        _, files = _dir_bytes(ws)
        return self.stream_probe() | {
            "sources.ace_parse_s": _median(tracer.durations("sources.ace_parse")),
            "sources.ace_records": parse_ace_dump(spark, r.dumps).count(),
            "sources.ace_rejects": parse_ace_rejects(spark, r.dumps).count(),
            "operators.apply_patches_s": _median(
                tracer.durations("operators.apply_patches")
            ),
            "migrate.store_bytes_per_input_byte": store_bytes / r.input_bytes,
            "migrate.files_written": files,
        }

    def stream_probe(self) -> dict[str, float]:
        """Traced run only: the dumps drained as a stream — the parse seam
        in its Structured Streaming form, melted to datoms and counted per
        attribute in a stateful aggregate, ``availableNow`` into a memory
        sink — so the micro-batch phases and the state store are on the
        path.  Phase times are summed over the query's progress reports,
        the events a ``StreamingQueryListener`` would receive.  Raises if
        the drained counts do not add up to the release's datoms."""
        from db_migration_spark.sources.ace import (
            ace_records_to_datoms,
            parse_ace_blocks_df,
            read_ace_blocks_stream,
        )

        spark, r = self.spark, self.release
        counts = (
            ace_records_to_datoms(parse_ace_blocks_df(read_ace_blocks_stream(spark, r.dumps)))
            .groupBy("a")
            .count()
        )
        with self.tracer.span("streaming.ace_import", "streaming"):
            query = (
                counts.writeStream.format("memory")
                .queryName("perfbench_ace_import")
                .outputMode("complete")
                .option("checkpointLocation", os.path.join(self.work, "stream-checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream drain failed: {query.exception()}")
        got = sum(row["count"] for row in spark.table("perfbench_ace_import").collect())
        if got != r.n_datoms:
            raise AssertionError(f"stream drained {got} datoms, want {r.n_datoms}")
        progress = query.recentProgress

        def phase(key: str) -> float:
            return float(sum(p.durationMs.get(key, 0) for p in progress))

        state = [s for p in progress for s in p.stateOperators]
        last = progress[-1].stateOperators if progress else []
        return {
            "streaming.ace_import_s": _median(self.tracer.durations("streaming.ace_import")),
            "streaming.batches": len(progress),
            "streaming.add_batch_ms": phase("addBatch"),
            "streaming.wal_commit_ms": phase("walCommit"),
            "streaming.query_planning_ms": phase("queryPlanning"),
            "streaming.state_commit_ms": float(sum(s.commitTimeMs for s in state)),
            "streaming.state_rows": float(sum(s.numRowsTotal for s in last)),
            "streaming.state_memory_bytes": float(sum(s.memoryUsedBytes for s in last)),
        }

    def layer_metrics(self) -> dict[str, float]:
        out = self.probes()
        release = self.tracer.durations("migrate.release")
        out["migrate.release_s"] = _median(release)
        out["migrate.datoms_per_s"] = self.release.n_datoms / _median(release)
        for step in self.STEPS:
            key = "pipeline." + step.replace("-", "_") + "_s"
            out[key] = _median(self.tracer.durations(f"pipeline.{step}"))
        out.update(self.spark_layer())
        return out


# -- store --------------------------------------------------------------------


class Store(Workload):
    """A versioned ``TxTable`` under a write/read mix: per op one
    ``merge_into`` upsert, point reads, a time-travel count and a
    checkpoint."""

    name = "store"
    OBJECTS = 5000
    GROUPS = 8
    MERGE_ROWS = 300
    INSERT_SHARE = 0.2
    READS = 4
    RECENT_SHARE = 0.25  # point reads aimed at the last merge's entities
    TIME_TRAVEL_BACK = 5
    WARM_OPS = 2  # after one, op times still fell ~15% over a run's ops
    SCHEMA = "e BIGINT, a STRING, v STRING"

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = random.Random(self.seed + 1)
        self.commits = 0
        self.user_bytes = 0
        self.read_errors = 0
        self.point_reads: list[float] = []
        self.merges: list[float] = []
        self.prunes: list[tuple[int, int]] = []

    def prepare(self, rep: int) -> None:
        rel_root = os.path.join(self.work, f"release{rep}")
        self.rows = gen.write_release(
            rel_root, self.seed, max(50, int(self.OBJECTS * self.scale))
        ).card_one
        shutil.rmtree(rel_root)

    def seed_table(self) -> None:
        """A fresh table holding the release's card-one datoms in
        ``GROUPS`` commits, with bloom sidecars on ``e``."""
        from db_migration_spark.plans.txlog import TxTable

        table = TxTable(os.path.join(self.work, "store"))
        rows = self.rows
        # model: live rows per version, and entity → {attribute: value}
        self.rows_at: dict[int, int] = {}
        for g in range(self.GROUPS):
            part = rows[g * len(rows) // self.GROUPS : (g + 1) * len(rows) // self.GROUPS]
            table.commit_append(self.spark.createDataFrame(part, self.SCHEMA))
            self.rows_at[table.latest_version()] = (g + 1) * len(rows) // self.GROUPS
        table.add_bloom_index(self.spark, "e")
        self.table = table
        self.model: dict[int, dict[str, str]] = {}
        for e, a, v in rows:
            self.model.setdefault(e, {})[a] = v
        self.entities = sorted(self.model)
        order = self.entities[:]
        random.Random(self.seed + 2).shuffle(order)
        self.zipf_order = order
        self.zipf_cum = []
        acc = 0.0
        for rank in range(len(order)):
            acc += 1.0 / (rank + 1) ** 1.1
            self.zipf_cum.append(acc)
        self.recent: list[int] = []
        self.attrs = sorted({a for attrs in self.model.values() for a in attrs})

    def _merge_source(self, tag: str) -> list[tuple[int, str, str]]:
        rng = self.rng
        n_new = int(self.MERGE_ROWS * self.INSERT_SHARE)
        keys = set()
        while len(keys) < self.MERGE_ROWS - n_new:
            e = rng.choice(self.entities)
            keys.add((e, rng.choice(sorted(self.model[e]))))
        while len(keys) < self.MERGE_ROWS:
            keys.add((rng.getrandbits(62), rng.choice(self.attrs)))
        return [(e, a, f"{tag}-{rng.getrandbits(32):x}") for e, a in sorted(keys)]

    def _read_key(self) -> int:
        if self.recent and self.rng.random() < self.RECENT_SHARE:
            return self.rng.choice(self.recent)
        return self.rng.choices(self.zipf_order, cum_weights=self.zipf_cum)[0]

    def _collect(self, df):
        """Collect ``df``; traced, its physical planning is timed apart."""
        self._plan(df)
        with self.tracer.span("spark.collect", "spark"):
            return df.collect()

    def warm_up(self) -> None:
        self.seed_table()
        for i in range(self.WARM_OPS):
            self.op(-1 - i)
        self.data_bytes0, _ = _dir_bytes(self.table.data_dir)

    def op(self, i: int) -> None:
        spark, table, tracer = self.spark, self.table, self.tracer
        op_id = f"store-{i}"
        self.begin_op(op_id)
        with tracer.span("store.op", "workload"):
            rows = self._merge_source(op_id)
            t0 = time.perf_counter()
            with tracer.span("txlog.merge_into", "plans.txlog"):
                table.merge_into(spark, spark.createDataFrame(rows, self.SCHEMA), ["e", "a"])
            if i >= 0:
                self.merges.append(time.perf_counter() - t0)
                self.user_bytes += sum(8 + len(a) + len(v) for _e, a, v in rows)
            self.commits += 1
            for e, a, v in rows:
                self.model.setdefault(e, {})[a] = v
            self.rows_at[table.latest_version()] = sum(map(len, self.model.values()))
            self.recent = sorted({e for e, _a, _v in rows})
            self._reads([self._read_key() for _ in range(self.READS)], i >= 0)
            # every op checkpoints, so every op does the same work: it
            # writes a checkpoint and the next op replays from it
            with tracer.span("txlog.checkpoint", "plans.txlog"):
                table.checkpoint()

    def _reads(self, keys: list[int], record: bool) -> None:
        """Point reads of ``keys`` and a time-travel count, each checked
        against the model."""
        spark, table, tracer = self.spark, self.table, self.tracer
        for key in keys:
            t0 = time.perf_counter()
            with tracer.span("store.point_read", "workload"):
                with tracer.span("txlog.read_point", "plans.txlog"):
                    df = table.read_point(spark, "e", key)
                got = {(r["a"], r["v"]) for r in self._collect(df)}
            if record:
                self.point_reads.append(time.perf_counter() - t0)
            if got != set(self.model.get(key, {}).items()):
                self.read_errors += 1
        version = max(0, table.latest_version() - self.TIME_TRAVEL_BACK)
        with tracer.span("store.time_travel", "workload"):
            with tracer.span("txlog.read", "plans.txlog"):
                df = table.read(spark, version=version).groupBy().count()
            n = self._collect(df)[0][0]
        want = self.rows_at[max(v for v in self.rows_at if v <= version)]
        if n != want:
            self.read_errors += 1

    def repeat_op(self, tag: str) -> None:
        """The read half of an op on fixed keys: it commits nothing, so
        every call sees the same table."""
        self.begin_op(f"store-{tag}")
        with self.tracer.span("store.op", "workload"):
            self._reads(self.zipf_order[: self.READS], record=False)

    def after_op(self) -> None:
        super().after_op()
        # log replay, timed apart from the op: every read and commit pays
        # it before it can plan
        with self.tracer.span("txlog.replay", "plans.txlog"):
            self.table.active_groups()

    def check(self) -> int:
        """Reads inside ops were checked against the model as they ran;
        the final table must equal the model row for row, and its
        metadata count must equal a scan count."""
        spark, table = self.spark, self.table
        want = {(e, a, v) for e, attrs in self.model.items() for a, v in attrs.items()}
        got = {(r["e"], r["a"], r["v"]) for r in table.read(spark).collect()}
        n_meta = table.count_rows(spark)
        n_scan = table.read(spark).count()
        if got != want or n_meta != n_scan or n_scan != len(want):
            return max(1, self.commits)
        return self.read_errors

    def trace_wrap(self) -> None:
        """Traced run: time the pruning planner where ``read_point`` calls
        it, by wrapping the table's public method on the instance."""
        table, tracer = self.table, self.tracer
        inner = table.prune_groups_point

        def prune_groups_point(*args, **kwargs):
            with tracer.span("txlog.prune_groups_point", "plans.txlog"):
                kept, total = inner(*args, **kwargs)
            if tracer.enabled:
                self.prunes.append((len(kept), total))
            return kept, total

        table.prune_groups_point = prune_groups_point

    def layer_metrics(self) -> dict[str, float]:
        tracer, table = self.tracer, self.table
        kept = sum(k for k, _ in self.prunes)
        total = sum(t for _, t in self.prunes)
        n = max(1, len(self.prunes))
        data_bytes, _ = _dir_bytes(table.data_dir)
        out = {
            "txlog.merge_s": _median(tracer.durations("txlog.merge_into")),
            "txlog.replay_s": _median(tracer.durations("txlog.replay")),
            "txlog.prune_s": _median(tracer.durations("txlog.prune_groups_point")),
            "txlog.groups_kept": kept / n,
            "txlog.groups_total": total / n,
            "txlog.prune_ratio": kept / total if total else 0.0,
            "txlog.point_scan_s": _median(
                [
                    s["end"] - s["start"]
                    for s in tracer.spans
                    if s["name"] == "spark.collect"
                    and s["parent"] is not None
                    and tracer.spans[s["parent"]]["name"] == "store.point_read"
                ]
            ),
            "txlog.checkpoint_s": _median(tracer.durations("txlog.checkpoint")),
            "txlog.versions": table.latest_version() + 1,
            "txlog.bytes_written_per_user_byte": (data_bytes - self.data_bytes0)
            / max(1, self.user_bytes),
            "store.commit_p50_s": _median(self.merges),
            "store.point_read_p50_s": _median(self.point_reads),
            "store.point_read_p90_s": _p90(self.point_reads),
            "store.time_travel_s": _median(tracer.durations("store.time_travel")),
        }
        out.update(self.spark_layer())
        return out


WORKLOADS = {w.name: w for w in (Migrate, Store)}
