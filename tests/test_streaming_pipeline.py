"""Streaming rollups and ingest dedup, the streaming .ace source, the
store-fixture protocol; resumable pipeline DAG."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_migration_spark.catalog import load_table
from db_migration_spark.operators.eav import DATOM_DDL
from db_migration_spark.plans.pipeline import Pipeline, Step
from db_migration_spark.streaming import import_stream as st

def test_windowed_rollup_streaming_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_src"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    rolled = st.windowed_event_rollup(stream)
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .collect()
    )
    want = {(r["hour"], r["event_type"]): (r["n"], r["s"]) for r in batch}
    assert got == want


def test_session_window_runs(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "ev2"
    events.write.parquet(str(src))
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    q = (
        st.session_windowed_rollup(stream)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    n = spark.sql("SELECT count(*) AS n FROM sess_test").collect()[0]["n"]
    assert n > 0


# --- pipeline DAG ----------------------------------------------------------


def test_pipeline_resume_and_reset(tmp_path):
    manifest = str(tmp_path / "manifest.json")
    calls = []
    boom = {"fail": True}

    def step(tag):
        def run():
            calls.append(tag)
            if tag == "two" and boom["fail"]:
                raise RuntimeError("transient")

        return Step(tag, run)

    p = Pipeline([step("one"), step("two"), step("three")], manifest)
    events = []
    p.add_listener(lambda phase, n, s: events.append((phase, n)))

    with pytest.raises(RuntimeError):
        p.run()
    assert calls == ["one", "two"]
    assert ("error", 2) in events

    boom["fail"] = False
    # resumes at step two; step one NOT re-run
    assert p.run() == ["two", "three"]
    assert calls == ["one", "two", "two", "three"]
    assert ("ok", 3) in events

    p.reset_to_step(2)
    assert p.run() == ["two", "three"]  # steps 2-3 re-ran, step 1 didn't
    assert calls.count("one") == 1


def test_notifications_listener(tmp_path):
    import json as _json

    from db_migration_spark.plans.notifications import attachment, step_listener

    log = tmp_path / "notify.jsonl"
    listener = step_listener(log_path=str(log))
    steps = [Step("alpha", lambda: "ok")]
    p = Pipeline(steps, str(tmp_path / "m.json"))
    p.add_listener(listener)
    p.run()
    events = [_json.loads(ln) for ln in log.read_text().splitlines()]
    assert [e["fields"][1]["value"] for e in events] == ["start", "ok"]
    assert events[0]["title"] == "step 1: alpha"
    # the reference's short-field rule (notifications.py:117)
    a = attachment("t", "x", {"k": "v" * 121})
    assert a["fields"][0]["short"] is False


def test_stream_dedup_drops_redelivered_keys(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per fingerprint key
    across micro-batch redelivery."""
    import datetime

    from db_migration_spark.streaming.import_stream import stream_dedup

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "doc/fp", "AAA", t, True),
        (1, "doc/fp", "AAA", t, True),          # exact redelivery
        (2, "doc/fp", "BBB", t, True),
        (3, "doc/fp", "AAA", t, True),          # same fp, other entity
    ]
    spark.createDataFrame(rows, DATOM_DDL).write.parquet(src)
    deduped = stream_dedup(
        spark.readStream.schema(DATOM_DDL).parquet(src), ["a", "v"]
    )
    q = (
        deduped.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["v"] for r in spark.read.parquet(out).collect())
    assert got == ["AAA", "BBB"]  # one row per (a, v) fingerprint


def test_multibatch_sliding_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Incremental-state check: the stream processes the input across
    SEVERAL micro-batches (maxFilesPerTrigger over a multi-file source),
    so window state must merge correctly across triggers — a strictly
    stronger claim than the single-batch availableNow equality.  Sliding
    windows (1h/30min) double-assign every event."""
    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_multi"
    events.repartition(6).write.parquet(str(src))
    stream = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(str(src))
    )
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    rolled = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )
    q = (
        rolled.writeStream.format("memory")
        .queryName("sliding_multibatch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sliding_multibatch").collect()
    }
    batch = (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        )
        .select(F.col("win.start").alias("ws"), "event_type", "n", "s")
        .collect()
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["s"]) for r in batch}
    assert got == want


def test_streaming_ace_melt_matches_batch(spark, tmp_path):
    """The streaming block source + mapInPandas melt must emit exactly the
    batch parser's datoms (same dump dir, gzip, comments included) —
    including across a second incremental batch when a new dump file
    lands (the availableNow re-run picks up only the new file but the
    union of drained batches equals the batch parse of the whole dir)."""
    import gzip

    from db_migration_spark.sources.ace import (
        ace_records_to_datoms,
        parse_ace_blocks_df,
        parse_ace_dump,
        read_ace_blocks_stream,
    )

    dump = tmp_path / "dumps"
    dump.mkdir()
    with gzip.open(dump / "a.ace.gz", "wt") as fp:
        fp.write(
            'Gene : "g1"\nName "n1" -C "note one" -O "2020-01-01_00:00:00"\n'
            "\n"
            'Gene : "g2"\nName "n2"\nTag Sub "v2"\n'
        )
    ckpt = tmp_path / "ckpt"
    sink = tmp_path / "sink"

    def drain():
        q = (
            ace_records_to_datoms(
                parse_ace_blocks_df(read_ace_blocks_stream(spark, str(dump)))
            )
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(str(sink)).collect()
    assert len(first) == 3
    by_v = {r["v"]: r for r in first}
    assert by_v["n1"]["comment"] == "note one"
    assert by_v["n1"]["tx"] is not None

    # a second file lands; the checkpointed re-run processes ONLY it
    with gzip.open(dump / "b.ace.gz", "wt") as fp:
        fp.write('Gene : "g3"\nName "n3"\n')
    drain()
    after = spark.read.parquet(str(sink)).collect()
    assert len(after) == 4  # incremental: 1 new datom, no reprocessing

    batch = ace_records_to_datoms(parse_ace_dump(spark, str(dump))).collect()
    assert {(r["e"], r["a"], r["v"]) for r in after} == {
        (r["e"], r["a"], r["v"]) for r in batch
    }


# ---------------------------------------------------------------------------
# store-fixture protocol (queries_e2e: _build_once / _drain / _check_replay)
# ---------------------------------------------------------------------------


def test_drain_timeout_raises_and_stops_the_query(spark, tmp_path, monkeypatch):
    """A drain still running past the bound raises instead of returning
    a sink that holds a prefix of the input, and leaves no active query."""
    import time

    from db_migration_spark import queries_e2e as E

    src = tmp_path / "src"
    spark.range(4).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    def slow_sink(bdf, batch_id):
        time.sleep(4)

    monkeypatch.setattr(E, "_DRAIN_S", 1)
    with pytest.raises(RuntimeError, match="did not finish"):
        E._drain(
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(slow_sink)
            .option("checkpointLocation", str(tmp_path / "chk"))
        )
    assert spark.streams.active == []


def test_replay_without_txn_identity_is_refused_then_rebuilt(spark, tmp_path):
    """The exactly-once check is a raise, not an assert (``python -O``
    keeps it): a replay that commits removes the store, and the next
    build-once call rebuilds it instead of serving it."""
    import os

    from db_migration_spark import queries_e2e as E
    from db_migration_spark.plans.txlog import TxTable

    root = str(tmp_path / "store")
    rows = spark.range(5).withColumnRenamed("id", "k")
    builds = []

    def build(replay_txn):
        def run():
            builds.append(replay_txn)
            t = TxTable(root)
            t.commit_append(rows, txn=("app", 0))
            E._check_replay(
                root,
                t.latest_version,
                lambda: t.commit_append(rows, txn=replay_txn),
            )

        return run

    with pytest.raises(RuntimeError, match="txn dedup broke"):
        E._build_once(root, build(None))  # no identity: the replay commits
    assert not os.path.exists(root)

    E._build_once(root, build(("app", 0)))  # rebuilt, not served
    assert len(builds) == 2
    assert TxTable(root).latest_version() == 0
    E._build_once(root, build(("app", 0)))  # now built: served as is
    assert len(builds) == 2


def test_query_modules_use_the_one_fixture_protocol():
    """Outside the protocol helpers in queries_e2e.py, no query module
    writes its own build marker, drain or assert-based replay check —
    and no query-module function imports a query module (those imports
    sit at module top, so an import cycle fails at import time)."""
    import ast
    import glob
    import os
    import re

    import db_migration_spark

    pkg = os.path.dirname(db_migration_spark.__file__)
    helpers = {"_build_once", "_drain"}
    banned = re.compile(
        r'"_BUILD_DONE"|awaitTermination\(|trigger\(availableNow=True\)'
        r"|assert [^\n]*latest_version\(\)"
    )
    hits = []
    for path in sorted(glob.glob(os.path.join(pkg, "queries*.py"))):
        with open(path) as fh:
            lines = fh.read().split("\n")
        skip = set()
        if os.path.basename(path) == "queries_e2e.py":
            for node in ast.parse("\n".join(lines)).body:
                if isinstance(node, ast.FunctionDef) and node.name in helpers:
                    skip.update(range(node.lineno, node.end_lineno + 1))
            assert len(skip) > 0, "protocol helpers moved out of queries_e2e"
        hits += [
            f"{os.path.basename(path)}:{i}: {line.strip()}"
            for i, line in enumerate(lines, 1)
            if i not in skip and banned.search(line)
        ]
        for fn in ast.walk(ast.parse("\n".join(lines))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                    mods += [a.name for a in node.names]
                elif isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                else:
                    continue
                if any(m.split(".")[-1].startswith("queries") for m in mods):
                    hits.append(
                        f"{os.path.basename(path)}:{node.lineno}: "
                        f"function-local query-module import in {fn.name}"
                    )
    assert not hits, "\n".join(hits)
