"""Deterministic regressions for txlog replay/commit consistency holes
found by the round-4 review: checkpoint-seeded replays vs restore,
schema races between concurrent appends, merge-on-read DML under schema
evolution, version-consistency of older-version checkpoints, and the
txn cursor on provable no-op merges.

Reference contract: the reference's migration pipeline treats its
backup/restore surface (azanium/runcommand.py snapshot handling) as
exactly-replayable; these tests pin the equivalent invariant for the
self-built log format.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from db_migration_spark.plans.txlog import CommitConflict, TxTable


def _kv(spark, rows, schema="k long, v long"):
    return spark.createDataFrame(rows, schema)


def _state(spark, t, version=None):
    return {r.k: r.v for r in t.read(spark, version=version).collect()}


# ---------------------------------------------------------------------------
# fix 1: restore must re-assert the target's live DVs, so a replay
# seeded from a post-rewrite checkpoint cannot resurrect deleted rows
# ---------------------------------------------------------------------------


def test_restore_after_checkpoint_keeps_deletes(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10), (2, 20), (3, 30)]))  # v0
    t.delete_where(spark, F.col("k") == 2)                    # v1: DV live
    t.optimize(spark, target_groups=1)                        # v2: DV retires
    t.checkpoint()                                            # snapshot at v2
    v3 = t.restore(1)                                         # back to v1
    assert v3 == 3
    # the checkpoint-seeded replay of v3 must mask k=2 exactly like a
    # full replay from commit 0 would
    assert _state(spark, t) == {1: 10, 3: 30}
    assert _state(spark, t, version=3) == {1: 10, 3: 30}
    # and the restore itself stays time-travelable in both directions
    assert _state(spark, t, version=2) == {1: 10, 3: 30}
    assert _state(spark, t, version=0) == {1: 10, 2: 20, 3: 30}


def test_restore_dv_reassertion_survives_later_checkpoint(spark, tmp_path):
    """A checkpoint taken AFTER the restore must itself carry the
    re-asserted DVs forward (the checkpoint stores the already-replayed
    state, so this exercises the end-filter with restored groups)."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10), (2, 20)]))  # v0
    t.delete_where(spark, F.col("k") == 1)           # v1
    t.optimize(spark, target_groups=1)               # v2
    t.checkpoint()                                   # at v2 (DV filtered out)
    t.restore(1)                                     # v3
    t.checkpoint()                                   # at v3 (must keep DV)
    t.commit_append(_kv(spark, [(9, 90)]))           # v4 replays from cp v3
    assert _state(spark, t) == {2: 20, 9: 90}


# ---------------------------------------------------------------------------
# fix 2: an append losing a commit race to a concurrent evolve=True
# append must not clobber the evolved schema with its own narrower one
# ---------------------------------------------------------------------------


def test_append_conflict_preserves_concurrent_evolution(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.commit_append(_kv(spark, [(1, 10)]))  # v0: schema (k, v)

    state = {"raced": False}
    orig_publish = t._publish

    def racy_publish(version, commit):
        if not state["raced"] and commit.get("op") == "append":
            state["raced"] = True
            # a second writer wins THIS version with an evolved append
            TxTable(root).commit_append(
                _kv(spark, [(2, 20, 200)], "k long, v long, w long"),
                evolve=True,
            )
        return orig_publish(version, commit)

    monkeypatch.setattr(t, "_publish", racy_publish)
    t.commit_append(_kv(spark, [(3, 30)]))  # loses v1, retries at v2

    sch = t.read_schema(spark)
    assert [f.name for f in sch.fields] == ["k", "v", "w"], (
        "the losing append's commit clobbered the evolved column"
    )
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert got == {1: (10, None), 2: (20, 200), 3: (30, None)}


def test_append_conflict_with_concurrent_column_removal_fails(
    spark, tmp_path, monkeypatch
):
    """The symmetric race — an overwrite that DROPPED one of our columns
    — is a metadata conflict, not a silent re-widen (Delta's rule)."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.commit_append(_kv(spark, [(1, 10)]))

    state = {"raced": False}
    orig_publish = t._publish

    def racy_publish(version, commit):
        if not state["raced"] and commit.get("op") == "append":
            state["raced"] = True
            TxTable(root).commit_overwrite(
                spark.createDataFrame([(7,)], "k long")
            )
        return orig_publish(version, commit)

    monkeypatch.setattr(t, "_publish", racy_publish)
    with pytest.raises(CommitConflict, match="schema change"):
        t.commit_append(_kv(spark, [(3, 30)]))
    # the loser's data group must not leak into the live state
    assert {r.k for r in t.read(spark).collect()} == {7}


# ---------------------------------------------------------------------------
# fix 3: merge-on-read DML must see the log-owned (evolved) schema
# ---------------------------------------------------------------------------


def test_update_after_add_column_preserves_new_column(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10), (2, 20)]))
    t.commit_append(
        _kv(spark, [(3, 30, 300)], "k long, v long, w long"), evolve=True
    )
    t.update_where(spark, F.col("k") == 3, {"v": F.lit(31)})
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    # w=300 must survive the rewrite of row k=3
    assert got == {1: (10, None), 2: (20, None), 3: (31, 300)}
    # and updating a PRE-evolution row must emit w=NULL, not drop the col
    t.update_where(spark, F.col("k") == 1, {"v": F.lit(11)})
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert got == {1: (11, None), 2: (20, None), 3: (31, 300)}


def test_merge_after_add_column_accepts_full_width_source(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10), (2, 20)]))
    t.commit_append(
        _kv(spark, [(3, 30, 300)], "k long, v long, w long"), evolve=True
    )
    # source carries EVERY table column including the evolved one —
    # must not be rejected as 'extra' by a pre-evolution footer schema
    t.merge_into(
        spark,
        _kv(spark, [(2, 21, 210), (4, 40, 400)], "k long, v long, w long"),
        "k",
    )
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert got == {
        1: (10, None),
        2: (21, 210),
        3: (30, 300),
        4: (40, 400),
    }


def test_delete_after_add_column(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10), (2, 20)]))
    t.commit_append(
        _kv(spark, [(3, 30, 300)], "k long, v long, w long"), evolve=True
    )
    # predicate over the NEW column must resolve on pre-evolution files
    t.delete_where(spark, F.col("w") == 300)
    assert {r.k for r in t.read(spark).collect()} == {1, 2}


# ---------------------------------------------------------------------------
# fix 4: checkpoint(version=v) content is consistent AT v
# ---------------------------------------------------------------------------


def test_checkpoint_of_older_version_is_version_consistent(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10)]), txn=("app", 1))     # v0
    t.commit_append(_kv(spark, [(2, 20)]), txn=("app", 2))     # v1
    t.add_constraint(spark, "v_pos", "v > 0")                  # v2
    t.checkpoint(version=0)
    with open(
        os.path.join(t.log_dir, f"{0:020d}.checkpoint.json")
    ) as fh:
        snap = json.load(fh)
    assert snap["constraints"] == {}, "constraint from v2 leaked into cp@v0"
    assert snap["txns"] == {"app": {"1": 0}}, "txn from v1 leaked into cp@v0"
    assert snap["active"], "cp@v0 must carry v0's file state"
    # lookups at LATEST still see everything (the walk past the
    # checkpoint picks v1/v2 back up)
    assert t.txn_latest_batch("app") == 2
    assert set(t.constraints()) == {"v_pos"}
    assert _state(spark, t, version=0) == {1: 10}


# ---------------------------------------------------------------------------
# fix 5: a provable no-op merge carrying a txn identity still records it
# ---------------------------------------------------------------------------


def test_noop_merge_with_txn_advances_cursor(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10)]))
    before = t.latest_version()
    empty = spark.createDataFrame([], "k long, v long")
    v = t.merge_into(spark, empty, "k", txn=("feed", 7))
    assert v == before + 1, "no-op merge with txn must still commit"
    assert t.txn_latest_batch("feed") == 7
    assert t.txn_version("feed", 7) == v
    # replaying the same batch is idempotent on the recorded identity
    assert t.merge_into(spark, empty, "k", txn=("feed", 7)) == v
    assert _state(spark, t) == {1: 10}
    # a no-op merge WITHOUT a txn still commits nothing
    assert t.merge_into(spark, empty, "k") == v
    assert t.latest_version() == v


def test_noop_merge_txn_then_real_batch_orders_cursor(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10)]))
    empty = spark.createDataFrame([], "k long, v long")
    t.merge_into(spark, empty, "k", txn=("feed", 1))
    t.merge_into(spark, _kv(spark, [(2, 20)]), "k", txn=("feed", 2))
    assert t.txn_latest_batch("feed") == 2
    assert _state(spark, t) == {1: 10, 2: 20}


# ---------------------------------------------------------------------------
# round-5 advice: the ALTER / append-union schema derivations must be
# PINNED to the version the commit targets — a commit landing between
# the schema read and the publish is a CommitConflict that rebases,
# never a stale schema republished at the next free slot (TOCTOU)
# ---------------------------------------------------------------------------


def _race_on_read_schema(t, root, spark, once):
    """Monkeypatch helper: after the next read_schema, fire ``once``
    (a concurrent commit through a second handle) exactly one time."""
    state = {"raced": False}
    orig = t.read_schema

    def racy(sp, version=None):
        sch = orig(sp, version)
        if not state["raced"]:
            state["raced"] = True
            once()
        return sch

    return racy


def test_alter_rename_race_rebases_onto_evolved_schema(
    spark, tmp_path, monkeypatch
):
    """A concurrent evolve append lands BETWEEN the rename's schema read
    and its commit: the rename must conflict and rebase — with the
    pre-fix code it published its stale (w-less) schema at the next
    free slot and the evolved column silently vanished."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.commit_append(_kv(spark, [(1, 10)]))  # v0: (k, v)

    def concurrent_evolve():
        TxTable(root).commit_append(
            _kv(spark, [(2, 20, 200)], "k long, v long, w long"),
            evolve=True,
        )

    monkeypatch.setattr(
        t, "read_schema", _race_on_read_schema(t, root, spark,
                                               concurrent_evolve)
    )
    t.alter_rename_column(spark, "v", "v2")
    names = [f.name for f in t.read_schema(spark).fields]
    assert names == ["k", "v2", "w"], (
        "rename raced past a concurrent evolve and clobbered column w"
    )
    got = {r.k: (r.v2, r.w) for r in t.read(spark).collect()}
    assert got == {1: (10, None), 2: (20, 200)}


def test_alter_drop_race_rebases_onto_evolved_schema(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.commit_append(_kv(spark, [(1, 10)]))  # v0: (k, v)

    def concurrent_evolve():
        TxTable(root).commit_append(
            _kv(spark, [(2, 20, 200)], "k long, v long, w long"),
            evolve=True,
        )

    monkeypatch.setattr(
        t, "read_schema", _race_on_read_schema(t, root, spark,
                                               concurrent_evolve)
    )
    t.alter_drop_column(spark, "v")
    names = [f.name for f in t.read_schema(spark).fields]
    assert names == ["k", "w"], (
        "drop raced past a concurrent evolve and clobbered column w"
    )


def test_append_union_schema_derivation_race(spark, tmp_path, monkeypatch):
    """The same TOCTOU inside the append attempt: a concurrent
    evolve lands AFTER the union-schema re-read but BEFORE the publish.
    The append must conflict at read_v+1 and re-derive the union on
    retry, not publish the stale (narrower) schema at a later slot."""
    root = str(tmp_path / "t")
    t = TxTable(root)
    t.commit_append(_kv(spark, [(1, 10)]))  # v0: (k, v)

    state = {"raced": False}
    orig = t.read_schema

    def racy(sp, version=None):
        sch = orig(sp, version)
        # the append's schema reads are pinned (an integer version);
        # the test's own reads pass None
        if version is not None and not state["raced"]:
            state["raced"] = True
            TxTable(root).commit_append(
                _kv(spark, [(2, 20, 200)], "k long, v long, w long"),
                evolve=True,
            )
        return sch

    monkeypatch.setattr(t, "read_schema", racy)
    t.commit_append(_kv(spark, [(3, 30)]))
    names = [f.name for f in t.read_schema(spark).fields]
    assert names == ["k", "v", "w"], (
        "append union-schema raced past a concurrent evolve"
    )
    got = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert got == {1: (10, None), 2: (20, 200), 3: (30, None)}


# ---------------------------------------------------------------------------
# round-5 advice: '__rows' is a reserved stats key; a physical column
# with that name must be rejected at write time, not silently lose its
# zone map
# ---------------------------------------------------------------------------


def test_rows_column_name_reserved(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    bad = spark.createDataFrame([(1, 2)], "k long, __rows long")
    with pytest.raises(ValueError, match="__rows.*reserved"):
        t.commit_append(bad)
    with pytest.raises(ValueError, match="__rows.*reserved"):
        t.commit_append_partitioned(bad, "k")
    assert t.latest_version() == -1  # nothing committed, nothing staged
    assert os.listdir(t.data_dir) == []


# ---------------------------------------------------------------------------
# round-5 advice: a failed staged partitionBy write or promotion must
# not leak the '.part-<uuid>' staging dir (vacuum only collects g-/dv-)
# ---------------------------------------------------------------------------


def test_partitioned_staging_cleaned_on_failure(
    spark, tmp_path, monkeypatch
):
    import db_migration_spark.plans.txlog as TX

    t = TxTable(str(tmp_path / "t"))

    def boom(path):
        raise RuntimeError("stats harvest failed")

    monkeypatch.setattr(TX, "_footer_stats", boom)
    with pytest.raises(RuntimeError, match="stats harvest"):
        t.commit_append_partitioned(
            _kv(spark, [(1, 10), (2, 20)]), "k"
        )
    leftovers = [
        d for d in os.listdir(t.data_dir)
        if d.startswith(".part-") or d.startswith("g-")
    ]
    assert leftovers == [], f"staging/group leak: {leftovers}"
    assert t.latest_version() == -1


# ---------------------------------------------------------------------------
# round-5 advice: --where bounds coerce to the COLUMN's schema type —
# a numeric-looking STRING partition value must stay a string
# ---------------------------------------------------------------------------


def test_cli_where_bound_coercion(spark, tmp_path):
    from pyspark.sql.types import StructType

    from db_migration_spark.cli import _coerce_where_bound

    sch = spark.createDataFrame(
        [("00501", 1, 1.5, True)],
        "zip string, n long, x double, b boolean",
    ).schema
    assert _coerce_where_bound(sch, "zip", "00501") == "00501"
    assert _coerce_where_bound(sch, "n", "42") == 42
    assert _coerce_where_bound(sch, "x", "1.5") == 1.5
    assert _coerce_where_bound(sch, "b", "true") == "true"
    # unknown column / pre-schema log: legacy best-effort
    assert _coerce_where_bound(None, "m", "7") == 7
    assert _coerce_where_bound(StructType([]), "m", "a") == "a"
    # and the coerced string bound actually prunes: build a table whose
    # partition values are zero-padded strings and check OPTIMIZE WHERE
    # touches only the slice
    t = TxTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("00501", i) for i in range(4)] + [("00777", i) for i in range(4)],
        "zip string, v long",
    )
    t.commit_append_partitioned(df.repartition(4), "zip")
    before = set(t.active_groups())
    bound = _coerce_where_bound(t.read_schema(spark), "zip", "00501")
    assert bound == "00501"
    t.optimize(spark, where=("zip", bound, bound))
    after = set(t.active_groups())
    # the 00777 groups survive untouched; the 00501 slice compacted
    survivors = before & after
    assert survivors, "OPTIMIZE WHERE rewrote the whole table"
    got = {(r.zip, r.v) for r in t.read(spark).collect()}
    assert got == {(z, i) for z in ("00501", "00777") for i in range(4)}


def test_vacuum_collects_orphaned_staging_dirs(spark, tmp_path):
    """An aged '.part-*' dir (writer process died mid-partitioned-write)
    is orphan bytes no commit references — vacuum collects it; young
    ones are left alone (may be an in-flight writer)."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10)]))
    orphan = os.path.join(t.data_dir, ".part-deadbeef")
    os.makedirs(orphan)
    assert t.vacuum(min_age_seconds=3600) == []      # too young: kept
    assert os.path.isdir(orphan)
    assert t.vacuum(min_age_seconds=0.0) == [".part-deadbeef"]
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == 1


def test_vacuum_collects_aged_optimize_staging_dir(spark, tmp_path):
    """An aged '.opt-*' dir (an older writer's clustered OPTIMIZE died
    mid-write) is collected like a '.part-*' one."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10)]))
    os.makedirs(os.path.join(t.data_dir, ".opt-deadbeef"))
    assert t.vacuum(min_age_seconds=0.0) == [".opt-deadbeef"]
    assert t.read(spark).count() == 1


def test_clustered_optimize_failure_leaves_no_staging(
    spark, tmp_path, monkeypatch
):
    """A clustered OPTIMIZE whose group promotion fails part-way must
    remove its staging dir AND the groups it already promoted."""
    import db_migration_spark.plans.txlog as TX

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(k, k) for k in range(30)]).repartition(3))
    orig = TX._footer_stats
    calls = {"n": 0}

    def fail_second(path):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("stats harvest failed")
        return orig(path)

    monkeypatch.setattr(TX, "_footer_stats", fail_second)
    with pytest.raises(RuntimeError, match="stats harvest"):
        t.optimize(spark, sort_key=["k"], target_groups=3)
    live = set(t.active_groups())
    leftovers = [
        d for d in os.listdir(t.data_dir)
        if d.startswith((".opt-", ".part-"))
        or (d.startswith("g-") and d not in live)
    ]
    assert leftovers == [], f"staging/group leak: {leftovers}"
    assert t.latest_version() == 0


def test_older_format_checkpoint_reads_like_full_replay(spark, tmp_path):
    """A checkpoint written without the 'schema'/'constraints'/'txns'
    keys (the older format) must give every log-derived lookup the
    answer a full replay from commit 0 gives."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_kv(spark, [(1, 10), (2, 20)]), txn=("app", 1))  # v0
    t.add_constraint(spark, "v_pos", "v > 0")                         # v1
    t.commit_append(                                                  # v2
        _kv(spark, [(3, 30, 300)], "k long, v long, w long"),
        evolve=True, txn=("app", 2),
    )
    t.delete_where(spark, F.col("k") == 1)                            # v3
    t.alter_rename_column(spark, "w", "w2")                           # v4
    t.commit_append(_kv(spark, [(4, 40, 400)], "k long, v long, w2 long"))

    def lookups():
        return (
            t.active_groups(),
            t.read_schema(spark).json(),
            t.constraints(),
            t.txn_version("app", 1),
            t.txn_version("app", 2),
            t.txn_latest_batch("app"),
            sorted(tuple(r) for r in t.read(spark).collect()),
        )

    full = lookups()
    t.checkpoint(version=3)
    cp = os.path.join(t.log_dir, f"{3:020d}.checkpoint.json")
    with open(cp) as fh:
        snap = json.load(fh)
    older = {k: snap[k] for k in ("version", "active", "stats", "dvs")}
    os.remove(cp)
    with open(cp, "w") as fh:
        json.dump(older, fh)
    assert lookups() == full
    assert full[2] == {"v_pos": "v > 0"} and full[5] == 2
    assert full[6] == [(2, 20, None), (3, 30, 300), (4, 40, 400)]


def test_commit_overwrite_txn_idempotent(spark, tmp_path):
    """commit_overwrite with a txn identity is exactly-once: a replayed
    batch (same app+batch) is a no-op returning the original version —
    the streaming materialized-view sink contract."""
    t = TxTable(str(tmp_path / "t"))
    v1 = t.commit_overwrite(_kv(spark, [(1, 10), (2, 20)]), txn=("mv", 0))
    assert t.commit_overwrite(_kv(spark, [(9, 99)]), txn=("mv", 0)) == v1
    assert _state(spark, t) == {1: 10, 2: 20}  # replay did not clobber
    v2 = t.commit_overwrite(_kv(spark, [(3, 30)]), txn=("mv", 1))
    assert v2 == v1 + 1
    assert _state(spark, t) == {3: 30}
    # staged group from the replayed call must not linger as an orphan
    orphans = t.vacuum(min_age_seconds=0.0)
    assert _state(spark, t) == {3: 30}
