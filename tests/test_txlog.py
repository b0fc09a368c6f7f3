"""ACID commit-protocol tests for the transaction-log table format
(plans/txlog.py): atomic visibility, optimistic-concurrency appends from
racing threads, serializable merge retry, time travel, and invisibility of
uncommitted data."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from db_migration_spark.plans.txlog import CommitConflict, TxTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_append_read_roundtrip(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    assert t.latest_version() == -1
    v0 = t.commit_append(_df(spark, 0, 10))
    v1 = t.commit_append(_df(spark, 10, 15))
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 15
    assert t.read(spark, version=0).count() == 10  # time travel


def test_overwrite_is_atomic_and_time_travels(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.commit_overwrite(_df(spark, 100, 103))
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == [100, 101, 102]
    # the pre-overwrite snapshot is still fully readable
    assert t.read(spark, version=0).count() == 10
    ops = [c["op"] for c in t.history()]
    assert ops == ["append", "overwrite"]


def test_concurrent_appends_lose_nothing(spark, tmp_path):
    """8 threads race blind appends; the hard-link publish means every
    version is owned by exactly one writer and no append is lost."""
    t = TxTable(str(tmp_path / "t"))
    errs = []

    def worker(i):
        try:
            t.commit_append(_df(spark, i * 100, i * 100 + 10))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert t.latest_version() == 7  # contiguous versions, one per writer
    assert t.read(spark).count() == 80  # no lost updates
    ks = sorted(r.k for r in t.read(spark).select("k").collect())
    assert ks == sorted(i * 100 + j for i in range(8) for j in range(10))


def test_merge_retries_on_interleaved_commit(spark, tmp_path):
    """A commit landing between a merge's read and publish must force the
    merge to re-run its transform on the ADVANCED snapshot (serializable
    outcome), not publish a result computed from stale state."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))
    calls = {"n": 0}

    def transform(cur):
        calls["n"] += 1
        if calls["n"] == 1:
            # simulate a concurrent writer winning the race mid-merge
            t.commit_append(_df(spark, 1000, 1005))
        return cur.withColumn("v", F.col("v") + 1)

    t.merge(spark, transform)
    assert calls["n"] == 2, "stale merge must have been retried"
    out = t.read(spark)
    assert out.count() == 10  # both the interleaved rows and the base
    # the merge's +1 applied to the INTERLEAVED rows too (it re-read)
    assert (
        out.filter(F.col("k") == 1000).select("v").collect()[0][0] == 2001
    )


def test_uncommitted_group_is_invisible(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))
    # an aborted writer: data group written, log never published
    t._write_groups(_df(spark, 500, 600), [])
    assert t.read(spark).count() == 5
    assert t.latest_version() == 0


def test_publish_is_exactly_once(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))
    with pytest.raises(CommitConflict):
        t._publish(0, {"version": 0, "op": "append", "add": [], "remove": []})


# ---------------------------------------------------------------------------
# round-4 surface: zone maps, exactly-once txn appends, optimize,
# checkpoints, vacuum
# ---------------------------------------------------------------------------


def test_zonemap_stats_recorded_and_prune(spark, tmp_path):
    """Each append records footer min/max; a point-range plan keeps only
    the groups whose zone map intersects, and the pruned read returns
    exactly the full-scan-plus-filter answer."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(8):
        t.commit_append(_df(spark, i * 100, i * 100 + 100))
    picked, total = t.prune_groups("k", lo=250, hi=349)
    assert total == 8
    assert len(picked) == 2  # [200,300) and [300,400) only
    got = sorted(r.k for r in t.read_pruned(spark, "k", 250, 349).collect())
    assert got == list(range(250, 350))


def test_zonemap_prune_is_never_a_filter(spark, tmp_path, monkeypatch):
    """Groups without stats for the column always survive planning."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    # forge a commit whose stats are missing (old-format commit)
    orig = t._publish

    def stats_less(version, commit):
        commit.pop("stats", None)
        return orig(version, commit)

    monkeypatch.setattr(t, "_publish", stats_less)
    t.commit_append(_df(spark, 1000, 1010))
    monkeypatch.undo()
    assert "stats" not in t.history()[-1]
    picked, total = t.prune_groups("k", lo=5000, hi=6000)
    assert total == 2 and len(picked) == 1  # stats-less group kept
    assert t.read_pruned(spark, "k", 0, 2000).count() == 20


def test_zonemap_empty_survivor_set(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    out = t.read_pruned(spark, "k", 100, 200)
    assert out.count() == 0
    assert out.columns == ["k", "v"]  # schema preserved


def test_txn_append_is_idempotent(spark, tmp_path):
    """A replayed (app, batch) identity writes nothing the second time —
    the exactly-once contract for streaming sinks."""
    t = TxTable(str(tmp_path / "t"))
    v0 = t.commit_append(_df(spark, 0, 10), txn=("sink-a", 0))
    v_dup = t.commit_append(_df(spark, 0, 10), txn=("sink-a", 0))
    assert v0 == v_dup
    assert t.read(spark).count() == 10  # not doubled
    v1 = t.commit_append(_df(spark, 10, 20), txn=("sink-a", 1))
    assert v1 == v0 + 1
    # a DIFFERENT app replaying batch 0 is its own transaction
    t.commit_append(_df(spark, 100, 105), txn=("sink-b", 0))
    assert t.read(spark).count() == 25
    assert t.txn_version("sink-a", 0) == v0
    assert t.txn_version("sink-a", 99) is None


def test_patch_merge_retracts_and_replays_as_noop(spark, tmp_path):
    """X4 on the versioned store: a patch batch MERGEd through
    ``upsert_patches`` under a txn identity resolves last-write-wins —
    a later value replaces the old one and a late retraction removes
    the datom — and replaying the same batch commits nothing."""
    import datetime

    from db_migration_spark.operators.eav import DATOM_DDL, upsert_patches

    ts = datetime.datetime
    t = TxTable(str(tmp_path / "store"))
    t.commit_append(
        spark.createDataFrame(
            [
                (1, "name", "old", ts(2020, 1, 1), True),
                (2, "name", "keep", ts(2020, 1, 1), True),
            ],
            DATOM_DDL,
        )
    )
    patches = spark.createDataFrame(
        [
            (1, "name", "new", ts(2020, 2, 1), True),
            (2, "name", "keep", ts(2020, 2, 1), False),  # late retraction
        ],
        DATOM_DDL,
    )
    v = t.merge(spark, upsert_patches(patches), txn=("late_patch", 0))
    rows = {(r["e"], r["a"]): r["v"] for r in t.read(spark).collect()}
    assert rows == {(1, "name"): "new"}  # e=2 retracted by the patch
    # a redelivered batch: its txn identity is already committed
    assert t.merge(spark, upsert_patches(patches), txn=("late_patch", 0)) == v
    assert t.latest_version() == v


def test_optimize_preserves_content_and_compacts(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    for i in range(6):
        t.commit_append(_df(spark, i * 10, i * 10 + 10))
    before = sorted((r.k, r.v) for r in t.read(spark).collect())
    pre_v = t.latest_version()
    t.optimize(spark, sort_key=[F.col("k")])
    after = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert before == after  # logical no-op
    assert len(t.active_groups()) == 1  # compacted
    assert len(t.active_groups(pre_v)) == 6  # old layout time-travels
    # the compacted group's zone map covers the whole domain
    picked, total = t.prune_groups("k", lo=0, hi=59)
    assert (len(picked), total) == (1, 1)


def test_checkpoint_replay_equivalence(spark, tmp_path):
    """Replay-from-checkpoint must equal full replay, for states both at
    and after the checkpointed version."""
    t = TxTable(str(tmp_path / "t"))
    for i in range(5):
        t.commit_append(_df(spark, i * 10, i * 10 + 10))
    t.commit_overwrite(_df(spark, 500, 510))
    full_active = t.active_groups()
    full_stats = t._replay(t.latest_version())[1]
    cp_v = t.checkpoint()
    assert cp_v == t.latest_version()
    # post-checkpoint commits replay on top of the checkpoint
    t.commit_append(_df(spark, 900, 905))
    active2, stats2, _dvs2 = t._replay(t.latest_version())
    assert active2[: len(full_active)] == full_active
    assert all(stats2[g] == full_stats[g] for g in full_active)
    assert t.read(spark).count() == 15
    # time travel BEFORE the checkpoint still replays from commit 0
    assert t.read(spark, version=2).count() == 30


def test_vacuum_retention(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))        # v0
    t.commit_overwrite(_df(spark, 100, 110))  # v1: v0's group inactive
    t.commit_append(_df(spark, 200, 205))     # v2
    deleted = t.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert len(deleted) == 1  # only the group dead since v1
    # everything inside the horizon still reads
    assert t.read(spark).count() == 15
    assert t.read(spark, version=1).count() == 10
    # beyond the horizon the bytes are gone → the scan fails loudly
    with pytest.raises(Exception):
        t.read(spark, version=0).collect()
    # an in-flight (young, uncommitted) group is never vacuumed
    t._write_groups(_df(spark, 900, 910), [])
    assert t.vacuum(retain_versions=0, min_age_seconds=3600) == []


# -- deletion vectors ---------------------------------------------------------


def test_delete_where_no_rewrite(spark, tmp_path):
    """DELETE commits a positional deletion vector; no data file is
    rewritten (the original groups stay byte-identical on disk) yet every
    reader sees the rows gone, and time travel before the delete still
    sees them."""
    import os

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 100))   # v0
    t.commit_append(_df(spark, 100, 150))  # v1
    data_groups = sorted(
        g for g in os.listdir(t.data_dir) if g.startswith("g-")
    )
    mtimes = {
        g: os.path.getmtime(os.path.join(t.data_dir, g)) for g in data_groups
    }
    v = t.delete_where(spark, F.col("k") % 10 == 0)  # 15 rows
    assert v == 2
    assert t.read(spark).count() == 135
    assert t.read(spark).filter(F.col("k") % 10 == 0).count() == 0
    # no data group was touched — delete cost is O(rows deleted)
    after = {
        g: os.path.getmtime(os.path.join(t.data_dir, g)) for g in data_groups
    }
    assert after == mtimes
    # time travel to the pre-delete snapshot still sees every row
    assert t.read(spark, version=1).count() == 150
    assert t.history()[-1]["op"] == "delete"


def test_delete_where_nothing_matched_commits_nothing(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    v = t.delete_where(spark, F.col("k") > 999)
    assert v == 0  # the read version — no new commit
    assert t.latest_version() == 0
    assert t.read(spark).count() == 10


def test_delete_twice_positions_never_duplicate(spark, tmp_path):
    """A second delete whose predicate overlaps already-deleted rows
    writes only the NEW positions; re-deleting exactly the same rows is
    a no-op (no commit)."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))
    t.delete_where(spark, F.col("k") < 5)
    assert t.read(spark).count() == 15
    # same predicate again: every match is already DV'd → no commit
    v = t.delete_where(spark, F.col("k") < 5)
    assert v == t.latest_version() == 1
    # overlapping wider predicate: only k in [5,10) adds positions
    t.delete_where(spark, F.col("k") < 10)
    assert t.read(spark).count() == 10
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(10, 20))


def test_rewrite_reads_through_dv_and_retires_it(spark, tmp_path):
    """optimize/merge read THROUGH live DVs, so rewritten files carry no
    deleted rows and the replayed state drops the DV (covered groups all
    removed)."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 50))
    t.delete_where(spark, F.col("k") >= 40)
    assert t._replay(t.latest_version())[2] != []
    t.optimize(spark, target_groups=1)
    # deleted rows stay gone, and no DV is live any more
    assert t.read(spark).count() == 40
    assert t._replay(t.latest_version())[2] == []
    # the pre-optimize DV'd snapshot still time-travels correctly
    assert t.read(spark, version=1).count() == 40
    assert t.read(spark, version=0).count() == 50


def test_delete_cdf_emits_row_level_deletes(spark, tmp_path):
    """The change feed surfaces a DV commit as the DELETED rows tagged
    _change_op='delete' — row-level CDF without any file rewrite."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))          # v0
    t.delete_where(spark, F.col("k").isin(3, 7))  # v1
    ch = t.read_changes(spark, from_version=0)
    rows = sorted(
        (r.k, r._change_op, r._commit_version) for r in ch.collect()
    )
    assert rows == [(3, "delete", 1), (7, "delete", 1)]


def test_pruned_read_applies_dv(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 100))
    t.commit_append(_df(spark, 100, 200))
    t.delete_where(spark, F.col("k") == 150)
    got = t.read_pruned(spark, "k", lo=140, hi=160)
    assert sorted(r.k for r in got.collect()) == [
        k for k in range(140, 161) if k != 150
    ]


def test_checkpoint_carries_dvs(spark, tmp_path):
    """A checkpoint taken after a delete must persist the live DV list —
    replay-from-checkpoint still subtracts the deleted rows."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 30))
    t.delete_where(spark, F.col("k") < 10)
    t.checkpoint()
    t.commit_append(_df(spark, 100, 105))  # replay starts AT the checkpoint
    assert t.read(spark).count() == 25
    assert len(t._replay(t.latest_version())[2]) == 1


def test_vacuum_keeps_live_dv_groups(spark, tmp_path):
    """vacuum must treat a live DV group as referenced (deleting it would
    resurrect rows); a RETIRED DV (all covered groups rewritten) outside
    the horizon is collectable."""
    import os

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 50))        # v0
    t.delete_where(spark, F.col("k") < 5)     # v1 — DV live
    deleted = t.vacuum(retain_versions=0, min_age_seconds=0.0)
    assert deleted == []
    assert t.read(spark).count() == 45
    t.optimize(spark, target_groups=1)        # v2 — DV retires
    deleted = t.vacuum(retain_versions=0, min_age_seconds=0.0)
    assert any(g.startswith("dv-") for g in deleted)
    assert t.read(spark).count() == 45
    assert not any(
        g.startswith("dv-") for g in os.listdir(t.data_dir)
    )


# -- merge-on-read UPDATE / MERGE INTO ---------------------------------------


def test_update_where_merge_on_read(spark, tmp_path):
    """UPDATE = one atomic commit of DV + delta group: values change,
    untouched rows carry through, no data file is rewritten, and the
    pre-update snapshot time-travels."""
    import os

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 50))
    pre_groups = set(
        g for g in os.listdir(t.data_dir) if g.startswith("g-")
    )
    v = t.update_where(
        spark, F.col("k") % 10 == 0, {"v": F.col("v") + 1000}
    )
    assert v == 1
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 50  # no row lost or duplicated
    for k in range(50):
        assert got[k] == k * 2 + (1000 if k % 10 == 0 else 0)
    # the original data group was not rewritten — only a DV + delta added
    assert pre_groups <= set(os.listdir(t.data_dir))
    assert t.history()[-1]["op"] == "update"
    # old values still time-travel
    pre = {r.k: r.v for r in t.read(spark, version=0).collect()}
    assert pre[0] == 0 and pre[10] == 20


def test_update_where_validates_columns_and_noop(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    with pytest.raises(ValueError):
        t.update_where(spark, F.col("k") >= 0, {"nope": F.lit(1)})
    v = t.update_where(spark, F.col("k") > 999, {"v": F.lit(0)})
    assert v == 0 and t.latest_version() == 0  # nothing matched → no commit


def test_update_is_atomic_in_cdf(spark, tmp_path):
    """The change feed shows an update commit as delete(pre-image) +
    update(post-image) rows under ONE commit version."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.update_where(spark, F.col("k") == 3, {"v": F.lit(-1)})
    ch = t.read_changes(spark, from_version=0)
    rows = sorted((r._change_op, r.k, r.v) for r in ch.collect())
    assert rows == [("delete", 3, 6), ("update", 3, -1)]
    assert {r._commit_version for r in ch.collect()} == {1}


def test_merge_into_upsert(spark, tmp_path):
    """MERGE = upsert: matched keys take the source version, unmatched
    source rows insert, untouched target rows carry through — and the
    untouched data files are not rewritten."""
    import os

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))   # k 0..9, v = 2k
    pre_groups = set(
        g for g in os.listdir(t.data_dir) if g.startswith("g-")
    )
    src = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit(999).alias("v")
    )
    v = t.merge_into(spark, src, "k")
    assert v == 1
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 15
    for k in range(5):
        assert got[k] == k * 2       # untouched
    for k in range(5, 15):
        assert got[k] == 999         # updated (5..9) + inserted (10..14)
    assert pre_groups <= set(os.listdir(t.data_dir))
    assert t.history()[-1]["op"] == "merge_into"
    assert t.read(spark, version=0).count() == 10  # time travel


def test_merge_into_no_insert_and_duplicate_source(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    src = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit(999).alias("v")
    )
    t.merge_into(spark, src, "k", insert=False)
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 10  # no inserts
    assert got[7] == 999 and got[2] == 4
    # duplicate source keys must be rejected, not silently doubled
    dup = src.unionAll(src.filter(F.col("k") == 6))
    with pytest.raises(ValueError, match="not unique"):
        t.merge_into(spark, dup, "k")


def test_merge_into_chains_with_delete_and_optimize(spark, tmp_path):
    """Interleaved DML: delete → merge → update → optimize keeps exact
    content; optimize retires every DV."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))
    t.delete_where(spark, F.col("k") < 3)                      # 17 left
    src = spark.range(18, 25).select(
        F.col("id").alias("k"), F.lit(0).alias("v")
    )
    t.merge_into(spark, src, "k")                              # 22 rows
    t.update_where(spark, F.col("k") == 5, {"v": F.lit(50)})
    expect = {k: (0 if 18 <= k else 50 if k == 5 else k * 2)
              for k in range(3, 25)}
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == expect
    t.optimize(spark, target_groups=1)
    assert {r.k: r.v for r in t.read(spark).collect()} == expect
    assert t._replay(t.latest_version())[2] == []  # all DVs retired


def test_dv_precise_covers_limits_cdf_scan(spark, tmp_path):
    """The DV records only the data groups that actually hold masked
    positions — a delete touching one group must not list the other."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))     # group A: k 0..9
    t.commit_append(_df(spark, 100, 110))  # group B: k 100..109
    t.delete_where(spark, F.col("k") == 5)
    dvs = t._replay(t.latest_version())[2]
    assert len(dvs) == 1 and len(dvs[0]["covers"]) == 1


# -- TIMESTAMP AS OF + CHECK constraints -------------------------------------


def test_version_at_timestamp(spark, tmp_path):
    import json
    import os

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))    # v0
    t.commit_append(_df(spark, 5, 10))   # v1
    # pin distinct commit times (the publish is sub-second in tests)
    for v, ts in ((0, 1000.0), (1, 2000.0)):
        p = os.path.join(t.log_dir, f"{v:020d}.json")
        c = json.load(open(p))
        c["committed_ts"] = ts
        json.dump(c, open(p, "w"))
    assert t.version_at_timestamp(1500.0) == 0
    assert t.version_at_timestamp(2000.0) == 1
    assert t.read(spark, t.version_at_timestamp(1500.0)).count() == 5
    with pytest.raises(ValueError, match="no commit"):
        t.version_at_timestamp(10.0)
    # legacy commits without committed_ts fall back to the ISO string
    c = json.load(open(p))
    del c["committed_ts"]
    c["committed_at"] = "2020-06-01T00:00:00Z"
    json.dump(c, open(p, "w"))
    assert t.version_at_timestamp("2020-06-01T00:00:00Z") == 1


def test_check_constraint_blocks_bad_writes(spark, tmp_path):
    from db_migration_spark.plans.txlog import ConstraintViolation

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    assert t.constraints() == {"v_nonneg": "v >= 0"}
    bad = spark.range(1).select(
        F.lit(99).alias("k"), F.lit(-5).alias("v")
    )
    before = t.latest_version()
    with pytest.raises(ConstraintViolation):
        t.commit_append(bad)
    assert t.latest_version() == before  # nothing committed
    assert t.read(spark).count() == 10
    # a valid append still works; the violating UPDATE is blocked too
    t.commit_append(_df(spark, 10, 12))
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, F.col("k") == 1, {"v": F.lit(-1)})
    with pytest.raises(ConstraintViolation):
        t.merge_into(
            spark,
            spark.range(1).select(
                F.lit(1).alias("k"), F.lit(-7).alias("v")
            ),
            "k",
        )
    # dropping the constraint re-opens the gate
    t.drop_constraint("v_nonneg")
    t.commit_append(bad)
    assert t.read(spark).filter(F.col("v") < 0).count() == 1


def test_read_changes_across_apply_cdc_equals_snapshot_diff(spark, tmp_path):
    """The change feed across an apply_cdc MERGE-triad commit must
    equal the full diff of the two snapshots: an update surfaces as
    one delete (old row) + one insert (new row), a delete as one
    delete, an insert as one insert — assembled from commit metadata
    (delta group + DV positions), never by diffing snapshots."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))  # v0: keys 0..9
    changes = spark.createDataFrame(
        [(1, 0, "delete"), (2, 222, "upsert"), (50, 500, "upsert")],
        ["k", "v", "op"],
    )
    t.apply_cdc(spark, changes, "k")  # v1
    v0 = t.read(spark, 0).select("k", "v")
    v1 = t.read(spark, 1).select("k", "v")
    feed = t.read_changes(spark, from_version=0, to_version=1)
    plus = feed.filter(F.col("_change_op") != "delete").select("k", "v")
    minus = feed.filter(F.col("_change_op") == "delete").select("k", "v")
    want_plus = v1.exceptAll(v0)
    want_minus = v0.exceptAll(v1)
    assert plus.exceptAll(want_plus).count() == 0
    assert want_plus.exceptAll(plus).count() == 0
    assert minus.exceptAll(want_minus).count() == 0
    assert want_minus.exceptAll(minus).count() == 0
    # shape: key 1 deleted (1 minus), key 2 updated (1 minus + 1 plus),
    # key 50 inserted (1 plus)
    assert plus.count() == 2 and minus.count() == 2


def test_constraint_violation_leaves_no_orphan_dirs(spark, tmp_path):
    """A merge-on-read writer (apply_cdc / merge_into / update_where /
    replace_where) that trips a CHECK constraint must raise BEFORE any
    on-disk write:
    no uncommitted DV or delta group directories may be left behind in
    data_dir."""
    import os

    from db_migration_spark.plans.txlog import ConstraintViolation

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.add_constraint(spark, "v_nonneg", "v >= 0")

    def dirs():
        return sorted(
            d for d in os.listdir(t.data_dir)
            if os.path.isdir(os.path.join(t.data_dir, d))
        )

    before = dirs()
    bad_cdc = spark.range(1).select(
        F.lit(1).alias("k"), F.lit(-3).alias("v"),
        F.lit("upsert").alias("op"),
    )
    with pytest.raises(ConstraintViolation):
        t.apply_cdc(spark, bad_cdc, "k")
    assert dirs() == before
    with pytest.raises(ConstraintViolation):
        t.merge_into(
            spark,
            spark.range(1).select(
                F.lit(1).alias("k"), F.lit(-7).alias("v")
            ),
            "k",
        )
    assert dirs() == before
    with pytest.raises(ConstraintViolation):
        t.update_where(spark, F.col("k") == 1, {"v": F.lit(-1)})
    assert dirs() == before
    with pytest.raises(ConstraintViolation):
        t.replace_where(
            spark,
            F.col("k") == 1,
            spark.range(1).select(
                F.lit(1).alias("k"), F.lit(-5).alias("v")
            ),
        )
    assert dirs() == before
    assert t.read(spark).count() == 10


# every writer on the one optimistic-commit core, each applied to
# _df(0, 10) after its optional setup: (setup, run, the end state it
# must leave — see _end_state)
_BASE = {k: 2 * k for k in range(10)}


def _want(kv, columns=("k", "v"), constraints=None):
    return list(columns), {k: (v,) for k, v in kv.items()}, constraints or {}


def _end_state(spark, t):
    """(columns, {first column: rest of the row}, live constraints)."""
    df = t.read(spark)
    rows = {r[0]: tuple(r[1:]) for r in df.collect()}
    return df.columns, rows, t.constraints()


_CORE_VERBS = {
    "delete_where": (
        None,
        lambda spark, t, **kw: t.delete_where(spark, F.col("k") == 1, **kw),
        _want({k: 2 * k for k in range(10) if k != 1}),
    ),
    "update_where": (
        None,
        lambda spark, t, **kw: t.update_where(
            spark, F.col("k") == 1, {"v": F.lit(100)}, **kw
        ),
        _want({**_BASE, 1: 100}),
    ),
    "merge_into": (
        None,
        lambda spark, t, **kw: t.merge_into(
            spark, _df(spark, 5, 15), "k", **kw
        ),
        _want({k: 2 * k for k in range(15)}),
    ),
    "apply_cdc": (
        None,
        lambda spark, t, **kw: t.apply_cdc(
            spark,
            spark.createDataFrame(
                [(1, 0, "delete"), (50, 500, "upsert")],
                "k long, v long, op string",
            ),
            "k",
            **kw,
        ),
        _want({**{k: 2 * k for k in range(10) if k != 1}, 50: 500}),
    ),
    "replace_where": (
        None,
        lambda spark, t, **kw: t.replace_where(
            spark, F.col("k") < 3, _df(spark, 0, 2), **kw
        ),
        _want({k: 2 * k for k in range(10) if k != 2}),
    ),
    "commit_overwrite": (
        None,
        lambda spark, t, **kw: t.commit_overwrite(_df(spark, 100, 105), **kw),
        _want({k: 2 * k for k in range(100, 105)}),
    ),
    "merge": (
        None,
        lambda spark, t, **kw: t.merge(
            spark, lambda cur: cur.filter(F.col("k") > 4), **kw
        ),
        _want({k: 2 * k for k in range(5, 10)}),
    ),
    "commit_append": (
        None,
        lambda spark, t, **kw: t.commit_append(_df(spark, 10, 12), **kw),
        _want({k: 2 * k for k in range(12)}),
    ),
    "commit_append_txn": (
        None,
        lambda spark, t, **kw: t.commit_append(
            _df(spark, 10, 12), txn=("app", 1), **kw
        ),
        _want({k: 2 * k for k in range(12)}),
    ),
    "commit_append_partitioned": (
        None,
        lambda spark, t, **kw: t.commit_append_partitioned(
            _df(spark, 10, 13), "k", **kw
        ),
        _want({k: 2 * k for k in range(13)}),
    ),
    "optimize": (
        None,
        lambda spark, t, **kw: t.optimize(spark, **kw),
        _want(_BASE),
    ),
    "optimize_clustered": (
        None,
        lambda spark, t, **kw: t.optimize(
            spark, sort_key=["k"], target_groups=3, **kw
        ),
        _want(_BASE),
    ),
    "restore": (
        lambda spark, t: t.commit_append(_df(spark, 10, 12)),
        lambda spark, t, **kw: t.restore(0, **kw),
        _want(_BASE),
    ),
    "add_constraint": (
        None,
        lambda spark, t, **kw: t.add_constraint(
            spark, "v_nonneg", "v >= 0", **kw
        ),
        _want(_BASE, constraints={"v_nonneg": "v >= 0"}),
    ),
    "drop_constraint": (
        lambda spark, t: t.add_constraint(spark, "v_nonneg", "v >= 0"),
        lambda spark, t, **kw: t.drop_constraint("v_nonneg", **kw),
        _want(_BASE),
    ),
    "alter_rename_column": (
        None,
        lambda spark, t, **kw: t.alter_rename_column(spark, "v", "w", **kw),
        _want(_BASE, columns=("k", "w")),
    ),
    "alter_drop_column": (
        None,
        lambda spark, t, **kw: t.alter_drop_column(spark, "v", **kw),
        (["k"], {k: () for k in range(10)}, {}),
    ),
}


def _unreferenced_groups(t):
    """g-/dv- dirs that no commit ever published, and staging dirs
    (staged leftovers)."""
    import os

    referenced = set()
    for c in t.history():
        referenced.update(c.get("add", []))
        if c.get("dv"):
            referenced.add(c["dv"]["group"])
    return sorted(
        d
        for d in os.listdir(t.data_dir)
        if d.startswith(("g-", "dv-", ".part-", ".opt-"))
        and d not in referenced
    )


def _core_table(spark, tmp_path, setup):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    if setup is not None:
        setup(spark, t)
    return t


@pytest.mark.parametrize("verb", sorted(_CORE_VERBS))
def test_lost_race_commits_once_and_cleans_staged_groups(
    spark, tmp_path, monkeypatch, verb
):
    """Every writer on the commit core, losing ONE publish race, must
    retry, land exactly one commit, and leave no staged group behind."""
    setup, run, want = _CORE_VERBS[verb]
    t = _core_table(spark, tmp_path, setup)
    before = t.latest_version()
    orig = t._publish
    calls = {"n": 0}

    def lose_once(version, commit):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflict(f"version {version} already committed")
        return orig(version, commit)

    monkeypatch.setattr(t, "_publish", lose_once)
    assert run(spark, t) == before + 1
    assert calls["n"] == 2 and t.latest_version() == before + 1
    assert _end_state(spark, t) == want
    assert _unreferenced_groups(t) == []


@pytest.mark.parametrize("verb", sorted(_CORE_VERBS))
def test_exhausted_retries_clean_staged_groups(
    spark, tmp_path, monkeypatch, verb
):
    setup, run, _want = _CORE_VERBS[verb]
    t = _core_table(spark, tmp_path, setup)
    before = t.latest_version()

    def always_lose(version, commit):
        raise CommitConflict(f"version {version} already committed")

    monkeypatch.setattr(t, "_publish", always_lose)
    with pytest.raises(CommitConflict, match="lost 2 races"):
        run(spark, t, max_retries=2)
    assert t.latest_version() == before
    assert _unreferenced_groups(t) == []


def test_drop_constraint_losing_to_concurrent_drop_raises(
    spark, tmp_path, monkeypatch
):
    """A drop_constraint that loses its publish race to a concurrent
    drop of the SAME constraint re-checks at the advanced version and
    fails — the history holds exactly one drop."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    orig = t._publish
    fired = {"done": False}

    def racing(version, commit):
        if not fired["done"]:
            fired["done"] = True
            TxTable(t.root).drop_constraint("v_nonneg")
        return orig(version, commit)

    monkeypatch.setattr(t, "_publish", racing)
    with pytest.raises(ValueError, match="no constraint named"):
        t.drop_constraint("v_nonneg")
    ops = [c["op"] for c in t.history()]
    assert ops.count("drop_constraint") == 1
    assert t.constraints() == {}


def test_add_constraint_rejects_existing_violations(spark, tmp_path):
    from db_migration_spark.plans.txlog import ConstraintViolation

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(
        spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") - 1).alias("v")
        )
    )  # v contains -1
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t.add_constraint(spark, "v_nonneg", "v >= 0")
    assert t.constraints() == {}


def test_check_constraint_null_passes(spark, tmp_path):
    """SQL CHECK semantics: a NULL evaluation is NOT a violation."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 3))
    t.add_constraint(spark, "v_cap", "v < 100")
    nullv = spark.range(1).select(
        F.lit(50).alias("k"), F.lit(None).cast("long").alias("v")
    )
    t.commit_append(nullv)  # must not raise
    assert t.read(spark).count() == 4


def test_concurrent_delete_and_merge_serialize(spark, tmp_path):
    """A delete and a merge racing on the same table must serialize via
    the optimistic loop: whichever loses the version race recomputes
    against the winner's state — the end state equals SOME serial order
    of the two, and no masked row resurrects."""
    import threading

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 40))
    src = spark.range(30, 50).select(
        F.col("id").alias("k"), F.lit(777).alias("v")
    )
    errs = []

    def do_delete():
        try:
            t.delete_where(spark, F.col("k") < 10)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    def do_merge():
        try:
            t.merge_into(spark, src, "k")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    th = [threading.Thread(target=do_delete), threading.Thread(target=do_merge)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    got = {r.k: r.v for r in t.read(spark).collect()}
    # both serial orders agree on this outcome: k<10 gone, 30..49 = 777
    assert set(got) == set(range(10, 50))
    for k in range(30, 50):
        assert got[k] == 777
    for k in range(10, 30):
        assert got[k] == k * 2
    assert t.latest_version() == 2  # two DML commits, serialized


def test_stream_source_delete_commit_contract(spark, tmp_path):
    """The txlog streaming source must treat a deletion-vector commit as
    a non-append poison (error without ignoreChanges, skip with) — a
    DV silently ignored would leave deleted rows in the stream."""
    import os

    from db_migration_spark.sources import txlog_datasource

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.delete_where(spark, F.col("k") < 3)
    t.commit_append(_df(spark, 100, 105))
    txlog_datasource.register(spark)
    chk = str(tmp_path / "chk")

    def drain(ignore, name):
        q = (
            spark.readStream.format("txlog")
            .option("path", t.root)
            .option("ignoreChanges", str(ignore).lower())
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        from pyspark.errors import StreamingQueryException

        try:
            q.awaitTermination(120)
        except StreamingQueryException as exc:
            return exc
        if q.isActive:
            q.stop()
            raise TimeoutError("drain hung")
        return q.exception()

    exc = drain(False, "dv_poison_a")
    assert exc is not None and "non-append" in str(exc)
    import shutil as _sh

    _sh.rmtree(chk, ignore_errors=True)
    assert drain(True, "dv_poison_b") is None
    rows = spark.table("dv_poison_b").count()
    assert rows == 15  # both append commits; the DV commit is skipped


def test_stream_source_reads_renamed_column(spark, tmp_path):
    """After ALTER RENAME COLUMN every file still carries the column's
    PHYSICAL name; the txlog stream must read it from there under the
    new logical name (files before and after the rename), not
    null-fill it."""
    from db_migration_spark.sources import txlog_datasource

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, amount long")
    )
    t.alter_rename_column(spark, "amount", "amt")
    t.commit_append(spark.createDataFrame([(3, 30)], "k long, amt long"))
    want = [(1, 10), (2, 20), (3, 30)]
    assert sorted(tuple(r) for r in t.read(spark).collect()) == want
    txlog_datasource.register(spark)
    q = (
        spark.readStream.format("txlog")
        .option("path", t.root)
        .load()
        .writeStream.format("memory")
        .queryName("renamed_col")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("renamed_col").select("k", "amt").collect()
    assert sorted(tuple(r) for r in got) == want


# -- log-owned schema + ADD COLUMN evolution ---------------------------------


def test_schema_evolution_add_column(spark, tmp_path):
    """evolve=True appends new columns to the LOG schema; files written
    before the evolution backfill NULL; without evolve the extra column
    raises (schema-on-write)."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))
    wide = spark.range(5, 8).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("x").alias("tag"),
    )
    with pytest.raises(ValueError, match="unexpected"):
        t.commit_append(wide)
    t.commit_append(wide, evolve=True)
    out = t.read(spark)
    assert out.columns == ["k", "v", "tag"]
    rows = {r.k: r.tag for r in out.collect()}
    assert rows[0] is None and rows[6] == "x"  # NULL backfill
    # post-evolution appends lacking the new column raise (explicit
    # NULL literal required — schema-on-write stays strict)
    with pytest.raises(ValueError, match="missing"):
        t.commit_append(_df(spark, 100, 101))
    # time travel reads the OLD schema before the evolution commit
    old = t.read(spark, version=0)
    assert old.columns == ["k", "v"]


def test_schema_recorded_in_log(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 3))
    js = t.table_schema_json()
    assert [f["name"] for f in js["fields"]] == ["k", "v"]
    assert t.read_schema(spark).fieldNames() == ["k", "v"]


def test_stream_skips_metadata_commits_and_ignore_deletes(spark, tmp_path):
    """Constraint commits are metadata-only — a running stream must pass
    over them silently; ignoreDeletes skips DV commits but still
    poisons on a rewrite."""
    from pyspark.errors import StreamingQueryException

    from db_migration_spark.sources import txlog_datasource

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.add_constraint(spark, "v_ok", "v >= 0")     # metadata-only commit
    t.delete_where(spark, F.col("k") < 2)          # delete-only commit
    t.commit_append(_df(spark, 100, 105))
    txlog_datasource.register(spark)

    def drain(name, chk, **opts):
        r = spark.readStream.format("txlog").option("path", t.root)
        for k_, v_ in opts.items():
            r = r.option(k_, v_)
        q = (
            r.load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / chk))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        except StreamingQueryException as exc:
            return exc
        if q.isActive:
            q.stop()
            raise TimeoutError("drain hung")
        return q.exception()

    # without any option, the DELETE commit poisons — with ignoreDeletes
    # hint in the message
    exc = drain("md_a", "chk_a")
    assert exc is not None and "ignoreDeletes" in str(exc)
    # ignoreDeletes drains both appends; the constraint commit is silent
    assert drain("md_b", "chk_b", ignoreDeletes="true") is None
    assert spark.table("md_b").count() == 15
    # a rewrite still poisons under ignoreDeletes
    t.optimize(spark, target_groups=1)
    exc = drain("md_c", "chk_c", ignoreDeletes="true")
    assert exc is not None and "ignoreChanges" in str(exc)


def test_merge_into_txn_is_idempotent(spark, tmp_path):
    """A replayed (app, batch) merge is a no-op returning the original
    version — exactly-once CDC upsert for foreachBatch sinks."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    src = spark.range(5, 12).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    v1 = t.merge_into(spark, src, "k", txn=("cdc", 7))
    v_dup = t.merge_into(spark, src, "k", txn=("cdc", 7))
    assert v1 == v_dup == t.latest_version()
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 12  # not re-merged: no duplicate delta
    assert got[6] == 1 and got[2] == 4


def test_restore_to_version(spark, tmp_path):
    """RESTORE publishes a new commit equal to the target state: rows
    deleted after the target resurrect (post-target DVs retired), rows
    appended after it vanish, the rollback itself is time-travelable,
    and a subsequent append works on the restored schema."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 20))                    # v0
    t.delete_where(spark, F.col("k") < 5)                 # v1 (DV)
    t.commit_append(_df(spark, 100, 110))                 # v2
    v = t.restore(0)                                      # v3
    assert v == 3
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(20))
    # rollback is itself history: the pre-restore state still reads
    assert t.read(spark, version=2).count() == 25
    assert t._replay(2)[2] != [] and t._replay(3)[2] == []
    assert t.history()[-1]["op"] == "restore"
    # the table keeps working after the rollback
    t.commit_append(_df(spark, 500, 503))
    assert t.read(spark).count() == 23


def test_restore_keeps_target_dvs(spark, tmp_path):
    """A DV that was live AT the target stays applied after restore;
    only post-target DVs retire."""
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.delete_where(spark, F.col("k") == 0)   # v1 — in-target DV
    t.delete_where(spark, F.col("k") == 1)   # v2 — post-target DV
    t.restore(1)                             # v3
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == list(range(1, 10))         # k=0 still deleted, k=1 back
    with pytest.raises(ValueError):
        t.restore(99)


def test_constraint_committed_mid_append_still_gates(spark, tmp_path):
    """An append validated against the old constraint set must re-check
    when a constraint lands between its validation and its publish —
    otherwise the race admits violating rows under the new rule."""
    from db_migration_spark.plans.txlog import ConstraintViolation

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 5))
    bad = spark.range(1).select(
        F.lit(9).cast("long").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    orig = t._publish
    fired = {"done": False}

    def racing(version, commit):
        # inject the constraint AFTER the append validated, BEFORE its
        # first publish attempt — it wins the version race
        if commit["op"] == "append" and not fired["done"]:
            fired["done"] = True
            TxTable(t.root).add_constraint(spark, "v_nonneg", "v >= 0")
        return orig(version, commit)

    t._publish = racing
    try:
        with pytest.raises(ConstraintViolation):
            t.commit_append(bad)
    finally:
        t._publish = orig
    assert t.read(spark).filter(F.col("v") < 0).count() == 0


def test_describe_detail_and_history(spark, tmp_path):
    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 10))
    t.add_constraint(spark, "v_ok", "v >= 0")
    t.delete_where(spark, F.col("k") == 1)
    d = t.detail_df(spark).collect()[0]
    assert (d.version, d.n_groups, d.n_live_dvs, d.n_constraints) == (
        2, 1, 1, 1,
    )
    assert d.n_columns == 2
    h = {r.version: (r.op, r.n_added, r.has_dv) for r in
         t.history_df(spark).collect()}
    assert h[0] == ("append", 1, False)
    assert h[1] == ("set_constraint", 0, False)
    assert h[2] == ("delete", 0, True)


def test_concurrent_overlapping_updates_serialize(spark, tmp_path):
    """Two racing UPDATEs over the SAME rows must serialize: each loser
    recomputes against the winner's state, so the increments COMPOSE
    (the lost-update anomaly is the thing the optimistic loop exists to
    prevent)."""
    import threading

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(_df(spark, 0, 30))
    errs = []

    def bump(amount):
        try:
            t.update_where(
                spark, F.col("k") % 3 == 0, {"v": F.col("v") + amount}
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    th = [
        threading.Thread(target=bump, args=(1000,)),
        threading.Thread(target=bump, args=(200,)),
    ]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 30
    for k in range(30):
        expect = k * 2 + (1200 if k % 3 == 0 else 0)
        assert got[k] == expect, f"lost update at k={k}"
    assert t.latest_version() == 2


def test_export_manifest_and_refusals(spark, tmp_path):
    """Manifest export: consistent pinned file list; refuses live DVs
    and active column mapping (raw readers would be wrong)."""
    import pytest as _pytest

    from db_migration_spark.plans.txlog import TxTable

    t = TxTable(str(tmp_path / "t"))
    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit_append(df)
    t.commit_append(df.withColumn("k", F.col("k") + 100))
    man = str(tmp_path / "manifest.txt")
    files = t.export_manifest(man)
    assert len(files) == 2
    raw = spark.read.parquet(*files)
    assert raw.count() == t.read(spark).count() == 20
    # time-travel manifest pins the OLD file set
    files_v0 = t.export_manifest(str(tmp_path / "m0.txt"), version=0)
    assert len(files_v0) == 1
    assert spark.read.parquet(*files_v0).count() == 10

    # live DV -> refuse
    t.delete_where(spark, F.col("k") == 3)
    with _pytest.raises(ValueError, match="deletion vectors"):
        t.export_manifest(str(tmp_path / "m_dv.txt"))

    # column mapping -> refuse (fresh table, rename)
    t2 = TxTable(str(tmp_path / "t2"))
    t2.commit_append(df)
    t2.alter_rename_column(spark, "v", "val")
    with _pytest.raises(ValueError, match="column mapping"):
        t2.export_manifest(str(tmp_path / "m_cm.txt"))


def test_export_manifest_partitioned_table(spark, tmp_path):
    """Manifest export covers partitioned group layouts: the file list
    spans every partition's groups and raw reads reconstruct the table
    (partition columns are stored in-file, so raw readers see them)."""
    from db_migration_spark.plans.txlog import TxTable

    t = TxTable(str(tmp_path / "p"))
    df = spark.range(40).select(
        (F.col("id") % 4).cast("string").alias("tag"),
        F.col("id").alias("v"),
    )
    t.commit_append_partitioned(df, "tag")
    files = t.export_manifest(str(tmp_path / "m.txt"))
    assert len(files) >= 4  # at least one group per partition
    raw = spark.read.parquet(*files)
    assert raw.count() == 40
    got = {
        (r.tag, r.n) for r in raw.groupBy("tag").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == {("0", 10), ("1", 10), ("2", 10), ("3", 10)}
