"""Bloom-filter point-lookup sidecars (plans/txlog.py add_bloom_index /
prune_groups_point / read_point): the high-cardinality complement to
zone maps.  The fixtures interleave keys across groups so every group's
min/max covers the whole domain — zone maps keep everything, and only
the bloom can skip files."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from db_migration_spark.plans.txlog import TxTable

N_GROUPS = 4
KEYS_PER_GROUP = 500


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _build(spark, tmp_path):
    t = TxTable(str(tmp_path / "bt"))
    for g in range(N_GROUPS):
        # strided keys: group g holds {g, g+4, g+8, ...} — all ranges
        # overlap, so zone maps cannot tell the groups apart
        rows = [
            (g + i * N_GROUPS, f"g{g}") for i in range(KEYS_PER_GROUP)
        ]
        t.commit_append(_mk(spark, rows))
    return t


def test_bloom_prunes_interleaved_groups(spark, tmp_path):
    t = _build(spark, tmp_path)
    assert t.add_bloom_index(spark, "k") == N_GROUPS
    # zone maps alone keep everything (overlapping ranges)
    zone_kept, total = t.prune_groups("k", lo=5, hi=5)
    assert (len(zone_kept), total) == (N_GROUPS, N_GROUPS)
    # bloom keeps the owning group (false positives are possible but
    # bounded far below N_GROUPS at 10 bits/key)
    kept, total = t.prune_groups_point(spark, "k", 5)
    assert total == N_GROUPS and 1 <= len(kept) < N_GROUPS
    got = t.read_point(spark, "k", 5).collect()
    assert [(r.k, r.v) for r in got] == [(5, "g1")]


def test_bloom_absent_key_reads_empty(spark, tmp_path):
    t = _build(spark, tmp_path)
    t.add_bloom_index(spark, "k")
    assert t.read_point(spark, "k", 10_000_000).count() == 0


def test_unindexed_groups_never_wrongly_pruned(spark, tmp_path):
    t = _build(spark, tmp_path)
    t.add_bloom_index(spark, "k")
    # a new group WITHOUT a sidecar must always be kept
    t.commit_append(_mk(spark, [(999_999, "late")]))
    kept, total = t.prune_groups_point(spark, "k", 999_999)
    assert total == N_GROUPS + 1
    got = t.read_point(spark, "k", 999_999).collect()
    assert [(r.k, r.v) for r in got] == [(999_999, "late")]
    # indexing is incremental: only the new group is built
    assert t.add_bloom_index(spark, "k") == 1


def test_bloom_composes_with_deletion_vectors(spark, tmp_path):
    t = _build(spark, tmp_path)
    t.add_bloom_index(spark, "k")
    t.delete_where(spark, F.col("k") == 5)
    assert t.read_point(spark, "k", 5).count() == 0
    assert t.read_point(spark, "k", 9).count() == 1


def test_bloom_index_rejects_non_integer_column(spark, tmp_path):
    """Bloom sidecars index long/int columns only (the planner's
    numpy probe hasher reproduces xxhash64 for those widths alone): a
    string column is refused up front, naming the column and its type,
    and no sidecar is written."""
    t = _build(spark, tmp_path)
    with pytest.raises(ValueError, match=r"'v'.*string"):
        t.add_bloom_index(spark, "v")
    assert not any(
        f.startswith("_bloom_")
        for g in t.active_groups()
        for f in os.listdir(os.path.join(t.data_dir, g))
    )


def test_point_planning_launches_no_spark_jobs(spark, tmp_path):
    """Point planning is metadata only: ``prune_groups_point`` on a
    bloom-indexed int key starts ZERO Spark jobs (counted by the status
    tracker under a dedicated job group) and plans exactly what the
    batched ``prune_groups_points`` plans for the same single value."""
    t = _build(spark, tmp_path)
    t.add_bloom_index(spark, "k")
    t.commit_append(_mk(spark, [(999_999, "late")]))  # one unindexed group
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = "txlog-point-planning"
    bus.waitUntilEmpty()
    before = len(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        plans = {
            v: t.prune_groups_point(spark, "k", v)
            for v in (5, 6, 1003, 999_999, 10_000_000)
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup(group)) == before == 0
    for v, got in plans.items():
        assert got == t.prune_groups_points("k", [v])
    assert len(plans[5][0]) < N_GROUPS + 1  # the bloom did prune


def test_sidecar_invisible_to_scans_and_stats(spark, tmp_path):
    t = _build(spark, tmp_path)
    t.add_bloom_index(spark, "k")
    g = t.active_groups()[0]
    assert os.path.exists(
        os.path.join(t.data_dir, g, "_bloom_k.json")
    )
    # plain reads and aggregates are unaffected by the sidecar bytes
    assert t.read(spark).count() == N_GROUPS * KEYS_PER_GROUP


def test_driver_probe_hashes_match_jvm(spark):
    """The round-11 batched probe hashes sidecar lookups ON THE DRIVER
    (numpy) — it must be BIT-EXACT with the JVM expressions the sidecar
    builder used (``pmod(xxhash64(col, lit(j)), m)``), for both hashed
    widths, across the full signed domain, or pruning would silently
    drop real rows."""
    import random

    rnd = random.Random(11)
    k = 6
    for width, sql_t, lo, hi in (
        (64, "long", -(2**63), 2**63 - 1),
        (32, "int", -(2**31), 2**31 - 1),
    ):
        vals = sorted(
            {0, 1, -1, 42, lo, hi}
            | {rnd.randint(lo, hi) for _ in range(200)}
        )
        jvm = (
            spark.createDataFrame([(v,) for v in vals], f"v {sql_t}")
            .select(
                "v",
                *[
                    F.xxhash64(F.col("v"), F.lit(j)).alias(f"h{j}")
                    for j in range(k)
                ],
            )
            .collect()
        )
        got = TxTable._bloom_probe_hashes(vals, k, width)
        by_val = {r.v: [int(r[f"h{j}"]) for j in range(k)] for r in jvm}
        for i, v in enumerate(vals):
            assert [int(got[j][i]) for j in range(k)] == by_val[v], (
                width,
                v,
            )


def test_points_bloom_prunes_scrambled_layout_losslessly(spark, tmp_path):
    """prune_groups_points composes bloom sidecars with zone maps: on
    the strided fixture (every group's [min,max] covers the domain, so
    zone maps keep all), the batched probe keeps every OWNING group (no
    false negative — content-checked) and physically prunes
    non-owners."""
    t = _build(spark, tmp_path)
    t.add_bloom_index(spark, "k", bits_per_key=32, k=22)
    probes = [5, 6, 1003]  # owners: groups 1, 2, 3 (k mod 4)
    zone_kept, _ = t.prune_groups("k", lo=min(probes), hi=max(probes))
    assert len(zone_kept) == N_GROUPS  # zone maps alone can't skip
    kept, total = t.prune_groups_points("k", probes)
    assert total == N_GROUPS and 1 <= len(kept) < N_GROUPS
    got = (
        t.read_groups(spark, kept)
        .filter(F.col("k").isin(probes))
        .collect()
    )
    assert sorted((r.k, r.v) for r in got) == [
        (5, "g1"),
        (6, "g2"),
        (1003, "g3"),
    ]
    # non-int probe sets skip the bloom path (no sidecar for v either)
    # and stay lossless through the zone maps
    kept2, _ = t.prune_groups_points("v", ["g1"])
    assert (
        t.read_groups(spark, kept2).filter(F.col("v") == "g1").count()
        == KEYS_PER_GROUP
    )


def test_optimize_cluster_map_preserves_rows_and_localizes(spark, tmp_path):
    """OPTIMIZE with an external cluster_map is a logical no-op (row
    multiset byte-identical) whose LAYOUT follows the mapped key: after
    clustering an id-scattered table by its semantic cluster id, a
    whole semantic cluster's ids — maximally spread in id space —
    point-plan to one group (bloom membership; the id zone maps are
    deliberately useless here)."""
    t = TxTable(str(tmp_path / "cm"))
    df = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 7).alias("payload"),
    )
    t.commit_append(df)
    before = sorted(
        (r.vec_id, r.payload) for r in t.read(spark).collect()
    )
    amap = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 10).alias("__ckey"),  # semantic cluster, id-scattered
    )
    t.optimize(
        spark,
        sort_key=["vec_id"],
        target_groups=10,
        cluster_map=(amap, "vec_id"),
    )
    after = sorted(
        (r.vec_id, r.payload) for r in t.read(spark).collect()
    )
    assert after == before
    assert "__ckey" not in t.read(spark).columns
    t.add_bloom_index(spark, "vec_id", bits_per_key=32, k=22)
    probes = list(range(3, 1000, 10))  # all 100 members of cluster 3
    kept, total = t.prune_groups_points("vec_id", probes)
    assert total == 10 and len(kept) <= 2
    got = (
        t.read_groups(spark, kept)
        .filter(F.col("vec_id").isin(probes))
        .count()
    )
    assert got == 100  # lossless


def test_batched_build_with_evolved_and_renamed_groups(spark, tmp_path):
    """Round-6 batched builder: groups written BEFORE an evolve lack the
    indexed column physically (null-filled at scan — only deterministic
    null-hash bits get set), and a renamed logical column indexes under
    its stable physical name.  One call builds every group; lookups stay
    exact on live rows."""
    from db_migration_spark.plans.txlog import TxTable

    t = TxTable(str(tmp_path / "t"))
    t.commit_append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.commit_append(
        spark.createDataFrame(
            [(2, "b", 20), (3, "c", 30)], "k long, v string, ev long"
        ),
        evolve=True,
    )
    for i in range(4, 10):
        t.commit_append(
            spark.createDataFrame(
                [(i, f"x{i}", i * 10)], "k long, v string, ev long"
            )
        )
    t.alter_rename_column(spark, "ev", "event_id")
    built = t.add_bloom_index(spark, "event_id")
    assert built == len(t.active_groups())
    # the group predating the evolve cannot hold event_id=50 and the
    # bloom planner must keep exactly the real group (plus any false
    # positives — assert content, then that pruning actually fired)
    got = t.read_point(spark, "event_id", 50).collect()
    assert [(r.k, r.event_id) for r in got] == [(4 + 1, 50)]
    kept, total = t.prune_groups_point(spark, "event_id", 50)
    assert total == len(t.active_groups())
    assert len(kept) < total, "bloom pruned nothing across 8 groups"
    # incremental: a second call is a no-op, and a fresh group builds solo
    assert t.add_bloom_index(spark, "event_id") == 0
