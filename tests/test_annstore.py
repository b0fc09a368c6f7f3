"""Persisted graph-ANN store + incremental adjacency MV (queries_annstore)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from db_migration_spark.catalog import load_table
from db_migration_spark.operators.similarity import (
    NSW_M,
    _score_pairs,
    _symmetrize,
    nsw_beam_search,
)
from db_migration_spark.plans.txlog import TxTable
from db_migration_spark.queries_annstore import (
    ensure_nsw_graph_store,
    q_ann_nsw_store_topk,
    store_beam_search,
)

SF = "/root/testdata/sf0.001"


def test_prune_groups_points_plans_subset_and_loses_nothing(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl"))
    t.commit_append(
        spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        )
    )
    t.optimize(spark, sort_key=["k"], target_groups=8)
    picked, total = t.prune_groups_points("k", [3, 4, 998])
    assert total == 8
    # two probe clusters at opposite ends of a sorted layout → at most
    # 2 groups planned, strictly fewer than live
    assert 0 < len(picked) <= 2 < total
    got = (
        t.read_groups(spark, picked)
        .filter(F.col("k").isin([3, 4, 998]))
        .count()
    )
    assert got == 3  # planning never loses a probed row


def test_prune_groups_points_keeps_statless_groups(spark, tmp_path):
    t = TxTable(str(tmp_path / "tbl2"))
    t.commit_append(
        spark.range(0, 10).select(F.col("id").alias("k"))
    )
    picked, total = t.prune_groups_points("k", [99999])
    # the single group's [0,9] range excludes the probe → pruned empty
    assert picked == [] and total == 1


def test_store_beam_equals_plain_beam_over_same_edges(spark):
    t = ensure_nsw_graph_store(spark, SF)
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    plain = nsw_beam_search(
        emb, t.read(spark).localCheckpoint(eager=False), q
    )
    stored, scanned, scannable = store_beam_search(spark, t, emb, q)
    assert scanned <= scannable
    a = {tuple(r) for r in plain.select("query_id", "node", "rel").collect()}
    b = {tuple(r) for r in stored.select("query_id", "node", "rel").collect()}
    assert a == b  # store-served hops change I/O, never the answer


def test_store_topk_prunes_and_recalls(spark):
    row = q_ann_nsw_store_topk(spark, SF).collect()[0]
    assert row.recall_ok and row.pruned
    assert row.n_queries == 8 and row.n_exact == 80


def _topm(df: DataFrame, m: int) -> DataFrame:
    w = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= m)
        .select("src", "dst", "dot")
    )


@pytest.mark.parametrize("n_batches", [2, 3])
def test_incremental_topm_fold_equals_batch(spark, n_batches):
    """The mergeable-summary property the stream MV stands on: folding
    per-batch candidate pairs (≥1 endpoint in the batch) through a
    running per-src top-M equals the one-shot top-M over all pairs."""
    emb = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 60)
        .localCheckpoint(eager=False)
    )
    all_pairs = (
        emb.select(F.col("vec_id").alias("src"))
        .crossJoin(emb.select(F.col("vec_id").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    want = {
        tuple(r)
        for r in _topm(_score_pairs(emb, all_pairs), NSW_M).collect()
    }
    acc = None
    seen = None
    for i in range(n_batches):
        b = emb.filter(F.col("vec_id") % n_batches == i)
        allv = b if seen is None else seen.unionByName(b)
        pairs = b.select(F.col("vec_id").alias("src")).crossJoin(
            allv.select(F.col("vec_id").alias("dst"))
        )
        if seen is not None:
            pairs = pairs.unionByName(
                seen.select(F.col("vec_id").alias("src")).crossJoin(
                    b.select(F.col("vec_id").alias("dst"))
                )
            )
        pairs = pairs.filter(F.col("src") != F.col("dst"))
        scored = _score_pairs(allv, pairs)
        base = (
            scored
            if acc is None
            else acc.unionByName(scored).dropDuplicates(["src", "dst"])
        )
        acc = _topm(base, NSW_M).localCheckpoint(eager=False)
        seen = allv.localCheckpoint(eager=False)
    got = {tuple(r) for r in acc.collect()}
    assert got == want


def test_stream_nsw_mv_gate_destroys_poisoned_fixture(spark, monkeypatch):
    """If the exactness gate ever fires, the fixture must be gone —
    simulate by corrupting the drained store and re-running the gate
    logic the ensure applies."""
    from db_migration_spark import queries_annstore as A
    from db_migration_spark.queries_e2e import _fx

    kt = A._ensure_stream_nsw_mv(spark, SF)
    root = _fx(SF, "txlog_stream_nsw_mv")
    assert os.path.exists(os.path.join(root, "_BUILD_DONE"))
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    # sanity: the primed store serves the exact symmetrized batch graph
    from db_migration_spark.operators.similarity import nsw_build_edges

    sym = _symmetrize(kt.read(spark).select("src", "dst"))
    assert sym.exceptAll(nsw_build_edges(emb)).count() == 0
    assert nsw_build_edges(emb).exceptAll(sym).count() == 0


def test_ivfpq_store_serves_with_pruning(spark):
    from db_migration_spark.queries_annstore import q_ann_ivfpq_store_topk

    row = q_ann_ivfpq_store_topk(spark, SF).collect()[0]
    assert row.recall_ok and row.pruned
    assert row.n_queries == 4 and row.n_exact == 40


def test_stream_nsw_descent_mv_bounded_and_recalls(spark):
    """The scale-safe maintenance tier: gate row all-true at sf0.001,
    and the maintenance-stats sidecar proves every post-bootstrap
    batch stayed within the corpus-independent per-vector candidate
    budget — the property the exact tier (batch x corpus) lacks."""
    import json

    from db_migration_spark.queries_annstore import (
        _DESCENT_MV_BUDGET,
        _ensure_stream_nsw_descent_mv,
        q_stream_nsw_descent_mv,
    )

    row = q_stream_nsw_descent_mv(spark, SF).collect()[0]
    assert row.recall_ok and row.bounded
    assert row.n_queries == 8 and row.n_exact == 80
    _kt, stats_path = _ensure_stream_nsw_descent_mv(spark, SF)
    stats = [json.loads(line) for line in open(stats_path)]
    batch_rows = [s for s in stats if "repair" not in s]
    repair_rows = [s for s in stats if "repair" in s]
    # one row per streamed slice (replay no-op'd) + the post-drain
    # repair round the ensure runs
    assert len(batch_rows) == 4 and len(repair_rows) == 1
    for s in batch_rows:
        if s["n_corpus"] > 0:
            assert s["candidates"] <= s["n_batch"] * _DESCENT_MV_BUDGET
    # the exact tier's cost at the same batches, for contrast: its
    # candidate count is n_batch * n_corpus + n_corpus * n_batch-ish;
    # the descent tier's budget is independent of n_corpus entirely;
    # the repair round is LINEAR in the corpus (≤ D·(D+1) per node)
    from db_migration_spark.queries_annstore import (
        _DESCENT_MV_REPAIR_BUDGET,
    )

    for s in repair_rows:
        assert (
            s["candidates"] <= s["n_corpus"] * _DESCENT_MV_REPAIR_BUDGET
        )
    assert all("n_corpus" in s for s in stats)


def test_descent_mv_repair_improves_and_noops_on_replay(spark, tmp_path):
    """The full-graph repair round: (a) per-src edge quality (sum of
    kept dots) weakly improves — the fold is top-M over old ∪ newly
    scored candidates, so a src can never end worse; (b) the scoring
    volume stays within the LINEAR budget; (c) repair txn identity is
    the adjacency version the round read, so a crash-replay of an
    already-landed round no-ops (apply_cdc txn dedup) while a LATER
    scheduled repair gets a fresh txn and still improves."""
    import json

    from db_migration_spark.queries_annstore import (
        _DESCENT_MV_REPAIR_BUDGET,
        descent_mv_refresh,
        descent_mv_repair,
    )

    root = str(tmp_path / "repair")
    vec_root, knn_root = root + "/vec", root + "/knn"
    stats_path = root + "/stats.jsonl"
    os.makedirs(root, exist_ok=True)
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    # two incremental batches → a graph with touch-only staleness
    for i, pred in enumerate(
        [F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1]
    ):
        descent_mv_refresh(
            spark, vec_root, knn_root, stats_path, emb.filter(pred), i
        )
    kt = TxTable(knn_root)
    before = (
        kt.read(spark)
        .groupBy("src")
        .agg(F.sum("dot").alias("s"))
        .collect()
    )
    v_before = kt.latest_version()
    descent_mv_repair(spark, vec_root, knn_root, stats_path)
    assert kt.latest_version() > v_before
    after = {
        r["src"]: r["s"]
        for r in kt.read(spark)
        .groupBy("src")
        .agg(F.sum("dot").alias("s"))
        .collect()
    }
    for r in before:
        assert after[r["src"]] >= r["s"]  # top-M over a superset
    repair_rows = [
        json.loads(line)
        for line in open(stats_path)
        if "repair" in json.loads(line)
    ]
    assert len(repair_rows) == 1
    s = repair_rows[0]
    assert s["candidates"] <= s["n_corpus"] * _DESCENT_MV_REPAIR_BUDGET
    # crash-replay: re-committing under the txn id round 1 used (the
    # pre-repair version) must no-op — the landed txn dedupes it
    v_repaired = kt.latest_version()
    poison = (
        kt.read(spark)
        .limit(1)
        .select("src", "dst", "dot")
        .withColumn("op", F.lit("delete"))
    )
    kt.apply_cdc(spark, poison, ["src", "dst"], txn=("nswd_repair", v_before))
    assert kt.latest_version() == v_repaired
    # a LATER scheduled repair reads a new version → fresh txn: it may
    # commit converging refinements but can never regress quality and
    # stays within the linear budget
    descent_mv_repair(spark, vec_root, knn_root, stats_path)
    after2 = {
        r["src"]: r["s"]
        for r in kt.read(spark)
        .groupBy("src")
        .agg(F.sum("dot").alias("s"))
        .collect()
    }
    for src, sdot in after.items():
        assert after2[src] >= sdot
    for line in open(stats_path):
        s2 = json.loads(line)
        if "repair" in s2:
            assert (
                s2["candidates"]
                <= s2["n_corpus"] * _DESCENT_MV_REPAIR_BUDGET
            )


def test_ivfpq_hirecall_setting(spark):
    """The documented high-recall probe setting (14/16 probes, 300-deep
    exact re-rank, Lloyd-refined books) clears the 0.9 recall gate."""
    from db_migration_spark.queries_annstore import (
        q_ann_ivfpq_hirecall_topk,
    )

    row = q_ann_ivfpq_hirecall_topk(spark, SF).collect()[0]
    assert row.recall_ok
    assert row.n_queries == 8 and row.n_exact == 80


def test_stream_ivfpq_equals_batch_encode(spark):
    """The frozen-quantizer property the streaming tier stands on: the
    drained stream's code store row-equals a one-shot batch encode
    (the ensure itself gates this; re-assert from the primed store)."""
    from pyspark.sql import functions as F

    from db_migration_spark.catalog import load_table
    from db_migration_spark.operators import similarity
    from db_migration_spark.queries_annstore import (
        _IVFPQ_CODES,
        _IVFPQ_LISTS,
        _IVFPQ_SUB,
        _N_SLICES,
        _ensure_stream_ivfpq_mv,
    )

    t, books_path = _ensure_stream_ivfpq_mv(spark, SF)
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    boot = emb.filter(F.col("vec_id") % _N_SLICES == 0)
    books = spark.read.parquet(books_path)
    cents = similarity.deterministic_centroids(boot, _IVFPQ_LISTS)
    batch = (
        similarity.pq_encode(emb, books, n_sub=_IVFPQ_SUB)
        .join(similarity.ivf_assign(emb, cents).select("vec_id", "list_id"), "vec_id")
        .select("list_id", "vec_id", "codes")
    )
    stored = t.read(spark).select("list_id", "vec_id", "codes")
    assert stored.exceptAll(batch).count() == 0
    assert batch.exceptAll(stored).count() == 0
    # and the streamed layout keeps per-list file groups (one group per
    # (batch, list) — a probe plans only its lists' groups at any
    # batch count)
    n_lists = stored.select("list_id").distinct().count()
    assert len(t.active_groups()) >= n_lists
    picked, total = t.prune_groups_points("list_id", [0])
    assert 0 < len(picked) < total


def test_apply_cdc_triad_and_idempotence(spark, tmp_path):
    """apply_cdc = MERGE with all three arms: matched-update,
    matched-delete, not-matched-insert — one atomic commit, replay
    no-op on txn identity, and a provable-no-op batch still records
    its identity (the cursor contract)."""
    t = TxTable(str(tmp_path / "cdc"))
    t.commit_append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        )
    )
    ch = spark.createDataFrame(
        [(2, "B", "upsert"), (3, None, "delete"), (4, "d", "upsert")],
        "k long, v string, op string",
    )
    v = t.apply_cdc(spark, ch, ["k"], txn=("cdc", 0))
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a"),
        (2, "B"),
        (4, "d"),
    ]
    assert t.apply_cdc(spark, ch, ["k"], txn=("cdc", 0)) == v  # replay
    assert t.latest_version() == v
    v2 = t.apply_cdc(spark, ch.filter("k < 0"), ["k"], txn=("cdc", 1))
    assert v2 == t.txn_version("cdc", 1)  # empty batch advances cursor
    import pytest as _pt

    with _pt.raises(ValueError):
        t.apply_cdc(
            spark,
            spark.createDataFrame([(1, "x", "nope")], "k long, v string, op string"),
            ["k"],
        )
    with _pt.raises(ValueError):
        t.apply_cdc(
            spark,
            spark.createDataFrame(
                [(1, "x", "upsert"), (1, "y", "delete")],
                "k long, v string, op string",
            ),
            ["k"],
        )


# ---------------------------------------------------------------------------
# round-10: store-pruned descent-MV maintenance/serving internals
# ---------------------------------------------------------------------------


def test_column_range_metadata_only(spark, tmp_path):
    t = TxTable(str(tmp_path / "cr"))
    t.commit_append(
        spark.range(10, 500).select(F.col("id").alias("k"))
    )
    t.commit_append(
        spark.range(700, 900).select(F.col("id").alias("k"))
    )
    assert t.column_range("k") == (10, 899)


def test_pruned_sym_out_edges_equals_full_symmetrize(spark, tmp_path):
    """The pruned per-hop adjacency read (src/dst zone-map point plans
    + per-src cap) is row-for-row the full-table symmetrize + cap
    restricted to the frontier — pruning changes I/O, never edges."""
    from db_migration_spark.queries_annstore import (
        _DESCENT_MV_DEGREE,
        _pruned_sym_out_edges,
    )

    t = TxTable(str(tmp_path / "adj"))
    # deterministic pseudo-random sparse digraph with symmetric dots
    e = (
        spark.range(0, 400)
        .select(
            (F.col("id") % 80).alias("src"),
            F.pmod(F.xxhash64("id"), F.lit(80)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .withColumn(
            "dot",
            F.pmod(
                F.xxhash64(
                    F.least("src", "dst"), F.greatest("src", "dst")
                ),
                F.lit(1000),
            ),
        )
    )
    t.commit_append(e)
    t.optimize(spark, sort_key=["src"], target_groups=6)
    frontier = [1, 7, 42, 79]
    got = {
        tuple(r)
        for r in _pruned_sym_out_edges(
            spark, t, frontier, cap=_DESCENT_MV_DEGREE
        ).collect()
    }
    full = t.read(spark)
    sym = full.unionByName(
        full.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "dot"
        )
    ).dropDuplicates(["src", "dst"])
    w = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
    want = {
        tuple(r)
        for r in sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DESCENT_MV_DEGREE)
        .select("src", "dst")
        .filter(F.col("src").isin(frontier))
        .collect()
    }
    assert got == want


def test_pruned_sym_out_edges_lossless_under_semantic_clustering(
    spark, tmp_path
):
    """Round 11: after OPTIMIZE with an EXTERNAL cluster key (the ids'
    semantic cluster — deliberately uncorrelated with id order, so the
    id zone maps go maximally wide) plus batched-probe bloom sidecars,
    the pruned per-hop read returns the identical edge set AND
    physically skips groups where the id zone maps alone could not."""
    from db_migration_spark.queries_annstore import (
        _DESCENT_MV_DEGREE,
        _pruned_sym_out_edges,
    )

    t = TxTable(str(tmp_path / "adj2"))
    # a kNN-shaped graph: each node's neighbors are SAME-CLUSTER nodes
    # (cluster = id mod 8 — id-scattered), like a real descent graph
    # over clustered embeddings; plus one cross-cluster hub edge per
    # node so the dst side is not artificially pure
    ks = F.explode(F.array(*[F.lit(k) for k in range(1, 6)])).alias("k")
    e = (
        spark.range(0, 80)
        .select(F.col("id").alias("src"), ks)
        .select(
            "src",
            F.when(
                F.col("k") < 5, F.pmod(F.col("src") + 8 * F.col("k"), F.lit(80))
            )
            .otherwise(F.pmod(F.xxhash64("src"), F.lit(3)))
            .alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .withColumn(
            "dot",
            F.pmod(
                F.xxhash64(
                    F.least("src", "dst"), F.greatest("src", "dst")
                ),
                F.lit(1000),
            ),
        )
    )
    t.commit_append(e)
    # semantic cluster = id mod 8 — every cluster's ids span the whole
    # id range (the r10 adversarial layout)
    amap = spark.range(80).select(
        F.col("id").alias("src"), (F.col("id") % 8).alias("__ckey")
    )
    t.optimize(
        spark,
        sort_key=["src", "dst"],
        target_groups=8,
        cluster_map=(amap, "src"),
    )
    t.add_bloom_index(spark, "src", bits_per_key=32, k=22)
    t.add_bloom_index(spark, "dst", bits_per_key=32, k=22)
    # a frontier that is ONE semantic cluster: ids 3, 11, 19, ... — the
    # worst case for id zone maps, the best case for the semantic layout
    frontier = [3 + 8 * i for i in range(10)]
    io = {"groups_read": 0, "groups_total": 0}
    got = {
        tuple(r)
        for r in _pruned_sym_out_edges(
            spark, t, frontier, cap=_DESCENT_MV_DEGREE, io=io
        ).collect()
    }
    full = t.read(spark)
    sym = full.unionByName(
        full.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "dot"
        )
    ).dropDuplicates(["src", "dst"])
    w = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
    want = {
        tuple(r)
        for r in sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DESCENT_MV_DEGREE)
        .select("src", "dst")
        .filter(F.col("src").isin(frontier))
        .collect()
    }
    assert got == want
    # the id zone maps are wide (every group spans ~the id domain), so
    # skipping here proves the bloom+semantic layout did the work.
    # src-side: 1 owning group; dst-side: the frontier's in-neighbors
    # scatter, but membership still skips some groups
    assert io["groups_read"] < io["groups_total"]


def test_pruned_beam_matches_plain_beam(spark):
    """The 2-jobs-per-hop maintenance beam (round 11) is semantics-
    identical to operators.similarity.nsw_beam_search over the same
    capped-symmetrized adjacency ∪ persisted tunnels — candidate sets,
    scores, and tie-breaks bit for bit."""
    from db_migration_spark.operators.similarity import (
        NSW_H,
        NSW_W,
        nsw_beam_search,
    )
    from db_migration_spark.queries_annstore import (
        _DESCENT_MV_DEGREE,
        _ensure_stream_nsw_descent_mv,
        _pruned_beam_search,
    )

    kt, _stats = _ensure_stream_nsw_descent_mv(spark, SF)
    base = os.path.dirname(kt.root)
    vt = TxTable(os.path.join(base, "vectors"))
    lt = TxTable(os.path.join(base, "lr"))
    allv = vt.read(spark).select("vec_id", "embedding")
    q = allv.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    entries = q.select("query_id").crossJoin(
        spark.createDataFrame([(11,), (23,)], "node bigint")
    )
    counts_pruned: list[int] = []
    pruned = {
        tuple(r)
        for r in _pruned_beam_search(
            spark,
            kt,
            lt,
            vt,
            q,
            entries,
            hops=NSW_H,
            width=NSW_W,
            cap=_DESCENT_MV_DEGREE,
            on_candidates=counts_pruned.append,
        ).collect()
    }
    full = kt.read(spark).select("src", "dst", "dot")
    sym = full.unionByName(
        full.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "dot"
        )
    ).dropDuplicates(["src", "dst"])
    w = Window.partitionBy("src").orderBy(F.desc("dot"), "dst")
    capped = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DESCENT_MV_DEGREE)
        .select("src", "dst")
    )
    edges = capped.unionByName(
        lt.read(spark).select("src", "dst")
    ).dropDuplicates(["src", "dst"])
    counts_plain: list[int] = []
    plain = {
        tuple(r)
        for r in nsw_beam_search(
            allv,
            edges,
            q,
            entry=entries,
            hops=NSW_H,
            width=NSW_W,
            on_candidates=lambda c: counts_plain.append(c.count()),
        ).collect()
    }
    assert pruned == plain
    # the stats the bounded gate reads must be the identical numbers
    assert counts_pruned == counts_plain


def test_descent_lr_links_match_longrange_formula(spark):
    """Per-batch persisted tunnels over ALL ids with the final corpus
    size reproduce nsw_longrange_edges exactly — same md5 formula,
    same symmetrization, so the incremental table converges to the
    map-pass graph it replaced when batches cover the corpus."""
    from db_migration_spark.operators.similarity import (
        nsw_longrange_edges,
    )
    from db_migration_spark.queries_annstore import _descent_lr_links

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    a = {
        tuple(r)
        for r in _descent_lr_links(emb.select("vec_id"), n).collect()
    }
    b = {tuple(r) for r in nsw_longrange_edges(emb).collect()}
    assert a == b


def test_descent_mv_bootstrap_crash_replay_heals(spark, tmp_path):
    """r9 ADVICE #1: batch 0 commits knn before vectors; a crash
    between the two commits used to wedge recovery (redelivery saw
    k_before >= 0 with an empty vectors table and dereferenced None).
    The bootstrap branch now re-enters on an empty corpus: the knn
    commit txn-no-ops, the vector append lands."""
    from db_migration_spark.queries_annstore import descent_mv_refresh

    root = str(tmp_path / "crash")
    vec_root, knn_root = root + "/vec", root + "/knn"
    stats_path = root + "/stats.jsonl"
    os.makedirs(root, exist_ok=True)
    b0 = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 40)
    )
    # simulate the partial batch 0: knn landed, vectors did not
    kt = TxTable(knn_root)
    kt.commit_append(
        b0.limit(1).select(
            F.col("vec_id").alias("src"),
            (F.col("vec_id") + 1).alias("dst"),
            F.lit(0).cast("long").alias("dot"),
        ),
        txn=("nswd_knn", 0),
    )
    k_v = kt.latest_version()
    # redelivery of batch 0 must not raise and must land the vectors
    descent_mv_refresh(spark, vec_root, knn_root, stats_path, b0, 0)
    assert kt.latest_version() == k_v  # txn no-op
    assert TxTable(vec_root).count_rows(spark) == b0.count()


def test_descent_mv_recluster_noops_on_empty_corpus(spark, tmp_path):
    """With zero live vectors there are no IVF seeds: the recluster
    returns without a commit instead of indexing an empty seed chain."""
    from db_migration_spark.queries_annstore import (
        descent_mv_recluster,
        descent_mv_refresh,
    )

    root = str(tmp_path / "empty")
    vec_root, knn_root = root + "/vec", root + "/knn"
    os.makedirs(root, exist_ok=True)
    b0 = (
        load_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 40)
    )
    descent_mv_refresh(spark, vec_root, knn_root, root + "/stats.jsonl", b0, 0)
    vt, kt = TxTable(vec_root), TxTable(knn_root)
    vt.delete_where(spark, F.lit(True))
    assert vt.count_rows(spark) == 0
    before = (vt.latest_version(), kt.latest_version())
    descent_mv_recluster(spark, vec_root, knn_root, root + "/lr")
    assert (vt.latest_version(), kt.latest_version()) == before
    assert TxTable(root + "/reps").latest_version() == -1


def test_descent_serve_paths_agree(spark):
    """The size-gated serve planner never changes the answer: the
    zone-map-pruned hop loop and the in-memory lazy plan serve the
    SAME persisted graph (adjacency ∪ tunnel table) and must produce
    the identical final beam, hop for hop."""
    from db_migration_spark.operators.similarity import (
        NSW_H,
        NSW_W,
        nsw_beam_search,
    )
    from db_migration_spark.queries_annstore import (
        _ensure_stream_nsw_descent_mv,
        _pruned_beam_search_local,
    )

    kt, _stats = _ensure_stream_nsw_descent_mv(spark, SF)
    base = os.path.dirname(kt.root)
    vt = TxTable(os.path.join(base, "vectors"))
    lt = TxTable(os.path.join(base, "lr"))
    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    n = vt.count_rows(spark)
    hops = max(NSW_H, n.bit_length() - 7)
    width = max(NSW_W, 2 * n.bit_length())
    lo, _hi = vt.column_range("vec_id")
    from db_migration_spark.queries_annstore import _serve_entries

    rt = TxTable(os.path.join(base, "reps"))
    entries = _serve_entries(
        spark, vt, q, int(lo), int(_hi) - int(lo) + 1, n, rt=rt
    )
    # the fixture store is post-recluster, so entries must come from
    # the persisted representatives (plus the global-min anchor)
    assert rt.latest_version() >= 0
    assert {(qid, int(lo)) for qid in range(4)} <= set(entries)
    pruned = {
        (r.query_id, r.node, r.rel)
        for r in _pruned_beam_search_local(
            spark, kt, lt, vt, q, entries, hops=hops, width=width
        )
    }
    edges = (
        _symmetrize(kt.read(spark).select("src", "dst"))
        .unionByName(lt.read(spark).select("src", "dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    entry = spark.createDataFrame(entries, "query_id long, node bigint")
    plain = {
        (r.query_id, r.node, r.rel)
        for r in nsw_beam_search(
            emb, edges, q, entry=entry, hops=hops, width=width
        ).collect()
    }
    assert pruned == plain
    # the single-entry form (int) must keep working for callers that
    # route through a global entry node
    single = _pruned_beam_search_local(
        spark, kt, lt, vt, q, int(lo), hops=1, width=width
    )
    assert len(single) > 0
